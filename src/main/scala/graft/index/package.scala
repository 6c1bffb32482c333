package graft

package object index {

  /** The serving engine over a generations root: the one
    * [[graft.query.QueryEngine]], which reads a single index and a set
    * of generations alike. Kept as a name for existing callers.
    */
  type MultiGenEngine = graft.query.QueryEngine
}
