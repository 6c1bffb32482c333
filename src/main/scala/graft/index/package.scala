package graft

package object index {

  /** Most literals a pushed `In(column, ...)` filter carries. A lookup of
    * more keys takes a semi-join instead: a predicate tree that large
    * makes Parquet row-group statistics evaluation itself the
    * bottleneck. It bounds the engine's doc-text lookup and the upsert
    * key probe ([[Generations.docIdsForKeys]]).
    */
  val MaxInLiterals: Int = 1000

  /** The serving engine over a generations root: the one
    * [[graft.query.QueryEngine]], which reads a single index and a set
    * of generations alike. Kept as a name for existing callers.
    */
  type MultiGenEngine = graft.query.QueryEngine
}
