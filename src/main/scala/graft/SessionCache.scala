package graft

import org.apache.spark.sql.SparkSession

/** Instances cached per (SparkSession, root), keyed on the session
  * OBJECT: `System.identityHashCode` is not unique, so a hash key could
  * hand one session's instance to another. The session side is a weak
  * map, so an unreachable session's entries can go. A cached serving
  * engine holds its session, which keeps that key reachable, so every
  * access also drops the entries of sessions whose SparkContext has
  * stopped. Access is synchronized: an instance is built at most once
  * per key.
  */
private[graft] final class SessionCache[V] {
  private val bySession =
    new java.util.WeakHashMap[SparkSession, scala.collection.mutable.Map[String, V]]()

  def getOrElseUpdate(spark: SparkSession, root: String)(make: => V): V = synchronized {
    bySession.keySet.removeIf(_.sparkContext.isStopped)
    bySession.computeIfAbsent(spark, _ => scala.collection.mutable.HashMap.empty[String, V])
      .getOrElseUpdate(root, make)
  }
}
