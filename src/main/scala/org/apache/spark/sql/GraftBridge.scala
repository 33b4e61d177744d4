package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into Spark's package-private Expression↔Column conversion
  * (org.apache.spark.sql.classic.ExpressionUtils) so graft's native
  * Catalyst expressions can be exposed as user-facing Columns.
  */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The classic session's `private[sql]` UUID — a collision-free
    * session identity for graft's per-session artifact caches (the
    * identity hashCode previously used can collide across sessions;
    * round-9 ADVICE). None for non-classic sessions. */
  def sessionUUID(s: SparkSession): Option[String] = s match {
    case c: classic.SparkSession => Some(c.sessionUUID)
    case _ => None
  }

  /** Blocks until the context's `private[spark]` listener bus has
    * delivered every event posted so far: an action returns once its
    * job-end event is posted, not once listeners have seen it, so
    * counters read right after it could miss its last tasks. */
  def drainListeners(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
}
