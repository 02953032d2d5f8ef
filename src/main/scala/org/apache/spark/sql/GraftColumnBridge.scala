package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression

/** Column ⇄ Expression bridge. Spark 4 made `Column` carry a
  * `ColumnNode` and fenced the classic converters (`classic
  * .ExpressionUtils`) as `private[sql]`, so a library expression that
  * cannot go through the function registry — e.g. one holding a
  * `Broadcast` handle, [[graft.functions.expressions.BloomMightContainBroadcast]]
  * — needs this one-file residence in the `org.apache.spark.sql`
  * package to be wrapped into a user-facing Column. Nothing here but
  * delegation; keep it that way.
  */
object GraftColumnBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** The observed metrics row, waiting briefly instead of hanging when
    * the completed action did not report it (`Observation
    * .getRowOrEmpty` is `private[sql]`), for [[graft.Observed]], its
    * one caller.
    */
  def observedOrEmpty(o: Observation): Option[Row] = o.getRowOrEmpty

  /** Blocks until every listener has handled the events posted so far
    * (`listenerBus` is `private[spark]`), for a reader of listener data.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}
