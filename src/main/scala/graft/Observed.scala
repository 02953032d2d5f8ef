package graft

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Observation}

/** Named aggregates that ride an action which runs anyway, instead of
  * costing a job of their own: [[on]] attaches them to a DataFrame
  * with `observe`, and after the action [[read]] returns them by name.
  *
  * The one outcome a caller must plan for is a pruned metrics node:
  * when an operator above the observe makes the result provably empty,
  * the optimizer drops the node and the action reports no metrics.
  * [[read]] then evaluates the SAME columns as one `agg` over the
  * DataFrame the caller names (one extra action). A metric that is
  * present but null is a value, not a miss: a `sum` over no rows is
  * null on both paths.
  *
  * One instance observes one DataFrame (Spark's `Observation` rule).
  */
final class Observed(cols: Seq[Column]) {
  private val obs = Observation()

  def on(df: DataFrame): DataFrame = df.observe(obs, cols.head, cols.tail: _*)

  /** The metrics by column name; evaluated over `fallback` when the
    * action did not report them.
    */
  def read(fallback: => DataFrame): Map[String, Any] = {
    // a pruned node completes the observation with a schema-less empty
    // row (Spark's own `getOrEmpty` throws a NullPointerException on it)
    val r = GraftColumnBridge.observedOrEmpty(obs).filter(_.schema != null)
      .getOrElse(fallback.agg(cols.head, cols.tail: _*).head())
    r.getValuesMap[Any](r.schema.fieldNames.toSeq)
  }
}

object Observed {
  def apply(cols: Column*): Observed = new Observed(cols)
}
