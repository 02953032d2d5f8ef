package graft.plans

import org.apache.spark.sql.catalyst.plans.logical.{Filter, GlobalLimit, LogicalPlan, Project, Sort, Window}
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.{SortExec, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
import org.apache.spark.sql.internal.SQLConf

/** Plans a small global sort as one sorted partition, the shape DuckDB's
  * in-memory `ORDER BY` has (reference `sql` stage,
  * `filefilter.py:340-342`).
  *
  * Spark's default is a range sort: a `RangePartitioner` sampling job
  * that runs the sort's whole child a second time, a range shuffle, and
  * then — below `spark.sql.adaptive.coalescePartitions.minPartitionSize`
  * — AQE packs the ranges back into one partition anyway. So at or below
  * that size this strategy plans a single-partition shuffle and the sort
  * directly: the same final partitioning, one job fewer, and no second
  * run of the child (which matters when the child holds a `rest` stage).
  * The child's own stage keeps its parallelism.
  *
  * AQE re-plans with the runtime stats of materialized stages, so sorts
  * above an aggregate or a window qualify on exact sizes. Everything else
  * falls through to Spark: `orderBy(…).limit(n)` is taken at the `Limit`
  * (TakeOrderedAndProject) before this rule sees the `Sort`; local sorts,
  * range repartitions and streaming plans never match, and neither does
  * a sort whose input is already one partition.
  */
object SmallSortStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Sort(order, true, child, _) if !child.isStreaming && !onePartition(child) &&
        child.stats.sizeInBytes <=
          SQLConf.get.getConf(SQLConf.COALESCE_PARTITIONS_MIN_PARTITION_SIZE) =>
      SortExec(order, global = true,
        ShuffleExchangeExec(SinglePartition, planLater(child), ENSURE_REQUIREMENTS)) :: Nil
    case _ => Nil
  }

  /** The child already arrives in one partition, so Spark sorts it with
    * no exchange at all: a window without PARTITION BY or a LIMIT
    * gathers its input, and windows, projections and filters above it
    * keep that partitioning.
    */
  private def onePartition(p: LogicalPlan): Boolean = p match {
    case w: Window => w.partitionSpec.isEmpty || onePartition(w.child)
    case _: GlobalLimit => true
    case _: Project | _: Filter => onePartition(p.children.head)
    case _ => false
  }
}
