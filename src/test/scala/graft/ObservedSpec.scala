package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[graft.Observed]]'s two outcomes: metrics that rode the action
  * (also when they are null) cost no job to read; a metrics node the
  * optimizer pruned is evaluated as one `agg` over the named DataFrame.
  */
class ObservedSpec extends SparkSpec {

  private def countAndSum = Observed(count(lit(1)).as("n"), sum(col("id")).as("s"))

  /** Runs `action` over `obs.on(input)`, then reads `obs` over `input`:
    * the metrics and the jobs the read alone launched.
    */
  private def readAfter(obs: Observed, input: DataFrame)(
      action: DataFrame => Unit): (Map[String, Any], Int) = {
    action(obs.on(input))
    var m = Map.empty[String, Any]
    val jobs = jobsIn { m = obs.read(input) }
    (m, jobs)
  }

  test("Observed: present metrics, a present-null sum, and one agg for a pruned node") {
    val ten = spark.range(10).toDF()
    val (m1, j1) = readAfter(countAndSum, ten)(_.collect())
    assert(m1 == Map("n" -> 10L, "s" -> 45L) && j1 == 0)
    // an empty input BELOW the observe still reports: count 0, sum null
    val (m2, j2) = readAfter(countAndSum, spark.range(0).toDF())(_.collect())
    assert(m2 == Map("n" -> 0L, "s" -> null) && j2 == 0)
    // a filter ABOVE the observe that is provably empty prunes the
    // metrics node: the same columns run as one agg action over `ten`,
    // which AQE runs as two jobs (the partial-aggregate shuffle stage,
    // then the final aggregate)
    val (m3, j3) = readAfter(countAndSum, ten)(_.filter(lit(false)).collect())
    val direct = ten.agg(count(lit(1)).as("n"), sum(col("id")).as("s")).head()
    assert(m3 == Map("n" -> direct.getLong(0), "s" -> direct.getLong(1)))
    assert(j3 == 2, s"jobs=$j3")
  }
}
