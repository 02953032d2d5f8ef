package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import graft.tools.Profile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The gate profiler's counts agree with an independent listener, it
  * times a plan that computes every output column, and it reports the
  * Catalyst phases and writes both per-gate files.
  */
class ProfileSpec extends SparkSpec {

  test("Profile: one q01 row, jobs match an independent listener, phases and files present") {
    val dir = Files.createTempDirectory("graft-profile")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    // the output columns of every write the profiler times
    val written = new java.util.concurrent.ConcurrentLinkedQueue[Seq[String]]
    val plans = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.optimizedPlan.collectFirst { case w: V2WriteCommand => w.query.output.map(_.name) }
          .foreach(written.add)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    SparkEntry.queries("q01_scan_prune")(spark, sf).count() // warm, outside both counts
    val profiler = new Profile.Profiler(spark)
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(plans)
    val rows =
      try profiler.run(sf, Seq("q01_scan_prune"), reps = 1, warmups = 0, out = Some(dir))
      finally {
        profiler.close()
        GraftColumnBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(plans)
      }
    assert(rows.map(_.gate) == Seq("q01_scan_prune"))
    val row = rows.head
    assert(row.jobs > 0 && row.jobs == jobs.get, s"profile ${row.jobs} vs listener ${jobs.get}")
    val columns = SparkEntry.queries("q01_scan_prune")(spark, sf).columns.toSeq
    assert(written.asScala.toSeq == Seq(columns), written)
    assert(Profile.Phases.forall(row.phasesMs.contains), row.phasesMs)
    for (f <- Seq("plan", "jobs")) {
      val p = dir.resolve(s"q01_scan_prune.$f.txt")
      assert(Files.isRegularFile(p) && Files.size(p) > 0, p)
    }
    assert(row.lines.count(_.startsWith("job ")) == row.jobs, row.lines)
  }
}
