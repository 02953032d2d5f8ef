package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import graft.tools.Profile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge

/** The gate profiler's counts agree with an independent listener, and
  * it reports the Catalyst phases and writes both per-gate files.
  */
class ProfileSpec extends SparkSpec {

  test("Profile: one q01 row, jobs match an independent listener, phases and files present") {
    val dir = Files.createTempDirectory("graft-profile")
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    SparkEntry.queries("q01_scan_prune")(spark, sf).count() // warm, outside both counts
    val profiler = new Profile.Profiler(spark)
    spark.sparkContext.addSparkListener(listener)
    val rows =
      try profiler.run(sf, Seq("q01_scan_prune"), reps = 1, warmups = 0, out = Some(dir))
      finally {
        profiler.close()
        GraftColumnBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
      }
    assert(rows.map(_.gate) == Seq("q01_scan_prune"))
    val row = rows.head
    assert(row.jobs > 0 && row.jobs == jobs.get, s"profile ${row.jobs} vs listener ${jobs.get}")
    assert(Profile.Phases.forall(row.phasesMs.contains), row.phasesMs)
    for (f <- Seq("plan", "jobs")) {
      val p = dir.resolve(s"q01_scan_prune.$f.txt")
      assert(Files.isRegularFile(p) && Files.size(p) > 0, p)
    }
    assert(row.lines.count(_.startsWith("job ")) == row.jobs, row.lines)
  }
}
