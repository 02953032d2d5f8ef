package graft

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import graft.tools.Profile
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.catalyst.plans.logical.V2WriteCommand
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** The gate profiler's counts agree with an independent listener, it
  * times a plan that computes every output column, and it reports the
  * Catalyst phases and writes both per-gate files. A gate that throws is
  * reported and the next one runs; a bad `--reps` is refused by name.
  * `graft.Bench`, which times through the same profiler, prints its
  * JSON line and writes `bench_detail.json`.
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
    val result =
      try profiler.run(sf, Seq("q01_scan_prune"), reps = 1, warmups = 0, out = Some(dir))
      finally {
        profiler.close()
        GraftColumnBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(listener)
        spark.listenerManager.unregister(plans)
      }
    assert(result.failed.isEmpty && result.rows.map(_.gate) == Seq("q01_scan_prune"))
    val row = result.rows.head
    assert(row.repsMs == Seq(row.wallMs))
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

  test("Profiler.run: each gate over a dir without tables is named as failed, and the next one runs") {
    val empty = Files.createTempDirectory("graft-profile-empty")
    val gates = Seq("q01_scan_prune", "q31_token_stats")
    val profiler = new Profile.Profiler(spark)
    val result =
      try profiler.run(empty.toString, gates, reps = 1, warmups = 0)
      finally { profiler.close(); Files.delete(empty) }
    assert(result.rows.isEmpty && result.failed == gates, result)
  }

  test("Profile arguments: --reps must be a positive integer, named in the error") {
    assert(Profile.parse(Seq("--reps=3", "spark.a.b=c=d", "q01"), Seq("reps")) ==
      Profile.Args(Map("reps" -> "3"), Seq("spark.a.b" -> "c=d"), Seq("q01")))
    assert(Profile.parse(Nil, Seq("reps")).reps == Profile.DefaultReps)
    for (v <- Seq("0", "-1", "x", "")) {
      val e = intercept[IllegalArgumentException](Profile.parse(Seq(s"--reps=$v"), Seq("reps")).reps)
      assert(e.getMessage.contains("--reps"), e.getMessage)
    }
    // Bench takes no options: its rep count is fixed
    assert(intercept[IllegalArgumentException](Profile.parse(Seq("--reps=3"), Nil))
      .getMessage.contains("--reps=3"))
    val profiler = new Profile.Profiler(spark)
    try intercept[IllegalArgumentException](profiler.run(sf, Nil, reps = 0)) finally profiler.close()
  }

  test("graft.Bench in its own JVM: the JSON line, and bench_detail.json with layers per gate") {
    val gates = Seq("q01_scan_prune", "q31_token_stats")
    // a setting Bench's sequential lane also sets: the command line's must win there
    val settings = Seq("spark.sql.shuffle.partitions=3",
      "spark.sql.adaptive.coalescePartitions.enabled=false")
    // its own working dir: the committed bench_detail.json stays as it is
    val work = Files.createTempDirectory("graft-bench")
    try {
      Files.createDirectory(work.resolve("tools"))
      Files.copy(Paths.get("tools/duckbase.py"), work.resolve("tools/duckbase.py"))
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.asScala.toSeq
        .filter(a => a.startsWith("--add-opens=") || a.startsWith("-Dspark."))
      val pb = new ProcessBuilder((Seq(s"${sys.props("java.home")}/bin/java", "-Xmx2g") ++
        jvmFlags ++ Seq("-cp", sys.props("java.class.path"), "graft.Bench") ++ settings ++ gates): _*)
        .directory(work.toFile)
        .redirectOutput(work.resolve("stdout.txt").toFile)
        .redirectError(work.resolve("stderr.txt").toFile)
      pb.environment().put("SPARK_GRAFT_SF_DIR", new File("perfbench/data/sf0.001").getAbsolutePath)
      pb.environment().put("SPARK_GRAFT_CPUS", "2")
      val exit = pb.start().waitFor()
      def tail(f: String) = Files.readString(work.resolve(f)).takeRight(3000)
      assert(exit == 0, tail("stderr.txt"))
      val mapper = new ObjectMapper()
      val line = mapper.readTree(
        Files.readAllLines(work.resolve("stdout.txt")).asScala.filter(_.trim.nonEmpty).last)
      val r19Keys = ("metric value unit queries queries_omitted n_queries sf streams passes " +
        "wall_runs wall_median_sec seq_wall_sec seq_runs sum_query_sec warmed failed").split(" ")
      assert(r19Keys.forall(line.has), line)
      assert(line.get("failed").isEmpty, tail("stderr.txt"))
      assert(line.get("queries").properties.asScala.map(_.getKey) == Set("q01", "q31"), line)
      val detail = mapper.readTree(work.resolve("bench_detail.json").toFile)
      assert(Seq("seq_wall", "queries", "ratios").forall(detail.has), detail)
      // the DuckDB baseline covers the same two gates as the timed lanes
      assert(detail.get("ratios").properties.asScala.map(_.getKey) == gates.toSet, detail)
      val layers = detail.get("layers").asScala.toSeq
      assert(layers.map(_.get("gate").asText) == gates, layers)
      assert(layers.forall(l => Profile.Header.forall(l.has) && l.get("jobs").asInt > 0), layers)
      // q31: one scan task, the aggregate's 3 uncoalesced shuffle partitions and one
      // final-sort task (10 under the lane's own 8 partitions)
      assert(layers(1).get("tasks").asInt == 5, layers(1))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(work.toFile)
  }
}
