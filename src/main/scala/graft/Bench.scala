package graft

import java.io.File
import java.lang.ProcessBuilder.Redirect
import java.nio.file.Files
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, TimeUnit}
import scala.collection.immutable.ListMap
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal
import com.fasterxml.jackson.databind.JsonNode
import com.fasterxml.jackson.databind.json.JsonMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.functions.expressions.GraftFunctions
import graft.tools.Profile

/** Benchmark main: times the gates against sys.env("SPARK_GRAFT_SF_DIR")
  * and prints one JSON line.
  * {{{
  * runMain graft.Bench [spark.key=value ...] [gate substring ...]
  * }}}
  * The arguments are [[Profile]]'s: settings override the session's, and
  * the substrings select the gates (every gate when none is given) for
  * the warm-up, both timed lanes and the DuckDB baseline alike.
  *
  * Methodology (SCALE.md §bench). Every timed run writes the gate's
  * DataFrame to the `noop` sink ([[Profile.action]]), so every output
  * column is computed.
  *  - `value` / `wall_runs`: wall-clock of the selection under 10
  *    concurrent query streams draining a shared queue, TPC-DS
  *    throughput-test style, under a FAIR scheduler; best of 8 passes,
  *    every pass's wall listed. The per-query driver floor (planning,
  *    job launch, stage barriers) overlaps across queries as on a shared
  *    cluster, while the data path keeps all cores busy.
  *  - `seq_wall_sec` / `queries`: the sequential lane, run last, is
  *    [[Profile.Profiler]]: per gate 5 timed runs and no untimed one, as
  *    the concurrent passes have already run every gate 8 times.
  *    `queries` holds each gate's median wall, `seq_wall_sec` their sum
  *    and `seq_runs` the sum of each rep. A single stall of the box lands
  *    on one rep of one gate and moves no median. bench_detail.json adds
  *    the Profiler's per-layer row of every gate under `layers`.
  *  - Warm-up: the selection twice at the sibling sf0.001 directory, so
  *    generated code is compiled before the target SF is timed.
  *  - A gate that throws is named in `failed` and has no latency.
  */
object Bench {
  /** Longest-pole queries first (LPT makespan heuristic; order from the
    * round-3 sequential timings). Everything else runs alphabetically.
    *
    * Role note (VERDICT r4 #3/#4): q34 (exact all-pair Jaccard, PPJoin
    * prefix+positional filtered) and q46 (exact all-pair embedding
    * cosine) are VERIFICATION ORACLES — their cost is inherently
    * quadratic in true-duplicate density and they exist to certify the
    * scale paths (q35 minhash-LSH and q37 bucketed-LSH respectively),
    * which are the operators a 100 TB run uses. They stay in the suite
    * so the oracle side is continuously benchmarked, not because their
    * latency is a scale claim. Since r17 (VERDICT r16 #2) q34 runs over
    * a deterministic `doc_id < 5000` slice — a no-op at every gate SF,
    * a fixed-size bound at SF ≥ 1 so scale points stay runnable (the
    * oracle SQL carries the identical slice).
    */
  private val heavyFirst = Seq(
    "q34_jaccard_pairs", "q37_embed_neardup_lsh", "q89_dedup_clusters",
    "q80_approx_quantiles",
    "q116_semdedup_learned",
    "q77_ann_ivf", "q115_bigram_hitters", "q46_embed_neardup",
    "q111_semdedup", "q35_minhash_lsh",
    "q41_ann_lsh", "q112_dsir_scores", "q114_heavy_hitters", "q91_cross_dedup",
    "q86_contamination", "q79_tfidf",
    "q104_ivf_persisted", "q99_asof_sql",
    "q03_join_revenue_nation",
    "q64_multiset_ops", "q70_correlated_subq", "q07_window_topk_group",
    "q13_set_ops", "q02_agg_pricing", "q05_anti_join")

  private val Streams = 10
  private val Passes = 8
  private val DuckPasses = 3
  /** Per-stage parallelism. Under 10 streams each query gets FEWER tasks
    * than cores: the suite keeps the cores busy across queries, and
    * small task counts keep the single-threaded DAGScheduler event loop
    * from becoming the bottleneck. A lone query needs more to use the box.
    */
  private val Concurrent = Map("spark.sql.shuffle.partitions" -> "4",
    "spark.sql.files.minPartitionNum" -> "2")
  private val Sequential = Map("spark.sql.shuffle.partitions" -> "8",
    "spark.sql.files.minPartitionNum" -> "8")
  private val json = JsonMapper.builder().addModule(DefaultScalaModule).build()

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cli = Profile.parse(args.toSeq, Nil)
    val names = Profile.select(cli.gates)
    val spark = Profile.session(GraftSession.builder(s"local[${Profile.cpus}]")
      .config(Concurrent)
      .config("spark.scheduler.mode", "FAIR")
      // AQE's default 1 MB coalesce floor collapses byte-light but
      // CPU-dense shuffles (LSH candidate joins, CC rounds, DSIR
      // featurization) to ONE task at bench SF — the work serializes on
      // one core. A 64k floor keeps those stages at ~4-8 tasks (r13 A/B:
      // q37 0.72→0.61, q112 1.01→0.84, q136 1.45→1.19, q89 1.35→1.14 s).
      // Production SF shuffles dwarf 1 MB anyway: this is tiny-SF sizing.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      // window/SMJ buffers spill past 4096 rows by default; sf0.1
      // partitions fit comfortably in memory, so keep them on-heap
      .config("spark.sql.windowExec.buffer.in.memory.threshold", "1048576")
      .config("spark.sql.sortMergeJoinExec.buffer.in.memory.threshold", "1048576"),
      cli.confs)

    val warmDir = Option(new File(sfDir).getParentFile).map(new File(_, "sf0.001"))
      .filter(_.isDirectory).map(_.toString)
    for (wd <- warmDir; _ <- 1 to 2; n <- names)
      try Profile.action(SparkEntry.queries(n)(spark, wd)) catch { case NonFatal(_) => }
    System.gc()

    /** One session per stream, reused across passes (r12): every SqlStage
      * registers its input as the temp view `df`, so two streams on one
      * session race on that name. `newSession()` shares the context but
      * isolates the temp-view catalog. A session per pass instead inflated
      * every sequential latency ~1.5×: each live session adds a listener
      * to the shared bus and its own relation caches.
      */
    val sessions = (1 to Streams).map { _ =>
      val s = spark.newSession()
      GraftFunctions.register(s)
      s
    }
    val failed = ConcurrentHashMap.newKeySet[String]()
    val order = heavyFirst.filter(names.contains) ++ names.filterNot(heavyFirst.contains)

    def concurrentPass(): Double = {
      val queue = new ConcurrentLinkedQueue[String](order.asJava)
      val t0 = System.nanoTime()
      val workers = sessions.zipWithIndex.map { case (sess, i) =>
        val th = new Thread(() => {
          spark.sparkContext.setLocalProperty("spark.scheduler.pool", s"stream$i")
          Iterator.continually(queue.poll()).takeWhile(_ != null).foreach { q =>
            try Profile.action(SparkEntry.queries(q)(sess, sfDir))
            catch { case NonFatal(e) =>
              failed.add(q)
              System.err.println(s"[bench] FAILED $q: ${e.getClass.getSimpleName}: ${e.getMessage}")
            }
          }
        }, s"bench-stream-$i")
        th.start(); th
      }
      workers.foreach(_.join())
      val wall = (System.nanoTime() - t0) / 1e9
      System.gc()
      wall
    }
    // walls descend as C2 finishes compiling the generated code: best-of,
    // with every wall listed so the warm-up trajectory stays visible
    val walls = Seq.fill(Passes)(concurrentPass())

    val seq = sessions.head
    // the command line's settings win here too, as on the builder
    (Sequential ++ cli.confs.filter(c => Sequential.contains(c._1)))
      .foreach { case (k, v) => seq.conf.set(k, v) }
    val profiler = new Profile.Profiler(seq)
    val result = try profiler.run(sfDir, names, warmups = 0) finally profiler.close()
    failed.addAll(result.failed.asJava)
    val queries = ListMap(result.rows.map(r => r.gate -> r.wallMs / 1000): _*)
    val seqWall = queries.values.sum
    val seqRuns = result.rows.map(_.repsMs).transpose.map(_.sum / 1000)

    // DuckDB on the same selection, after every Spark timing pass (never
    // concurrently): the ratio's two sides come from one session
    val duck = duckdb(sfDir, names)
    val duckQueries = ListMap(duck.toSeq.flatMap(_.path("queries").properties.asScala)
      .map(e => e.getKey -> e.getValue.asDouble).sortBy(_._1): _*)
    val duckWall = duck.map(_.path("wall_best").asDouble).filter(_ > 0)
    val ratios = queries.flatMap { case (k, v) => duckQueries.get(k).filter(_ > 0).map(k -> v / _) }

    // A bench runner may keep only the last 2000 chars of stdout, so the
    // line is compact: qNN keys and 3-decimal values; the DuckDB maps
    // carry the 50 slowest gates. bench_detail.json has everything.
    def r3(v: Double): Double = math.round(v * 1000) / 1000.0
    val slowest = queries.toSeq.sortBy(-_._2).take(50).map(_._1).toSet
    def short(m: Map[String, Double]): ListMap[String, Double] =
      ListMap(m.toSeq.map { case (k, v) => k.takeWhile(_ != '_') -> r3(v) }: _*)
    val failedNames = failed.asScala.toSeq.sorted
    val line = json.writeValueAsString(ListMap[String, Any](
      "metric" -> "total", "value" -> r3(walls.min), "unit" -> "sec",
      "queries" -> short(queries), "queries_omitted" -> 0, "n_queries" -> queries.size,
      "sf" -> sfDir, "streams" -> Streams, "passes" -> Passes, "wall_runs" -> walls.map(r3),
      "wall_median_sec" -> r3(Profile.median(walls)(identity)),
      "seq_wall_sec" -> r3(seqWall), "seq_runs" -> seqRuns.map(r3),
      "sum_query_sec" -> r3(seqWall), "warmed" -> warmDir.nonEmpty) ++
      duckWall.fold(ListMap.empty[String, Any])(dw => ListMap(
        "duckdb_wall_best" -> r3(dw),
        "duckdb_sum_best" -> r3(duck.get.path("sum_of_best").asDouble),
        "duckdb_ratio" -> r3(seqWall / dw))) ++
      (if (duckQueries.isEmpty) ListMap.empty[String, Any] else ListMap(
        "queries_duckdb" -> short(duckQueries.filter(e => slowest(e._1))),
        "ratios" -> short(ratios.filter(e => slowest(e._1))))) ++
      ListMap("failed" -> failedNames))
    try json.writeValue(new File("bench_detail.json"), ListMap(
      "wall" -> walls.min, "wall_runs" -> walls, "seq_wall" -> seqWall, "seq_runs" -> seqRuns,
      "queries" -> queries, "queries_duckdb" -> duckQueries, "ratios" -> ratios.map {
        case (k, v) => k -> r3(v) }, "failed" -> failedNames, "streams" -> Streams,
      "passes" -> Passes, "sf" -> sfDir,
      "layers" -> result.rows.map(r => ListMap(Profile.Header.zip(r.values): _*))))
    catch { case NonFatal(_) => }
    // Runners line-parse the tail for this JSON, so it must reach stdout
    // unprefixed and be the LAST line: build.sbt relays forked
    // stdout verbatim (outputStrategy := StdoutOutput) and drops the
    // "[success]" trailer, and the shutdown hook re-prints the line at
    // JVM exit so it stays last even if spark.stop() logs something.
    val rawOut = new java.io.PrintStream(
      new java.io.FileOutputStream(java.io.FileDescriptor.out), true)
    println(line)
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      rawOut.println(line); rawOut.flush()
    }))
    Console.out.flush()
    spark.stop()
  }

  /** `tools/duckbase.py`'s JSON for the oracle SQL of `names`, or None
    * when it cannot run (no script, python3 or duckdb on this host).
    */
  private def duckdb(sfDir: String, names: Seq[String]): Option[JsonNode] = {
    val script = new File("tools/duckbase.py")
    if (!script.isFile) return None
    val dir = Files.createTempDirectory("graft_duckbase")
    try {
      val oracle = SparkEntry.oracleSql
      Verify.writeJson(dir.resolve("oracle_sql.json"), names.flatMap(n => oracle.get(n).map(n -> _)))
      // output to a file, so no pipe buffer can fill and block the child
      val out = dir.resolve("duckbase_out.txt").toFile
      val proc = new ProcessBuilder("python3", script.getPath, sfDir, dir.toString,
        DuckPasses.toString).redirectOutput(out).redirectError(Redirect.DISCARD).start()
      val done = proc.waitFor(900, TimeUnit.SECONDS)
      if (!done) proc.destroyForcibly()
      if (done && proc.exitValue == 0) Some(json.readTree(out)) else None
    } catch { case NonFatal(_) => None }
    finally org.apache.commons.io.FileUtils.deleteDirectory(dir.toFile)
  }
}
