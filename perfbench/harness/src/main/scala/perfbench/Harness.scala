package perfbench

import graft.GraftSession
import graft.SparkEntry
import graft.functions.expressions.GraftFunctions
import graft.model.ConfigLoader
import graft.operators.{GraftSqlParser, Pipeline}
import graft.sources.Sources
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import scala.collection.mutable
import scala.util.control.NonFatal

/** One operation of a workload. `run(pass, tracer)` executes it and returns
  * a fingerprint of its result ("" when the result is checked outside the
  * JVM); pass 0 is the untimed warm-up pass that also writes what the
  * checks read. `sql` holds the dialect statements the operation sends
  * through `GraftSqlParser.rewriteAll`; a traced pass times that call
  * once more beside the operation.
  */
final case class Op(name: String, group: String, inputRows: Long, inputBytes: Long,
                    sql: Seq[String], run: (Int, Option[Tracer]) => String)

/** Closed loop for one workload, with one client thread. It calls
  * only the engine's public entry points and writes raw timings (and, when
  * traced, spans and per-layer figures) to the JSON file named by `out=`.
  * Arguments are `key=value` pairs; ../run.py builds them.
  */
object Harness {
  private var args: Map[String, String] = Map.empty
  private def arg(k: String): String =
    args.getOrElse(k, throw new IllegalArgumentException(s"missing argument $k"))

  def main(argv: Array[String]): Unit = {
    args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val cores = arg("cores").toInt
    val seconds = arg("seconds").toDouble
    val traced = arg("trace") == "1"
    val minPasses = arg("min_passes").toInt

    // set-up: build the session and register the graft functions several
    // times, stopping all but the last; only the first build is cold
    val reps = arg("setup_reps").toInt
    val setup = (1 to reps).map { i =>
      val t0 = System.nanoTime()
      val s = session(cores)
      val t1 = System.nanoTime()
      GraftFunctions.register(s)
      val t2 = System.nanoTime()
      if (i < reps) {
        s.stop(); SparkSession.clearActiveSession(); SparkSession.clearDefaultSession()
      }
      (s, (t1 - t0) / 1e6, (t2 - t1) / 1e6)
    }
    val spark = setup.last._1
    spark.sparkContext.setLogLevel("ERROR")

    val ops = arg("workload") match {
      case "gate_suite" => gateOps(spark)
      case "rest_enrich" => restOps(spark)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val stub = args.get("stub").map(new StubClient(_))

    val execs = mutable.LinkedHashMap(ops.map(_.name -> 0): _*)
    val fails = mutable.LinkedHashMap(ops.map(_.name -> 0): _*)
    val errors = mutable.LinkedHashMap.empty[String, String]
    val expected = mutable.HashMap.empty[String, String]
    val stubStats = mutable.HashMap.empty[String, Map[String, Double]]
    val changed = mutable.LinkedHashSet.empty[String]

    /** Run one pass; returns each op's wall in ms (NaN when it failed). */
    def pass(p: Int, tracer: Option[Tracer]): Seq[Double] = ops.map { op =>
      val id = s"$p/${op.name}"
      stub.foreach(_.reset())
      tracer.foreach { t =>
        t.beginOp(id)
        op.sql.foreach(sql => t.span("parser.rewrite") {
          if (GraftSqlParser.rewriteAll(sql) != sql) changed += op.name
        })
      }
      val t0 = System.nanoTime()
      val fp =
        try Right(tracer.fold(op.run(p, None))(t => t.span("op")(op.run(p, Some(t)))))
        catch { case NonFatal(e) => Left(e) }
      val ms = (System.nanoTime() - t0) / 1e6
      tracer.foreach(_.endOp())
      stub.foreach(s => stubStats(id) = s.stats())
      execs(op.name) += 1
      val ok = fp match {
        case Left(e) =>
          errors.getOrElseUpdate(op.name, s"${e.getClass.getSimpleName}: ${e.getMessage}".take(300))
          false
        case Right(f) if p == 0 => expected(op.name) = f; true
        case Right(f) =>
          val same = expected.get(op.name).contains(f)
          if (!same) errors.getOrElseUpdate(op.name, s"result of pass $p differs from pass 0")
          same
      }
      if (!ok) fails(op.name) += 1
      if (ok) ms else Double.NaN
    }

    // warm-up passes: pass 0 writes what the checks read; the JIT keeps
    // improving the code for several passes after it
    val warmStart = System.nanoTime()
    val warm = (0 until arg("warm_passes").toInt).map(pass(_, None))
    // timed passes until `seconds` have gone and `minPasses` ran; a traced
    // run alternates plain and traced passes, so both see the same warm-up
    val tracer = if (traced) Some(new Tracer(spark)) else None
    val plain = mutable.ArrayBuffer.empty[Seq[Double]]
    val tracedPasses = mutable.ArrayBuffer.empty[(Int, Seq[Double])]
    val start = System.nanoTime()
    var p = warm.size
    while (plain.size < minPasses || tracedPasses.size < (if (traced) minPasses else 0) ||
      (System.nanoTime() - start) / 1e9 < seconds) {
      tracer.filter(_ => p % 2 == 0) match {
        case Some(t) =>
          t.attach()
          tracedPasses += p -> pass(p, Some(t))
          t.detach()
        case None => plain += pass(p, None)
      }
      p += 1
    }
    val end = System.nanoTime()

    System.gc(); Thread.sleep(200); System.gc()
    val heapMb = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0

    val result = mutable.LinkedHashMap[String, Any](
      "setup" -> setup.map { case (_, b, r) => Map("build_ms" -> b, "register_ms" -> r) },
      "ops" -> ops.zipWithIndex.map { case (op, i) =>
        mutable.LinkedHashMap[String, Any](
          "name" -> op.name, "group" -> op.group, "input_rows" -> op.inputRows,
          "warm_ms" -> warm.map(_(i)), "times_ms" -> plain.map(_(i)).toSeq, "executions" -> execs(op.name),
          "failures" -> fails(op.name)) ++ errors.get(op.name).map("error" -> _)
      },
      "retained_heap_mb" -> heapMb,
      "phase_s" -> Map("warm" -> (start - warmStart) / 1e9, "timed" -> (end - start) / 1e9))
    for (t <- tracer) {
      val all = t.spans.toSeq ++ t.jobSpans()
      Json.write(arg("trace_file"), Map("spans" -> all))
      result("self_ms") = t.selfTimes(all)
      result("layers") = Layers(t, ops, tracedPasses.map(_._1).toSeq, cores, stubStats.toMap,
        setup.map(_._2), setup.map(_._3), changed.size) ++ Map(
        "trace.overhead_ms" -> (median(tracedPasses.map(_._2.sum).toSeq) - median(plain.map(_.sum).toSeq)))
    }
    Json.write(arg("out"), result)
    spark.stop()
  }

  /** Deployment settings only: master, local and warehouse dirs, UI off.
    * The heap is set on the java command line.
    */
  private def session(cores: Int): SparkSession =
    GraftSession.builder(master = s"local[$cores]")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${arg("work")}/spark-local")
      .config("spark.sql.warehouse.dir", s"${arg("work")}/warehouse")
      .getOrCreate()

  def median(xs: Seq[Double]): Double = {
    val s = xs.filterNot(_.isNaN).sorted
    if (s.isEmpty) Double.NaN
    else if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  private def lines(path: String): Seq[String] =
    Files.readAllLines(Paths.get(path), UTF_8).toArray.map(_.toString).toSeq
      .map(_.trim).filter(_.nonEmpty)

  private def read(path: String): String = new String(Files.readAllBytes(Paths.get(path)), UTF_8)

  /** Bytes of a file, or of the files in a directory. */
  private def sizeOf(path: String): Long = {
    val p = Paths.get(path)
    if (Files.isDirectory(p)) Files.list(p).toArray.map(f => Files.size(f.asInstanceOf[java.nio.file.Path])).sum
    else Files.size(p)
  }

  /** Order-insensitive fingerprint of a collected result. */
  private def fingerprint(rows: Array[Row]): String =
    s"${rows.length}:${scala.util.hashing.MurmurHash3.seqHash(rows.map(_.toString).sorted.toSeq)}"

  /** Writes collected rows as parquet for the DuckDB comparison. */
  private def writeForCheck(spark: SparkSession, df: DataFrame, rows: Array[Row], dir: String): Unit =
    spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
      .coalesce(1).write.mode("overwrite").parquet(dir)

  private def gateOps(spark: SparkSession): Seq[Op] = {
    val dir = arg("data")
    val check = arg("check_dir")
    val groups = Seq("core" -> graft.queries.CoreQueries.all.keySet,
      "text" -> graft.queries.TextQueries.all.keySet,
      "vector" -> graft.queries.VectorQueries.all.keySet,
      "extra" -> graft.queries.ExtraQueries.all.keySet)
    val oracle = SparkEntry.oracleSql
    val gates = lines(arg("gates"))
    // the statement a gate that runs its oracle text through the rewrite
    // chain hands to rewriteAll
    def dialectSql(g: String): Seq[String] = g match {
      case "q113_columns_sql" =>
        Seq(GraftSqlParser.rewriteColumns(oracle(g), graft.Tables.lineitem(spark, dir).columns.toSeq))
      case "q139_json_arrow" | "q163_collections" => Seq(oracle(g))
      case _ => Nil
    }
    Files.createDirectories(Paths.get(check))
    Json.write(s"$check/oracle_sql.json", gates.flatMap(g => oracle.get(g).map(g -> _)).toMap)
    gates.map { g =>
      val build = SparkEntry.queries(g)
      val group = groups.find(_._2.contains(g)).map(_._1).getOrElse("other")
      Op(g, group, 0L, 0L, dialectSql(g), (p, tr) => {
        val df = tr.fold(build(spark, dir))(_.span("queries.build")(build(spark, dir)))
        val rows = tr.fold(df.collect())(_.span("exec.collect")(df.collect()))
        tr.foreach(_.noteQe(df.queryExecution, s"$p/$g"))
        if (p == 0) writeForCheck(spark, df, rows, s"$check/$g")
        fingerprint(rows)
      })
    }
  }

  private def sqlOf(yaml: String): Seq[String] =
    ConfigLoader.fromYaml(yaml).filters.filter(_.actionType == "sql").flatMap(_.code)

  /** Pipeline.run, or with a tracer the same steps it takes, one span per
    * public call: config parse, load, compile, each Stage.apply, sink.
    */
  private def pipeline(spark: SparkSession, yaml: String, input: String,
                       output: Option[String], tr: Option[Tracer], op: String): DataFrame =
    tr match {
      case None => Pipeline.run(spark, ConfigLoader.fromYaml(yaml), input, output).output
      case Some(t) =>
        val cfg = t.span("config.parse")(ConfigLoader.fromYaml(yaml))
        t.span("functions.register")(GraftFunctions.register(spark))
        var df = t.span("sources.load")(
          Sources.load(spark, input, cfg.inDelimiter, cfg.sampleLines))
        val stages = t.span("operators.compile")(Pipeline.compile(spark, cfg))
        stages.foreach { case (_, stage) =>
          df = t.span("operators.stage_build")(stage(spark, df))
          t.noteQe(df.queryExecution, op)
        }
        output.foreach(o => t.span("sources.sink")(Sources.writeCsv(df, o, cfg.outDelimiter)))
        df
    }

  /** rest_enrich: one YAML pipeline to a CSV sink; each pass writes its
    * own output directory, which run.py checks.
    */
  private def restOps(spark: SparkSession): Seq[Op] = {
    val input = arg("input")
    val yaml = read(arg("yaml"))
    val outBase = arg("out_dir")
    Seq(Op("rest_enrich", "pipeline", arg("input_rows").toLong, sizeOf(input),
      sqlOf(yaml), (p, tr) => {
        pipeline(spark, yaml, input, Some(s"$outBase/p$p"), tr, s"$p/rest_enrich")
        ""
      }))
  }
}

/** The benchmark's REST stub, seen from the JVM: reset before each
  * operation, counters after it.
  */
final class StubClient(base: String) {
  private val client = java.net.http.HttpClient.newHttpClient()
  private def call(path: String, post: Boolean): String = {
    val b = java.net.http.HttpRequest.newBuilder(java.net.URI.create(base + path))
    val req = if (post) b.POST(java.net.http.HttpRequest.BodyPublishers.noBody()).build() else b.GET().build()
    client.send(req, java.net.http.HttpResponse.BodyHandlers.ofString()).body()
  }
  def reset(): Unit = call("/_reset", post = true)
  def stats(): Map[String, Double] =
    call("/_stats", post = false).split("\n").filter(_.contains(" ")).map { l =>
      val Array(k, v) = l.trim.split(" ", 2); k -> v.toDouble
    }.toMap
}

/** JSON output through the Jackson Scala module Spark ships with. */
object Json {
  private val mapper = com.fasterxml.jackson.databind.json.JsonMapper.builder()
    .addModule(com.fasterxml.jackson.module.scala.DefaultScalaModule).build()
  def write(path: String, v: Any): Unit = mapper.writeValue(new java.io.File(path), v)
}
