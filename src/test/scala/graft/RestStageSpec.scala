package graft

import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import graft.operators.{Pipeline, RestConfig, RestCounters, RestStage}
import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import java.util.concurrent.atomic.AtomicInteger
import org.scalatest.BeforeAndAfterAll
import scala.jdk.CollectionConverters._

/** REST enrichment against an in-JVM stub server — the `countries`
  * fixture (FIXTURES.md §2) without the network.
  */
class RestStageSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var server: HttpServer = _
  private var port: Int = _
  @volatile private var lastPostBody: String = _
  private val nameHits = new java.util.concurrent.atomic.AtomicInteger(0)
  // requests the stub is serving at once, and the most seen since reset
  private val inFlight = new AtomicInteger(0)
  private val maxInFlight = new AtomicInteger(0)
  private val stubPool = java.util.concurrent.Executors.newCachedThreadPool()

  private def respond(ex: HttpExchange, body: String): Unit = {
    val bytes = body.getBytes(StandardCharsets.UTF_8)
    ex.sendResponseHeaders(200, bytes.length)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  /** Live threads of a rest stage's pool and retry scheduler. */
  private def restThreads(stage: String): Seq[String] =
    Thread.getAllStackTraces.keySet.asScala.toSeq.map(_.getName)
      .filter(_.startsWith(s"graft-rest-$stage-"))

  /** Polls `cond` for up to 10 s; a thread ends just after its pool does. */
  private def within10s(cond: => Boolean): Boolean = {
    val deadline = System.nanoTime() + 10000000000L
    while (!cond && System.nanoTime() < deadline) Thread.sleep(20)
    cond
  }

  override def beforeAll(): Unit = {
    server = HttpServer.create(new InetSocketAddress(0), 0)
    port = server.getAddress.getPort
    // concurrent handlers (the default runs them one at a time), gauged
    server.setExecutor(r => stubPool.execute { () =>
      maxInFlight.accumulateAndGet(inFlight.incrementAndGet(), math.max)
      try r.run() finally inFlight.decrementAndGet()
    })
    server.createContext("/v3.1/name/", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        nameHits.incrementAndGet()
        val name = ex.getRequestURI.getPath.stripPrefix("/v3.1/name/")
        if (name == "atlantis") { // unknown country → 404
          ex.sendResponseHeaders(404, -1)
        } else {
          val body = s"""{"name":"$name","region":"Region-$name"}"""
          val bytes = body.getBytes(StandardCharsets.UTF_8)
          ex.getResponseHeaders.add("Content-Type", "application/json")
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    server.createContext("/echo", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        lastPostBody = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
        val bytes = s"""{"ok":true}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    server.createContext("/busy", (ex: HttpExchange) => { Thread.sleep(30); respond(ex, "{}") })
    server.start()
  }

  override def afterAll(): Unit = { server.stop(0); stubPool.shutdownNow() }

  test("2xx appends response column; non-2xx rows are dropped (§2c)") {
    val df = Seq((1, "spain"), (2, "france"), (3, "atlantis")).toDF("id", "countryName")
    val ctr = RestCounters(spark, "t1")
    val stage = RestStage("geo", RestConfig(
      host = s"http://localhost:$port", path = "/v3.1/name/{countryName}",
      filterThreads = 2), ctr)
    val out = stage(spark, df).collect()
    assert(out.length == 2) // atlantis dropped
    assert(out.forall(_.schema.fieldNames.contains("response")))
    val spainRow = out.find(_.getString(1) == "spain").get
    assert(spainRow.getString(2).contains("\"region\":\"Region-spain\""))
    assert(ctr.s20x.value == 2 && ctr.s40x.value == 1 && ctr.errors.value == 0)
  }

  test("unfilled {placeholder} drops the row with an error count (filters.py:31-33)") {
    val df = Seq((1, "spain")).toDF("id", "countryName")
    val ctr = RestCounters(spark, "t2")
    val stage = RestStage("geo", RestConfig(
      host = s"http://localhost:$port", path = "/v3.1/name/{missingCol}"), ctr)
    assert(stage(spark, df).count() == 0)
    assert(ctr.errors.value == 1)
  }

  test("POST always sends a JSON body — reference bug filters.py:63-71 fixed") {
    val df = Seq((7, "madrid")).toDF("id", "city")
    val ctr = RestCounters(spark, "t3")
    val stage = RestStage("post", RestConfig(
      host = s"http://localhost:$port", path = "/echo", method = "POST",
      postBody = Map("city" -> "{city}", "tag" -> "const")), ctr)
    val out = stage(spark, df).collect()
    assert(out.length == 1)
    assert(lastPostBody.contains("\"city\":\"madrid\""))
    assert(lastPostBody.contains("\"tag\":\"const\""))
  }

  test("POST body escapes quotes, backslashes and control characters (RFC 8259)") {
    val note = "back\\slash \"quoted\"\nnext line\ttab"
    val df = Seq((1, note)).toDF("id", "note")
    RestStage("esc", RestConfig(
      host = s"http://localhost:$port", path = "/echo", method = "POST",
      postBody = Map("note" -> "{note}", "k\"e\\y" -> "const")),
      RestCounters(spark, "esc"))(spark, df).collect()
    val json = new com.fasterxml.jackson.databind.ObjectMapper().readTree(lastPostBody)
    assert(json.get("note").asText == note)
    assert(json.get("k\"e\\y").asText == "const")
  }

  test("urlencodeParams URL-encodes query values (filters.py:25-39)") {
    val df = Seq((1, "two words&more")).toDF("id", "q")
    val uri = RestStage.buildUri(
      RestConfig(host = "http://h", path = "/p",
        queryParams = Map("q" -> "{q}"), urlencodeParams = Set("q")),
      Map("id" -> 1, "q" -> "two words&more"))
    assert(uri.contains("http://h/p?q=two+words%26more"))
  }

  test("illegal-URI row is dropped with an error count, not a task failure") {
    val df = Seq((1, "two words"), (2, "fine")).toDF("id", "countryName")
    val ctr = RestCounters(spark, "t6")
    val stage = RestStage("geo", RestConfig(
      host = s"http://localhost:$port", path = "/v3.1/name/{countryName}"), ctr)
    val out = stage(spark, df).collect() // must not throw
    assert(out.length == 1 && out.head.getString(1) == "fine")
    assert(ctr.errors.value == 1)
  }

  test("5xx retries with backoff then succeeds; 4xx fails fast") {
    val flaky = new java.util.concurrent.atomic.AtomicInteger(0)
    server.createContext("/flaky", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        if (flaky.incrementAndGet() % 3 != 0) ex.sendResponseHeaders(503, -1)
        else {
          val bytes = """{"ok":true}""".getBytes(StandardCharsets.UTF_8)
          ex.sendResponseHeaders(200, bytes.length)
          ex.getResponseBody.write(bytes)
        }
        ex.close()
      }
    })
    val df = Seq((1, "x")).toDF("id", "v")
    val ctr = RestCounters(spark, "t4")
    val stage = RestStage("flaky", RestConfig(
      host = s"http://localhost:$port", path = "/flaky",
      maxRetries = 5, retryBackoffMillis = 10L), ctr)
    assert(stage(spark, df).count() == 1) // succeeded on 3rd attempt
    assert(ctr.s50x.value == 2 && ctr.s20x.value == 1)

    // 4xx must NOT retry
    val ctr2 = RestCounters(spark, "t5")
    val notFound = RestStage("nf", RestConfig(
      host = s"http://localhost:$port", path = "/v3.1/name/atlantis",
      maxRetries = 5, retryBackoffMillis = 10L), ctr2)
    assert(notFound(spark, df.withColumn("countryName", org.apache.spark.sql.functions.lit("atlantis"))).count() == 0)
    assert(ctr2.s40x.value == 1) // single attempt, no retry storm
  }

  test("a retry's backoff frees the request slot; rows still leave in input order") {
    // one slot: A's 503 must not hold it through the 300 ms backoff
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[(String, Long)]())
    server.createContext("/order/", (ex: HttpExchange) => {
      val key = ex.getRequestURI.getPath.stripPrefix("/order/")
      seen.add(key -> System.nanoTime())
      if (key == "A" && seen.asScala.count(_._1 == "A") == 1) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else respond(ex, s"""{"key":"$key"}""")
    })
    val df = Seq("A", "B", "C", "D").toDF("k").coalesce(1)
    val ctr = RestCounters(spark, "order")
    val out = RestStage("order", RestConfig(
      host = s"http://localhost:$port", path = "/order/{k}", filterThreads = 1,
      maxRetries = 1, retryBackoffMillis = 300L), ctr)(spark, df).collect()
    val calls = seen.asScala.toSeq
    assert(calls.map(_._1) == Seq("A", "B", "C", "D", "A"))
    val aAt = calls.filter(_._1 == "A").map(_._2)
    assert(aAt(1) - aAt(0) >= 300L * 1000000L, s"gap ${(aAt(1) - aAt(0)) / 1000000} ms")
    assert(out.map(_.getString(0)).toSeq == Seq("A", "B", "C", "D"))
    assert(ctr.s50x.value == 1 && ctr.s20x.value == 4)
  }

  test("a backing-off head does not stall the slot: the rows behind it are sent first") {
    // one slot, a window of 4: answered rows give their place back, so
    // B…H go out while A waits out its 300 ms backoff
    val seen = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    server.createContext("/stall/", (ex: HttpExchange) => {
      val key = ex.getRequestURI.getPath.stripPrefix("/stall/")
      seen.add(key)
      if (key == "A" && seen.asScala.count(_ == "A") == 1) {
        ex.sendResponseHeaders(503, -1); ex.close()
      } else respond(ex, s"""{"key":"$key"}""")
    })
    val keys = Seq("A", "B", "C", "D", "E", "F", "G", "H")
    val ctr = RestCounters(spark, "stall")
    val out = RestStage("stall", RestConfig(
      host = s"http://localhost:$port", path = "/stall/{k}", filterThreads = 1,
      maxRetries = 1, retryBackoffMillis = 300L), ctr)(spark, keys.toDF("k").coalesce(1)).collect()
    assert(seen.asScala.toSeq == keys :+ "A")
    assert(out.map(_.getString(0)).toSeq == keys)
    assert(ctr.s50x.value == 1 && ctr.s20x.value == 8)
  }

  test("filterThreads bounds the requests in flight per partition") {
    maxInFlight.set(0)
    val df = (1 to 24).map(i => (i, "x")).toDF("id", "v").coalesce(1)
    val out = RestStage("busy", RestConfig(
      host = s"http://localhost:$port", path = "/busy", filterThreads = 2),
      RestCounters(spark, "busy"))(spark, df).collect()
    assert(out.map(_.getInt(0)).toSeq == (1 to 24))
    assert(maxInFlight.get() == 2, s"max in flight ${maxInFlight.get()}")
  }

  test("no rest thread outlives its task: downstream limit, killed attempt") {
    val df = (1 to 40).map(i => (i, "x")).toDF("id", "v").coalesce(1)
    val first = RestStage("leaklimit", RestConfig(
      host = s"http://localhost:$port", path = "/busy", filterThreads = 2),
      RestCounters(spark, "ll"))(spark, df).limit(1).collect()
    assert(first.length == 1)
    assert(within10s(restThreads("leaklimit").isEmpty), restThreads("leaklimit"))

    // kill the task while its only row waits out a 60 s backoff
    val hit = new java.util.concurrent.CountDownLatch(1)
    server.createContext("/down", (ex: HttpExchange) => {
      hit.countDown(); ex.sendResponseHeaders(503, -1); ex.close()
    })
    val job = new Thread(() => {
      spark.sparkContext.setJobGroup("leakkill", "killed in backoff", interruptOnCancel = true)
      try RestStage("leakkill", RestConfig(
        host = s"http://localhost:$port", path = "/down", maxRetries = 1,
        retryBackoffMillis = 60000L), RestCounters(spark, "lk"))(
        spark, Seq(1).toDF("id").coalesce(1)).collect()
      catch { case scala.util.control.NonFatal(_) => () } // the cancelled job throws
    })
    job.start()
    assert(hit.await(30, java.util.concurrent.TimeUnit.SECONDS))
    assert(within10s(restThreads("leakkill").exists(_.endsWith("-retry"))),
      restThreads("leakkill"))
    spark.sparkContext.cancelJobGroup("leakkill")
    job.join(30000)
    assert(!job.isAlive)
    assert(within10s(restThreads("leakkill").isEmpty), restThreads("leakkill"))
  }

  test("rest stage wired through the YAML pipeline (countries fixture)") {
    val dir = java.nio.file.Files.createTempDirectory("graft").toFile
    val f = new java.io.File(dir, "countries.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id;countryName"); w.println("1;spain"); w.println("2;france"); w.println("3;Germany")
    w.close()
    val yaml =
      s"""
         |inDelimiter: ";"
         |outDelimiter: ";"
         |sampleLines: 10
         |filters:
         |  - name: enrich
         |    actionType: rest
         |    filterThreads: 2
         |    actionConfig:
         |      host: "http://localhost:$port"
         |      path: "/v3.1/name/{countryName}"
         |  - name: extract
         |    actionType: derive
         |    actionConfig:
         |      columns:
         |        - {name: region, expr: "get_json_object(response, '$$.region')"}
         |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, f.getAbsolutePath, None)
    val rows = res.output.orderBy("id").collect()
    assert(rows.length == 3)
    assert(rows.map(_.getAs[String]("region")).toSeq ==
      Seq("Region-spain", "Region-france", "Region-Germany"))
  }

  test("logHttpRequests/logHttpResponses gate per-call log lines (filters.py:41-44,55-71)") {
    import graft.operators.RestLog
    val lines = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val prev = RestLog.sink
    RestLog.sink = s => lines.add(s)
    try {
      val df = Seq((1, "spain")).toDF("id", "countryName")
      // both flags off (the default): nothing logged
      RestStage("quiet", RestConfig(
        host = s"http://localhost:$port", path = "/v3.1/name/{countryName}"),
        RestCounters(spark, "l0"))(spark, df).count()
      assert(lines.isEmpty)
      // requests on: one GET line with the full templated URI
      RestStage("reqs", RestConfig(
        host = s"http://localhost:$port", path = "/v3.1/name/{countryName}",
        logRequests = true), RestCounters(spark, "l1"))(spark, df).count()
      assert(lines.size == 1)
      assert(lines.get(0) == s"GET Request: http://localhost:$port/v3.1/name/spain")
      lines.clear()
      // responses on: one line with the 2xx body
      RestStage("resps", RestConfig(
        host = s"http://localhost:$port", path = "/v3.1/name/{countryName}",
        logResponses = true), RestCounters(spark, "l2"))(spark, df).count()
      assert(lines.size == 1)
      assert(lines.get(0).startsWith("Response: ") && lines.get(0).contains("Region-spain"))
      lines.clear()
      // POST with both on: request line includes the body
      RestStage("post", RestConfig(
        host = s"http://localhost:$port", path = "/echo", method = "POST",
        postBody = Map("c" -> "{countryName}"),
        logRequests = true, logResponses = true),
        RestCounters(spark, "l3"))(spark, df).count()
      assert(lines.size == 2)
      assert(lines.get(0).startsWith("POST Request: ") && lines.get(0).contains("""Body: {"c":"spain"}"""))
    } finally RestLog.sink = prev
  }

  test("config hot-reload rescales the worker pool mid-run (O18, filefilter.py:144-171)") {
    import graft.operators.{RestConfig, RestLog, RestStage}
    // slow endpoint so the partition is still running when the config changes
    server.createContext("/slow", new HttpHandler {
      override def handle(ex: HttpExchange): Unit = {
        Thread.sleep(30)
        val bytes = """{"ok":true}""".getBytes(StandardCharsets.UTF_8)
        ex.sendResponseHeaders(200, bytes.length)
        ex.getResponseBody.write(bytes)
        ex.close()
      }
    })
    val confFile = java.nio.file.Files.createTempFile("graft-reload", ".yml").toFile
    def writeConf(threads: Int): Unit = {
      val w = new java.io.PrintWriter(confFile)
      w.println(
        s"""filters:
           |  - name: slowrest
           |    actionType: rest
           |    filterThreads: $threads
           |    actionConfig:
           |      host: "http://localhost:$port"
           |      path: "/slow"
           |""".stripMargin)
      w.close()
    }
    writeConf(1)
    val lines = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    val prev = RestLog.sink
    RestLog.sink = s => lines.add(s)
    try {
      // rewrite the config to 6 threads shortly after the stage starts
      val rewriter = new Thread(() => { Thread.sleep(500); writeConf(6) })
      rewriter.start()
      val df = (1 to 80).map(i => (i, "x")).toDF("id", "v").coalesce(1)
      val stage = RestStage("slowrest", RestConfig(
        host = s"http://localhost:$port", path = "/slow", filterThreads = 1,
        reloadEverySeconds = 1, configPath = Some(confFile.getAbsolutePath)),
        RestCounters(spark, "hr"))
      assert(stage(spark, df).count() == 80) // all rows processed across the resize
      rewriter.join()
      val msgs = lines.toArray.map(_.toString)
      assert(msgs.exists(_.contains("Changing threads for filter slowrest: 1 -> 6")),
        s"no resize line in: ${msgs.mkString("; ")}")
    } finally RestLog.sink = prev
  }

  test("reference YAML forms: string queryParams + boolean urlencodeParams + log keys") {
    val sc = graft.model.ConfigLoader.fromYaml(
      s"""
         |filters:
         |  - name: geocode
         |    actionType: rest
         |    actionConfig:
         |      logHttpRequests: True
         |      logHttpResponses: False
         |      method: GET
         |      host: "http://localhost:$port"
         |      path: "/v3.1/name/{countryName}"
         |      queryParams: lat={lat}&lon={lon}
         |      urlencodeParams: True
         |      newField: "geocode"
         |""".stripMargin).filters.head
    val stage = RestStage.fromConfig(spark, sc)
    assert(stage.cfg.logRequests && !stage.cfg.logResponses)
    assert(stage.cfg.queryParams == Map("lat" -> "{lat}", "lon" -> "{lon}"))
    assert(stage.cfg.urlencodeParams == Set("lat", "lon"))
    assert(stage.cfg.newField == "geocode")
    val uri = RestStage.buildUri(stage.cfg,
      Map("countryName" -> "spain", "lat" -> "40.4 N", "lon" -> "-3.7"))
    assert(uri.contains(s"http://localhost:$port/v3.1/name/spain?lat=40.4+N&lon=-3.7"))
  }

  test("reference countries.yml + countries.csv run VERBATIM through graft.Main (VERDICT r4 #2)") {
    // the last reference example never run as-shipped: ';' CSV with no
    // declared inDelimiter (read_csv_auto sniff), rest stage against
    // restcountries.com (remapped to the stub), python stage indexing
    // the JSON response string (row['response']['region'])
    val yml = "/root/reference/examples/countries/countries.yml"
    val csv = "/root/reference/examples/countries/countries.csv"
    val out = java.nio.file.Files.createTempDirectory("graft-countries").toString + "/result"
    RestStage.hostOverrides = Map("https://restcountries.com" -> s"http://localhost:$port")
    try Main.main(Array(csv, yml, out))
    finally RestStage.hostOverrides = Map.empty
    val back = spark.read.option("header", "true").option("delimiter", ";").csv(out)
    // output shape: input columns + rest `response` + python `region`
    assert(back.columns.toSeq == Seq("id", "countryName", "response", "region"))
    val got = back.collect().map(r => r.getString(1) -> r.getString(3)).toMap
    assert(got == Map("spain" -> "Region-spain", "france" -> "Region-france",
      "Germany" -> "Region-Germany"))
  }

  test("task-retry chaos: a partition's first attempt dies AFTER its HTTP " +
    "calls — rows, drops and counters stay exact (SURVEY §7 hard part 1)") {
    // the session runs local[4, 4] with speculation ON (TestSpark):
    // task retries are real. The chaos map consumes the rest stage's
    // iterator FIRST (every HTTP call of the attempt fires), then kills
    // partition 0's attempt 0 — the documented redo scenario at
    // RestStage.scala: side effects re-execute, results must not.
    val n = 40
    val data = (0 until n).map(i => (i, if (i % 10 == 7) "atlantis" else s"c$i"))
    val df = data.toDF("id", "countryName").repartition(4)
    val ctr = RestCounters(spark, "chaos")
    val rest = RestStage("geo", RestConfig(
      host = s"http://localhost:$port", path = "/v3.1/name/{countryName}",
      filterThreads = 2), ctr)
    val enriched = rest(spark, df)
    val enc = org.apache.spark.sql.Encoders.row(enriched.schema)
    val before = nameHits.get()
    val chaotic = enriched.mapPartitions { it =>
      val rows = it.toArray // force THIS attempt's HTTP calls first
      val tc = org.apache.spark.TaskContext.get()
      if (tc.partitionId() == 0 && tc.attemptNumber() == 0)
        throw new RuntimeException("chaos: killing partition 0's first attempt")
      rows.iterator
    }(enc)
    val out = chaotic.collect()
    val dropped = data.count(_._2 == "atlantis")
    assert(out.length == n - dropped)
    assert(out.forall(r => r.getString(2).contains("Region-")))
    assert(out.map(_.getInt(0)).distinct.length == out.length) // no dup rows
    // the killed attempt really made its calls: the server saw MORE
    // requests than input rows (partition 0 ran twice)...
    assert(nameHits.get() - before > n, s"hits=${nameHits.get() - before}")
    // ...while the failed attempt's accumulator updates were DISCARDED
    // (Spark drops them with the task), so the status-class counters
    // stay exact
    assert(ctr.s20x.value == n - dropped, s"20x=${ctr.s20x.value}")
    assert(ctr.s40x.value == dropped, s"40x=${ctr.s40x.value}")
    assert(ctr.errors.value == 0)
  }

  test("task-retry chaos through the YAML pipeline — fused and checkpointed " +
    "runs both land exact counts") {
    import graft.operators.TransformRegistry
    TransformRegistry.register("chaos_kill_first_attempt", df => {
      val enc = org.apache.spark.sql.Encoders.row(df.schema)
      df.mapPartitions { it =>
        val rows = it.toArray
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.partitionId() == 0 && tc.attemptNumber() == 0)
          throw new RuntimeException("chaos: first attempt dies")
        rows.iterator
      }(enc)
    })
    val dir = java.nio.file.Files.createTempDirectory("graft-chaos").toFile
    val f = new java.io.File(dir, "countries.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id;countryName")
    (0 until 12).foreach(i => w.println(s"$i;${if (i == 5) "atlantis" else "c" + i}"))
    w.close()
    val yaml =
      s"""
         |inDelimiter: ";"
         |outDelimiter: ";"
         |filters:
         |  - name: enrich
         |    actionType: rest
         |    filterThreads: 2
         |    actionConfig:
         |      host: "http://localhost:$port"
         |      path: "/v3.1/name/{countryName}"
         |  - name: chaos
         |    actionType: transform
         |    code: chaos_kill_first_attempt
         |""".stripMargin
    val cfg = graft.model.ConfigLoader.fromYaml(yaml)
    // fused run (no checkpoints, no counts — a counted stage is
    // materialized on its own): rest + chaos share a task, so the
    // retry re-executes the HTTP calls — output rows must stay exact
    val fused = Pipeline.run(spark, cfg, f.getAbsolutePath, None)
    val ids = fused.output.select("id").collect().map(_.get(0).toString)
    assert(ids.length == 11 && ids.distinct.length == 11)
    // checkpointed run: each stage materializes to parquet; the chaos
    // stage's WRITE job loses a task attempt mid-commit — the parquet
    // commit protocol must discard the failed attempt's files (no
    // duplicates, no holes) and the overwrite checkpoint re-reads clean
    val ckpt = java.nio.file.Files.createTempDirectory("graft-ckpt").toString
    val res = Pipeline.run(spark, cfg, f.getAbsolutePath, None,
      countStages = true, checkpointDir = Some(ckpt))
    assert(res.stages.map(_.rows) == Seq(Some(11L), Some(11L)))
    val back = spark.read.parquet(s"$ckpt/stage=1")
    assert(back.count() == 11)
    assert(back.select("id").collect().map(_.get(0).toString).distinct.length == 11)
    assert(back.columns.contains("response"))
  }

  test("countStages and showSampleOnFinish send each request once: later stages read the materialized rows") {
    // each count (and the sample's own job) used to re-run the whole
    // lineage, the rest stage included
    val served = new AtomicInteger(0)
    server.createContext("/counted/", (ex: HttpExchange) => {
      served.incrementAndGet()
      respond(ex, s"""{"key":"${ex.getRequestURI.getPath.stripPrefix("/counted/")}"}""")
    })
    val dir = java.nio.file.Files.createTempDirectory("graft-counted").toFile
    val f = new java.io.File(dir, "keys.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id,key")
    (0 until 5).foreach(i => w.println(s"$i,k$i"))
    w.close()
    def cfg(sample: Boolean) = graft.model.ConfigLoader.fromYaml(
      s"""
         |filters:
         |  - name: lookup
         |    actionType: rest
         |    showSampleOnFinish: $sample
         |    actionConfig:
         |      host: "http://localhost:$port"
         |      path: "/counted/{key}"
         |  - name: keep
         |    actionType: sql
         |    code: SELECT id, key, response FROM df
         |  - name: again
         |    actionType: sql
         |    code: SELECT * FROM df WHERE id >= 0
         |""".stripMargin)
    def out(name: String) = Some(new java.io.File(dir, name).getPath)
    var res: Pipeline.RunResult = null
    val jobs = jobsIn {
      res = Pipeline.run(spark, cfg(sample = false), f.getAbsolutePath, out("out"), countStages = true)
    }
    assert(served.get == 5, s"stub served ${served.get} requests for 5 keys")
    assert(res.stages.map(_.rows) == Seq(Some(5L), Some(5L), Some(5L)))
    // one materializing job per counted stage, then the sink (9 jobs and
    // 20 requests when each count re-ran the lineage)
    assert(jobs <= 6, s"$jobs jobs")
    // the default path (no counts, no samples) runs as one fused plan
    val quiet = jobsIn {
      Pipeline.run(spark, cfg(sample = false), f.getAbsolutePath, out("out2"))
    }
    assert(served.get == 10 && quiet <= 3, s"${served.get} requests, $quiet jobs")
    // a sampled stage: the sample, the next stages and the sink read its rows
    val sampled = Pipeline.run(spark, cfg(sample = true), f.getAbsolutePath, out("out3"))
    assert(sampled.stages.map(_.rows) == Seq(None, None, None))
    assert(sampled.output.collect().map(_.getAs[Any]("key").toString).sorted.toSeq ==
      (0 until 5).map(i => s"k$i"))
    assert(served.get == 15, s"stub served ${served.get - 10} requests for 5 sampled keys")
  }

  test("status counters stay exact with 16 pool threads sharing one task's accumulators") {
    // one partition, so all 16 threads add to the same accumulator copies
    val served = new AtomicInteger(0)
    server.createContext("/mixed/", (ex: HttpExchange) => {
      served.incrementAndGet()
      val k = ex.getRequestURI.getPath.stripPrefix("/mixed/").toInt
      if (k % 10 == 3) { ex.sendResponseHeaders(404, -1); ex.close() }
      else if (k % 10 == 7) { ex.sendResponseHeaders(503, -1); ex.close() }
      else respond(ex, "{}")
    })
    val n = 400
    val ctr = RestCounters(spark, "threads16")
    val out = RestStage("many", RestConfig(
      host = s"http://localhost:$port", path = "/mixed/{k}", filterThreads = 16,
      maxRetries = 2, retryBackoffMillis = 1), ctr)(spark, (0 until n).toDF("k").coalesce(1)).collect()
    // a 503 row is tried 3 times and dropped; a 404 row once
    assert(out.length == n - n / 5)
    assert(served.get == n / 10 * 3 + n / 10 + n * 8 / 10)
    val counted = ctr.s20x.value + ctr.s40x.value + ctr.s50x.value + ctr.errors.value
    assert(counted == served.get, s"counters saw $counted of ${served.get} requests")
    assert(ctr.s50x.value == n / 10 * 3 && ctr.errors.value == 0)
  }

  test("a rest stage before ORDER BY sends each request once (no range-sampling re-run)") {
    // a range sort samples its child in a job of its own, which re-ran
    // the rest stage and sent every request twice
    val served = new AtomicInteger(0)
    val failedOnce = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    server.createContext("/sorted/", (ex: HttpExchange) => {
      served.incrementAndGet()
      val k = ex.getRequestURI.getPath.stripPrefix("/sorted/")
      val i = k.stripPrefix("k").toInt
      if (i % 8 == 0) { ex.sendResponseHeaders(404, -1); ex.close() }
      else if (i % 5 == 1 && failedOnce.add(k)) { ex.sendResponseHeaders(503, -1); ex.close() }
      else respond(ex, s"""{"key":"$k"}""")
    })
    val n = 40
    val keys = (0 until n).map(i => f"k$i%02d")
    val dir = java.nio.file.Files.createTempDirectory("graft-sorted").toFile
    for (part <- 0 until 2) {
      val w = new java.io.PrintWriter(new java.io.File(dir, s"part-$part.csv"))
      w.println("id,key")
      // each file lists its keys in descending order, so the sort has work
      keys.indices.filter(_ % 2 == part).reverse.foreach(i => w.println(s"$i,${keys(i)}"))
      w.close()
    }
    val cfg = graft.model.ConfigLoader.fromYaml(
      s"""
         |filters:
         |  - name: lookup
         |    actionType: rest
         |    filterThreads: 2
         |    actionConfig:
         |      host: "http://localhost:$port"
         |      path: "/sorted/{key}"
         |      maxRetries: 1
         |      retryBackoffMillis: 10
         |  - name: order
         |    actionType: sql
         |    code: SELECT id, key, response FROM df ORDER BY key
         |""".stripMargin)
    // Pipeline.run's steps, keeping the rest stage's counters in hand
    val stages = Pipeline.compile(spark, cfg)
    val ctr = stages.collectFirst { case (_, r: RestStage) => r.counters }.get
    val df = stages.foldLeft(graft.sources.Sources.load(spark, s"$dir/*.csv")) {
      case (d, (_, stage)) => stage(spark, d)
    }
    val out = new java.io.File(dir, "out").getPath
    graft.sources.Sources.writeCsv(df, out)
    val retries = (0 until n).count(i => i % 8 != 0 && i % 5 == 1)
    assert(served.get == n + retries, s"stub served ${served.get}, due ${n + retries}")
    val counted = ctr.s20x.value + ctr.s40x.value + ctr.s50x.value + ctr.errors.value
    assert(counted == served.get, s"counters saw $counted of ${served.get} requests")
    val back = spark.read.option("header", "true").csv(out).collect().map(_.getAs[String]("key"))
    assert(back.sorted.toSeq == keys.filterNot(_.stripPrefix("k").toInt % 8 == 0))
  }
}
