package graft.operators

import graft.model.{Options, StageConfig}
import java.net.{URI, URLEncoder}
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets
import java.time.Duration
import java.util.concurrent.{CompletableFuture, LinkedBlockingQueue, RejectedExecutionException,
  ScheduledThreadPoolExecutor, Semaphore, ThreadFactory, ThreadPoolExecutor, TimeUnit}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRow
import org.apache.spark.sql.types.{StringType, StructField, StructType}
import org.apache.spark.util.LongAccumulator
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** Per-row HTTP enrichment — reference `rest` stage (O14,
  * /root/reference/filters.py:17-89 + /root/reference/filefilter.py:67-81),
  * rebuilt on Spark's execution model: `mapPartitions` with one pooled
  * java.net.http.HttpClient per partition (the reference's consumer-pool
  * semantics, ConsumerManager.py:24-39, collapse into task slots × this
  * pool):
  *  - `filterThreads` bounds the requests in flight per partition;
  *  - a retry's backoff does not hold a request slot: the row waits on a
  *    timer and re-enters the pool when its attempt is due;
  *  - the window admits at most `filterThreads × 4` unanswered rows
  *    (queued, in flight or backing off), as the reference stalls its
  *    producer only on rows still waiting for a worker
  *    (filefilter.py:179-181): a row that has its answer gives its place
  *    back, so the slots keep sending the rows behind a head that backs
  *    off;
  *  - rows leave in input order: answered rows wait behind the head.
  *    That buffer does not grow with the partition: it holds the rows
  *    the slots answer while the head has none, and the head's answer
  *    is due within its own deadline: `(maxRetries + 1) × timeoutMillis`,
  *    plus its backoffs `retryBackoffMillis × (1 + … + maxRetries)`,
  *    plus, before each attempt, the queue of at most
  *    `filterThreads × 4` unanswered rows.
  *
  * Behavior parity (SURVEY §2c):
  *  - `{col}` templates substituted into path/queryParams/postBody from
  *    the row; an unfilled placeholder drops the row and counts an error
  *    (filters.py:31-33,46-48);
  *  - 2xx appends the response body as string column `newField` (default
  *    `response`, filters.py:78); non-2xx/exception drops the row
  *    (filefilter.py:110-113); status-class accumulators 20X/30X/40X/50X.
  *    Two deliberate softenings of filters.py:73-89: the reference keeps
  *    only status == 200 exactly (201/204 would drop) and re-serializes
  *    the body through json.dumps(response.json()) (crashing on non-JSON
  *    200s); we accept the whole 2xx class and append the body verbatim;
  *  - `rest` stages under `reloadConfigEverySeconds` re-read the config
  *    as they refill the window and resize their pool and window (O18,
  *    filefilter.py:144-171);
  *  - 5xx and IO errors retry up to `maxRetries` times after
  *    `retryBackoffMillis × attempt`; 4xx fails fast;
  *  - POST sends a JSON body with Content-Type: application/json — always
  *    (the reference only POSTs when logHttpRequests is on,
  *    filters.py:63-71; that's the documented bug we fix);
  *  - `logHttpRequests` / `logHttpResponses` (filters.py:41-44,55-71)
  *    emit per-call request lines / 2xx response bodies through
  *    [[RestLog]] (slf4j by default, swappable for tests);
  *  - `queryParams` accepts the reference's templated-string form
  *    ("lat={lat}&lon={lon}", fullExample.yml:63) and a map form;
  *    `urlencodeParams` accepts the reference's boolean (all params)
  *    and a list of param names.
  *
  * Scale note: HTTP side effects re-execute under task retry/speculation;
  * callers should disable speculation for pipelines with rest stages and
  * keep endpoints idempotent (SURVEY §7 hard part 1). A global sort after
  * a rest stage is one more re-run: above
  * `spark.sql.adaptive.coalescePartitions.minPartitionSize` it is Spark's
  * range sort, whose sampling job computes the rest stage a second time
  * (at or below it, [[graft.plans.SmallSortStrategy]] plans no sampling
  * job). Run such pipelines with `checkpointDir`, so the sort reads the
  * rest stage's parquet checkpoint instead.
  */
final case class RestConfig(
    host: String,
    path: String = "",
    method: String = "GET",
    queryParams: Map[String, String] = Map.empty,
    postBody: Map[String, String] = Map.empty,
    urlencodeParams: Set[String] = Set.empty,
    newField: String = "response",
    filterThreads: Int = 1,
    timeoutMillis: Long = 30000L,
    maxRetries: Int = 0,
    retryBackoffMillis: Long = 200L,
    // reference logHttpRequests/logHttpResponses (filters.py:41-44,55-71):
    // per-call request / 2xx-response-body log lines, off by default
    logRequests: Boolean = false,
    logResponses: Boolean = false,
    // config hot-reload (O18, filefilter.py:144-171): every
    // `reloadEverySeconds` the worker pool re-reads `configPath` as it
    // refills its window and resizes to the stage's current filterThreads
    // — the one setting the reference's reload actually applies
    // (setNewThreads).
    // On a cluster the path must be shared storage (executors read it).
    reloadEverySeconds: Int = 0,
    configPath: Option[String] = None)

/** Sink for the reference's logHttpRequests/logHttpResponses lines.
  * Default is the slf4j logger; tests swap in a collector. A static
  * object so the executor-side closure doesn't capture a logger.
  */
object RestLog {
  private val slf = org.slf4j.LoggerFactory.getLogger("graft.rest")
  @volatile var sink: String => Unit = s => slf.info(s)
  def info(s: String): Unit = sink(s)
}

final case class RestCounters(
    s20x: LongAccumulator, s30x: LongAccumulator,
    s40x: LongAccumulator, s50x: LongAccumulator,
    errors: LongAccumulator)

object RestCounters {
  def apply(spark: SparkSession, prefix: String): RestCounters = {
    val sc = spark.sparkContext
    RestCounters(
      sc.longAccumulator(s"$prefix.20X"), sc.longAccumulator(s"$prefix.30X"),
      sc.longAccumulator(s"$prefix.40X"), sc.longAccumulator(s"$prefix.50X"),
      sc.longAccumulator(s"$prefix.errors"))
  }
}

final case class RestStage(name: String, cfg: RestConfig, counters: RestCounters)
    extends Stage {

  override def apply(spark: SparkSession, df: DataFrame): DataFrame = {
    val inSchema = df.schema
    val outSchema = StructType(inSchema.fields :+ StructField(cfg.newField, StringType, nullable = true))
    val c = cfg
    val ctr = counters
    val enc = org.apache.spark.sql.Encoders.row(outSchema)
    val stageName = name
    df.mapPartitions { rows =>
      RestStage.processPartition(rows, inSchema, c, ctr, stageName)
    }(enc)
  }
}

object RestStage {
  private val Placeholder = raw"\{([A-Za-z0-9_]+)\}".r

  /** Driver-side host remapping, applied when a config is LOADED (so it
    * works on a real cluster — nothing executor-side consults it).
    * Lets a harness replay a shipped config verbatim against a stub:
    * `RestStage.hostOverrides = Map("https://restcountries.com" ->
    * s"http://localhost:$port")` — countries.yml e2e, RestStageSpec.
    * Empty in production.
    */
  @volatile var hostOverrides: Map[String, String] = Map.empty

  private[operators] def overrideHost(host: String): String =
    hostOverrides.getOrElse(host, host)

  /** str.format(**row) parity: substitute {col}; None if any placeholder
    * has no matching column / null value.
    */
  private[operators] def substitute(template: String, row: Map[String, Any],
                                    urlencode: Boolean): Option[String] = {
    var ok = true
    val out = Placeholder.replaceAllIn(template, m => {
      row.get(m.group(1)).filter(_ != null) match {
        case Some(v) =>
          val s = v.toString
          java.util.regex.Matcher.quoteReplacement(
            if (urlencode) URLEncoder.encode(s, StandardCharsets.UTF_8) else s)
        case None => ok = false; ""
      }
    })
    if (ok) Some(out) else None
  }

  // escapes per RFC 8259: quotes, backslashes and control characters
  private lazy val jsonMapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def toJson(m: Map[String, String]): String = jsonMapper.writeValueAsString(m.asJava)

  /** Build the request URI for a row, or None if templating failed. */
  def buildUri(cfg: RestConfig, rowMap: Map[String, Any]): Option[String] = {
    val pathOpt = substitute(cfg.path, rowMap, urlencode = false)
    val qpOpts = cfg.queryParams.toSeq.sortBy(_._1).map { case (k, tmpl) =>
      substitute(tmpl, rowMap, cfg.urlencodeParams.contains(k)).map(v => s"$k=$v")
    }
    if (pathOpt.isEmpty || qpOpts.exists(_.isEmpty)) None
    else {
      val qs = qpOpts.flatten.mkString("&")
      Some(cfg.host + pathOpt.get + (if (qs.nonEmpty) "?" + qs else ""))
    }
  }

  private[operators] def processPartition(
      rows: Iterator[Row], inSchema: StructType, cfg: RestConfig,
      ctr: RestCounters, stageName: String = ""): Iterator[Row] = {
    val fieldNames = inSchema.fieldNames
    val client = HttpClient.newBuilder()
      .connectTimeout(Duration.ofMillis(cfg.timeoutMillis))
      .followRedirects(HttpClient.Redirect.NORMAL)
      .build()
    var threads = math.max(1, cfg.filterThreads)
    // named daemons: a leaked thread shows by name and never pins the JVM
    def daemons(kind: String): ThreadFactory = { r =>
      val t = new Thread(r, s"graft-rest-$stageName-$kind"); t.setDaemon(true); t
    }
    // the request slots, resizable so config hot-reload can rescale
    // mid-partition (O18)
    val pool = new ThreadPoolExecutor(threads, threads, 60L, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), daemons("worker"))
    // waits out retry backoffs, so a backing-off row holds no slot
    val scheduler = new ScheduledThreadPoolExecutor(1, daemons("retry"))
    // rows in input order, answered or not; the head leaves only once
    // read, so close() reaches every future a reader awaits
    val window = new LinkedBlockingQueue[CompletableFuture[Option[Row]]]()
    // one permit per row answered since the task thread last counted
    val answered = new Semaphore(0)
    // rows in the window without an answer (at most threads×4); task
    // thread only
    var unanswered = 0
    var lastReload = System.currentTimeMillis()

    /** On every refill of the window: re-read the YAML and apply a
      * changed filterThreads (reference setNewThreads,
      * filefilter.py:144-155). Read errors are logged and skipped — a
      * broken config mid-run must not kill tasks.
      */
    def maybeReload(): Unit =
      if (cfg.reloadEverySeconds > 0 && cfg.configPath.isDefined &&
        System.currentTimeMillis() - lastReload >= cfg.reloadEverySeconds * 1000L) {
        lastReload = System.currentTimeMillis()
        try {
          graft.model.ConfigLoader.fromFile(cfg.configPath.get).filters
            .find(_.name == stageName).map(f => math.max(1, f.filterThreads))
            .filter(_ != threads)
            .foreach { nt =>
              RestLog.info(s"Changing threads for filter $stageName: $threads -> $nt")
              if (nt > threads) { pool.setMaximumPoolSize(nt); pool.setCorePoolSize(nt) }
              else { pool.setCorePoolSize(nt); pool.setMaximumPoolSize(nt) }
              threads = nt
            }
        } catch {
          case NonFatal(e) =>
            RestLog.info(s"Config reload failed for filter $stageName: ${e.getMessage}")
        }
      }

    // runs on exhaustion and, because a downstream limit may stop pulling
    // early or the task may be killed, when the task completes
    def close(): Unit = {
      scheduler.shutdownNow()
      pool.shutdownNow()
      // rows still queued or backing off will never run now
      window.forEach(_.cancel(false))
      pool.awaitTermination(60, TimeUnit.SECONDS)
      scheduler.awaitTermination(60, TimeUnit.SECONDS)
    }
    Option(org.apache.spark.TaskContext.get())
      .foreach(_.addTaskCompletionListener[Unit](_ => close()))

    // pool threads share the task's accumulator copies, whose add is
    // not atomic
    def tally(a: LongAccumulator): Unit = a.synchronized(a.add(1L))

    // every path completes `fut`, a refused execute after close() too, so
    // the reader's get() cannot hang
    def onPool(fut: CompletableFuture[Option[Row]])(work: => Unit): Unit =
      try pool.execute { () =>
        try work catch { case t: Throwable => fut.completeExceptionally(t) }
      } catch { case e: RejectedExecutionException => fut.completeExceptionally(e) }

    // the row's request, or None (an error) if templating fails
    def prepare(rowMap: Map[String, Any]): Option[HttpRequest] =
      buildUri(cfg, rowMap) match {
        case None => tally(ctr.errors); None
        case Some(uri) =>
          // URI building can throw on raw substituted values (spaces
          // etc.) — that's a per-row error (drop + count), never a task
          // failure (filefilter.py:110-113 parity)
          try {
            val b = HttpRequest.newBuilder(URI.create(uri))
              .timeout(Duration.ofMillis(cfg.timeoutMillis))
            Some(cfg.method.toUpperCase match {
              case "POST" =>
                val body = cfg.postBody.map { case (k, tmpl) =>
                  k -> substitute(tmpl, rowMap, urlencode = false).getOrElse("")
                }
                val json = toJson(body)
                if (cfg.logRequests)
                  RestLog.info(s"${cfg.method.toUpperCase} Request: $uri Body: $json")
                b.header("Content-Type", "application/json")
                  .POST(HttpRequest.BodyPublishers.ofString(json)).build()
              case _ =>
                if (cfg.logRequests)
                  RestLog.info(s"${cfg.method.toUpperCase} Request: $uri")
                b.GET().build()
            })
          } catch {
            case NonFatal(_) => tally(ctr.errors); None
          }
      }

    // one attempt on a pool slot: a 5xx or IO error with retries left
    // frees the slot and re-enters the pool after a linear backoff; 4xx
    // fails fast; other non-2xx drop the row (filefilter.py:110-113)
    def send(row: Row, req: HttpRequest, attempt: Int,
             fut: CompletableFuture[Option[Row]]): Unit = {
      val retry =
        try {
          val resp = client.send(req, HttpResponse.BodyHandlers.ofString())
          val sc = resp.statusCode()
          if (sc < 300) tally(ctr.s20x)
          else if (sc < 400) tally(ctr.s30x)
          else if (sc < 500) tally(ctr.s40x)
          else tally(ctr.s50x)
          if (sc >= 200 && sc < 300) {
            if (cfg.logResponses) RestLog.info(s"Response: ${resp.body()}")
            fut.complete(Some(new GenericRow((row.toSeq :+ resp.body()).toArray)))
          }
          sc >= 500 && attempt < cfg.maxRetries
        } catch {
          case NonFatal(_) if attempt < cfg.maxRetries => true
          case NonFatal(_) => tally(ctr.errors); false
        }
      if (!retry) fut.complete(None) // a no-op after a 2xx
      else {
        val again: Runnable = () => onPool(fut)(send(row, req, attempt + 1, fut))
        try scheduler.schedule(again, cfg.retryBackoffMillis * (attempt + 1), TimeUnit.MILLISECONDS)
        catch { case e: RejectedExecutionException => fut.completeExceptionally(e) }
      }
    }

    // Spark's input iterator is not thread-safe: only the task thread
    // refills
    def refill(): Unit = {
      maybeReload()
      unanswered -= answered.drainPermits()
      while (unanswered < threads * 4 && rows.hasNext) {
        val row = rows.next()
        val fut = new CompletableFuture[Option[Row]]()
        fut.whenComplete((_, _) => answered.release())
        window.add(fut)
        unanswered += 1
        onPool(fut) {
          val rowMap = fieldNames.zipWithIndex.map { case (f, i) => f -> row.get(i) }.toMap
          prepare(rowMap) match {
            case Some(req) => send(row, req, 0, fut)
            case None => fut.complete(None)
          }
        }
      }
    }

    new Iterator[Row] {
      private var ready: Option[Row] = None
      override def hasNext: Boolean = {
        while (ready.isEmpty && { refill(); !window.isEmpty }) {
          val head = window.peek()
          if (head.isDone) { ready = head.get(); window.poll() }
          // any row's answer frees a place: wake, refill, look again
          else { answered.acquire(); unanswered -= 1 }
        }
        if (ready.isEmpty) close()
        ready.isDefined
      }
      override def next(): Row =
        if (!hasNext) throw new NoSuchElementException("rest stage exhausted")
        else try ready.get finally ready = None
    }
  }

  def fromConfig(spark: SparkSession, cfg: StageConfig,
                 reloadEverySeconds: Int = 0,
                 configPath: Option[String] = None): RestStage = {
    val o = Options(cfg)
    // queryParams in the reference is one templated string
    // "lat={lat}&lon={lon}" (fullExample.yml:63); we also accept the
    // map form {lat: "{lat}"} — both fill from the row.
    val qp: Map[String, String] =
      if (o.isMap("queryParams")) o.map[String]("queryParams").toMap
      else o.get[String]("queryParams").fold(Map.empty[String, String])(
        _.split("&").filter(_.contains("=")).map { kv =>
          val Array(k, v) = kv.split("=", 2); k -> v
        }.toMap)
    // urlencodeParams in the reference is a single boolean applying to
    // every param (filters.py:38); the list form names specific keys.
    val urlenc: Set[String] =
      if (o.isList("urlencodeParams")) o.list[String]("urlencodeParams").toSet
      else if (o("urlencodeParams", false)) qp.keySet
      else Set.empty
    // reference joins host and path with '/' (filters.py:52
    // url = f"{host}/{path}"), so configs write path without a leading
    // slash (countries.yml:13) — normalize to our host+path concat
    val rawPath = o("path", "")
    val rc = RestConfig(
      host = RestStage.overrideHost(o.get[String]("host").getOrElse(
        throw new IllegalArgumentException(s"${cfg.name}: rest stage needs host"))),
      path = if (rawPath.isEmpty || rawPath.startsWith("/")) rawPath else "/" + rawPath,
      method = o("method", "GET"),
      queryParams = qp,
      postBody = o.map[String]("postBody").toMap,
      urlencodeParams = urlenc,
      newField = o("newField", "response"),
      filterThreads = cfg.filterThreads,
      timeoutMillis = o("timeoutMillis", 30000L),
      maxRetries = o("maxRetries", 0),
      retryBackoffMillis = o("retryBackoffMillis", 200L),
      logRequests = o("logHttpRequests", false),
      logResponses = o("logHttpResponses", false),
      reloadEverySeconds = reloadEverySeconds,
      configPath = configPath)
    RestStage(cfg.name, rc, RestCounters(spark, cfg.name))
  }
}
