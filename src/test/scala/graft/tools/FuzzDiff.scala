package graft.tools

import graft.GraftSession

import scala.util.Random

/** Differential SQL fuzzer (r16): generates deterministic random
  * queries over the dialect surface both engines execute — arithmetic /
  * CASE / string functions, WHERE predicates, GROUP BY aggregates,
  * QUALIFY, DISTINCT ON, bracket slices, inline agg ORDER BY, joins,
  * set ops, date parts — runs each through SqlStage and dumps Verify's
  * layout (outDir/<name>/ parquet + oracle_sql.json), so the existing
  * oracle mimic replays the IDENTICAL text in DuckDB:
  *
  *   sbt "Test/runMain graft.tools.FuzzDiff /root/testdata/sf0.001 /tmp/fuzz 1 150"
  *   python3 tools/check.py /root/testdata/sf0.001 /tmp/fuzz
  *
  * Grammar constraints keep the comparison exact: integer/string/bool/
  * date outputs only (no float accumulation), BIGINT sums CAST past
  * DuckDB's HUGEINT widening, modulo-bounded products (no overflow
  * divergence), `//` for integer division (DuckDB's `/` is float), and
  * every under-specified order pinned by a unique key. Seeds are part
  * of the command line, so a found divergence replays exactly.
  */
object FuzzDiff {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val outDir = args.lift(1).getOrElse("/tmp/graft_fuzz")
    val seed = args.lift(2).map(_.toLong).getOrElse(1L)
    val n = args.lift(3).map(_.toInt).getOrElse(150)
    val spark = GraftSession.builder("local[8]", Some(8))
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(spark)
    Seq("lineitem", "orders", "nation", "customer", "documents", "events").foreach { t =>
      spark.read.parquet(s"$sfDir/$t.parquet").createOrReplaceTempView(t)
    }
    val only: Option[Set[Int]] =
      args.lift(4).map(_.split(",").map(_.trim.toInt).toSet)
    val rnd = new Random(seed)
    val queries = generate(rnd, n, only)
    new java.io.File(outDir).mkdirs()
    val df = spark.range(1).toDF("z")
    var failed = 0
    queries.foreach { case (name, sql) =>
      try {
        graft.operators.SqlStage(name, sql).apply(spark, df)
          .write.mode("overwrite").parquet(s"$outDir/$name")
      } catch {
        case scala.util.control.NonFatal(e) =>
          failed += 1
          println(s"[fuzz] THREW $name :: ${e.getClass.getSimpleName}: " +
            s"${Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString.take(140)}")
          println(s"[fuzz]   sql: ${sql.replaceAll("\\s+", " ")}")
      }
    }
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c => c.toString
    }
    val json = queries.map { case (k, v) => "\"" + k + "\": \"" + esc(v) + "\"" }
      .mkString("{", ", ", "}")
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$outDir/oracle_sql.json"),
      json.getBytes("UTF-8"))
    println(s"[fuzz] wrote ${queries.size} queries (seed=$seed), $failed threw, " +
      s"layout at $outDir — replay: python3 tools/check.py $sfDir $outDir")
    spark.stop()
    if (failed > 0) sys.exit(1)
  }

  // --- grammar ------------------------------------------------------
  /** Tie-proof ORDER BY tail for LIMIT templates: (l_orderkey,
    * l_linenumber) is NOT unique in the synthetic lineitem (seed-2
    * found a 3-way tie at a LIMIT boundary — an under-specified query,
    * not an engine bug), so LIMIT cuts order by an md5 over every
    * source column the expressions read. Two rows tying on THIS key
    * agree on all six columns, so either engine's pick yields identical
    * output rows.
    */
  private val liTiebreak =
    "md5(CAST(l_orderkey AS VARCHAR) || '|' || CAST(l_linenumber AS VARCHAR)" +
      " || '|' || CAST(l_partkey AS VARCHAR) || '|' || CAST(l_suppkey AS VARCHAR)" +
      " || '|' || l_returnflag || '|' || l_linestatus)"
  private val intCols = Seq("l_orderkey", "l_partkey", "l_suppkey",
    "CAST(l_linenumber AS BIGINT)")
  private val strCols = Seq("l_returnflag", "l_linestatus")
  private val primes = Seq(7, 13, 97, 997, 9973)

  private def intAtom(r: Random): String = r.nextInt(3) match {
    case 0 => s"(${intCols(r.nextInt(intCols.size))} % ${primes(r.nextInt(primes.size))})"
    case 1 => (r.nextInt(200) - 100).toString
    case _ => s"abs(${intCols(r.nextInt(intCols.size))} % ${primes(r.nextInt(primes.size))})"
  }

  /** Bounded integer expression: every operand is modulo-bounded, so
    * products stay far below BIGINT overflow (no widening divergence).
    */
  private def intExpr(r: Random, depth: Int = 2): String =
    if (depth == 0) intAtom(r)
    else r.nextInt(6) match {
      case 0 => s"(${intExpr(r, depth - 1)} + ${intExpr(r, depth - 1)})"
      case 1 => s"(${intExpr(r, depth - 1)} - ${intExpr(r, depth - 1)})"
      case 2 => s"(${intExpr(r, depth - 1)} * ${intExpr(r, depth - 1)})"
      // integer division: `//` in both dialects (DuckDB's `/` is float);
      // divisor shifted positive so both engines agree on the row set
      case 3 => s"(${intExpr(r, depth - 1)} // ${primes(r.nextInt(primes.size))})"
      case 4 => s"(CASE WHEN ${pred(r, 1)} THEN ${intExpr(r, depth - 1)} " +
        s"ELSE ${intExpr(r, depth - 1)} END)"
      case _ => s"greatest(${intExpr(r, depth - 1)}, ${intExpr(r, depth - 1)})"
    }

  private def strExpr(r: Random, depth: Int = 2): String =
    if (depth == 0) strCols(r.nextInt(strCols.size))
    else r.nextInt(9) match {
      case 0 => s"upper(${strExpr(r, depth - 1)})"
      case 1 => s"lower(${strExpr(r, depth - 1)})"
      case 2 => s"(${strExpr(r, depth - 1)} || ${strExpr(r, depth - 1)})"
      case 3 => s"substr(${strExpr(r, depth - 1)} || 'xyzw', 1, ${1 + r.nextInt(4)})"
      case 4 => s"replace(${strExpr(r, depth - 1)}, 'A', 'q')"
      case 5 => s"left(${strExpr(r, depth - 1)} || 'pq', ${1 + r.nextInt(3)})"
      case 6 => s"lpad(${strExpr(r, depth - 1)}, ${2 + r.nextInt(4)}, '_')"
      case 7 => s"trim(' ' || ${strExpr(r, depth - 1)} || ' ')"
      case _ => s"reverse(${strExpr(r, depth - 1)})"
    }

  private def pred(r: Random, depth: Int = 2): String =
    if (depth == 0) r.nextInt(7) match {
      case 0 => s"${intExpr(r, 1)} ${Seq("<", "<=", ">", ">=", "=", "<>")(r.nextInt(6))} ${intExpr(r, 1)}"
      case 1 => s"${strExpr(r, 1)} LIKE '${Seq("A%", "%F", "_O%", "R%")(r.nextInt(4))}'"
      case 2 => s"${intCols(r.nextInt(intCols.size))} % ${primes(r.nextInt(3))} IN (0, 1, 2)"
      case 3 => s"${strExpr(r, 1)} ILIKE '${Seq("a%", "%f", "_o%", "r%")(r.nextInt(4))}'"
      case 4 => s"${strExpr(r, 1)} SIMILAR TO '${Seq("[AN].*", ".*F", "R.?")(r.nextInt(3))}'"
      case 5 => s"${intExpr(r, 1)} BETWEEN ${r.nextInt(20) - 10} AND ${20 + r.nextInt(80)}"
      case _ => s"${strCols(r.nextInt(strCols.size))} IN ('A', 'N')"
    }
    else r.nextInt(3) match {
      case 0 => s"(${pred(r, depth - 1)} AND ${pred(r, depth - 1)})"
      case 1 => s"(${pred(r, depth - 1)} OR ${pred(r, depth - 1)})"
      case _ => s"(NOT ${pred(r, depth - 1)})"
    }

  private def aggExpr(r: Random, e: String): String = r.nextInt(5) match {
    // CAST past DuckDB's sum(BIGINT) → HUGEINT widening
    case 0 => s"CAST(sum($e) AS BIGINT)"
    case 1 => s"min($e)"
    case 2 => s"max($e)"
    case 3 => s"count(DISTINCT $e)"
    case _ => s"count(*)"
  }

  /** `only`: optional template whitelist (arg 5, comma-separated ints)
    * so a new band can be hammered directly — rejected draws are simply
    * redrawn, so the same (seed, only) pair still replays exactly.
    */
  private[tools] def generate(r: Random, n: Int,
      only: Option[Set[Int]] = None): Seq[(String, String)] =
    (1 to n).map { i =>
      val name = f"fz$i%03d"
      val tpl = Iterator.continually(r.nextInt(66))
        .find(t => only.forall(_.contains(t))).get
      val sql = tpl match {
        case 0 => // plain projection + filter, pinned order
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              ${intExpr(r)} AS e1, ${strExpr(r)} AS s1
              FROM lineitem WHERE ${pred(r)}
              ORDER BY k, ln, $liTiebreak LIMIT ${50 + r.nextInt(200)}"""
        case 1 => // grouped aggregates (half the draws use DuckDB's
          // GROUP BY ALL spelling — Spark 4.1 parses it natively too)
          val by = if (r.nextBoolean()) "ALL" else "g, g2"
          s"""SELECT ${strCols(r.nextInt(strCols.size))} AS g,
              (l_orderkey % ${primes(r.nextInt(3))}) AS g2,
              ${aggExpr(r, intExpr(r, 1))} AS a1,
              ${aggExpr(r, intExpr(r, 1))} AS a2, count(*) AS n
              FROM lineitem WHERE ${pred(r, 1)} GROUP BY $by"""
        case 2 => // QUALIFY top-1 per group (total order: tiebreak keys)
          s"""SELECT l_returnflag AS g, l_orderkey AS k, l_linenumber AS ln
              FROM lineitem WHERE ${pred(r, 1)}
              QUALIFY row_number() OVER (PARTITION BY l_returnflag
                ORDER BY l_orderkey, l_linenumber) = ${1 + r.nextInt(3)}"""
        case 3 => // DISTINCT ON with deterministic order
          s"""SELECT DISTINCT ON (l_linestatus) l_linestatus AS g,
              l_orderkey AS k, l_linenumber AS ln
              FROM lineitem WHERE ${pred(r, 1)}
              ORDER BY l_linestatus, l_orderkey, l_linenumber"""
        case 4 => // bracket slice + list ops over documents tokens
          s"""SELECT doc_id,
              array_to_string(split(text, ' ')[${1 + r.nextInt(2)}:${3 + r.nextInt(3)}], '_') AS sl,
              len(split(text, ' ')) AS nw
              FROM documents ORDER BY doc_id LIMIT 200"""
        case 5 => // join + grouped count
          s"""SELECT n_name AS g, count(*) AS n,
              min(c_custkey % 997) AS m
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE ${Seq("c_custkey % 3 = 0", "c_acctbal > 0", "c_custkey % 2 = 1")(r.nextInt(3))}
              GROUP BY g"""
        case 6 => // set ops between filtered projections
          val op = Seq("UNION", "INTERSECT", "EXCEPT", "UNION ALL")(r.nextInt(4))
          s"""SELECT l_orderkey % 997 AS k FROM lineitem WHERE ${pred(r, 1)}
              $op
              SELECT l_orderkey % 997 AS k FROM lineitem WHERE ${pred(r, 1)}"""
        case 7 => // date parts + strftime over orders
          s"""SELECT o_orderkey AS k,
              CAST(year(o_orderdate) AS INT) AS y,
              CAST(month(o_orderdate) AS INT) AS mo,
              strftime(CAST(o_orderdate AS TIMESTAMP), '%Y/%m/%d') AS s
              FROM orders WHERE o_orderkey % ${2 + r.nextInt(5)} = 0
              ORDER BY k, md5(CAST(o_orderkey AS VARCHAR) || strftime(CAST(o_orderdate AS TIMESTAMP), '%Y%m%d')) LIMIT 300"""
        case 8 => // inline agg ORDER BY (string_agg rewrite)
          s"""SELECT l_returnflag AS g,
              string_agg(CAST(l_orderkey % 97 AS VARCHAR), ','
                ORDER BY l_orderkey, l_linenumber) AS sa,
              count(*) AS n
              FROM lineitem WHERE ${pred(r, 1)} GROUP BY g"""
        case 9 => // scalar battery over one pinned row set
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              ${intExpr(r, 3)} AS e1,
              (CASE WHEN ${pred(r)} THEN 'y' ELSE 'n' END) AS c1,
              length(${strExpr(r)}) AS l1
              FROM lineitem WHERE l_orderkey < 100 ORDER BY k, ln, $liTiebreak"""
        case 10 => // window battery with a named WINDOW over a total order
          // row_number/lag need a TOTAL order (the md5 tiebreak); rank's
          // ties are deterministic by definition; window sums CAST past
          // DuckDB's HUGEINT widening
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              row_number() OVER w AS rn,
              lag(l_orderkey % 97, 1, -1) OVER w AS lg,
              CAST(sum(l_suppkey % 97) OVER (w ROWS BETWEEN ${1 + r.nextInt(3)} PRECEDING
                AND CURRENT ROW) AS BIGINT) AS sm,
              CAST(rank() OVER (PARTITION BY l_returnflag ORDER BY l_orderkey % ${primes(r.nextInt(3))}) AS BIGINT) AS rk
              FROM lineitem WHERE ${pred(r, 1)}
              WINDOW w AS (PARTITION BY l_returnflag ORDER BY $liTiebreak)"""
        case 11 => // IN-subquery semi filter + group
          s"""SELECT (l_orderkey % 97) AS g, count(*) AS n,
              min(abs(l_partkey % 997)) AS m
              FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                                   WHERE o_orderkey % ${2 + r.nextInt(6)} = ${r.nextInt(2)})
                AND ${pred(r, 1)}
              GROUP BY g"""
        case 12 => // HAVING over grouped aggregates
          s"""SELECT l_returnflag AS g, (l_suppkey % ${primes(r.nextInt(3))}) AS g2,
              count(*) AS n, max(l_orderkey % 997) AS mx
              FROM lineitem GROUP BY g, g2
              HAVING count(*) > ${1 + r.nextInt(5)} AND min(l_orderkey % 7) <= ${r.nextInt(6)}"""
        case 13 => // ROLLUP with NULL-producing super-aggregate rows —
          // INCLUDING sometimes-empty inputs: the r16 empty-input
          // grand-total divergence (seed-10) is CLOSED in r17 by the
          // SqlStage emptiness-probe arm, so one branch in three
          // filters to provably zero rows on purpose
          s"""SELECT l_returnflag AS g, l_linestatus AS g2,
              count(*) AS n, CAST(sum(l_orderkey % 97) AS BIGINT) AS s
              FROM lineitem WHERE ${
                if (r.nextInt(3) == 0) s"l_orderkey < -${1 + r.nextInt(5)}"
                else s"l_orderkey % ${2 + r.nextInt(5)} = ${r.nextInt(2)}"}
              GROUP BY ROLLUP (g, g2)"""
        case 14 => // star EXCLUDE + REPLACE expansion (no LIMIT — the
          // compare sorts rows, so no order pin is needed)
          s"""SELECT * EXCLUDE (l_quantity, l_extendedprice, l_discount, l_tax, l_shipdate)
              REPLACE ((l_orderkey % 997) AS l_orderkey)
              FROM lineitem WHERE ${pred(r, 1)}"""
        case 15 => // json build + extract (q180's probed rendering)
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              json_object('a', l_orderkey % ${primes(r.nextInt(3))}, 'f', l_returnflag) AS j,
              json_extract_string(json_object('x', l_linestatus), '$$.x') AS jx
              FROM lineitem WHERE l_orderkey < ${100 + r.nextInt(200)}"""
        case 16 => // date function battery (quoted date_diff, dayname, isodow)
          s"""SELECT o_orderkey AS k,
              CAST(date_trunc('month', o_orderdate) AS DATE) AS mth,
              CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS BIGINT) AS dd,
              dayname(o_orderdate) AS dn,
              CAST(isodow(o_orderdate) AS BIGINT) AS dw
              FROM orders WHERE o_orderkey % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"""
        case 17 => // COLUMNS() star-pattern expansion over a named table
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              COLUMNS('l_.*key') % ${primes(r.nextInt(3))}
              FROM lineitem WHERE l_orderkey < ${100 + r.nextInt(150)}"""
        case 18 => // list comprehension over split tokens (rendered to
          // strings — the compare harness can't sort raw list columns)
          s"""SELECT doc_id,
              array_to_string([length(x) FOR x IN string_split(substr(text, 1, ${30 + r.nextInt(30)}), ' ')], ',') AS ls,
              array_to_string([upper(x) FOR x IN string_split(substr(text, 1, 25), ' ') IF length(x) > ${1 + r.nextInt(3)}], ',') AS us
              FROM documents WHERE doc_id % ${2 + r.nextInt(3)} = ${r.nextInt(2)}"""
        case 20 => // DML statement batch: CTAS -> UPDATE -> DELETE ->
          // SELECT (both engines run the identical batch; the final
          // SELECT's relation is compared). CREATE OR REPLACE makes the
          // shared name safe across sequential fuzz queries.
          s"""CREATE OR REPLACE TEMP TABLE fz_dml AS
              SELECT l_orderkey AS k, l_linenumber AS ln,
                     (l_orderkey % 97) AS v, l_returnflag AS f
              FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(200)};
              UPDATE fz_dml SET v = v + ${1 + r.nextInt(50)} WHERE k % ${2 + r.nextInt(4)} = ${r.nextInt(2)};
              DELETE FROM fz_dml WHERE v % ${2 + r.nextInt(5)} = ${r.nextInt(2)};
              SELECT k, ln, v, f FROM fz_dml"""
        case 21 => // UPSERT batch over a declared PRIMARY KEY: both
          // engines run the identical conflict-resolution text; sources
          // are GROUP BY'd so no batch carries in-batch duplicate keys
          // (DuckDB errors there — a separate probed semantic)
          val action = r.nextInt(3) match {
            case 0 => s"ON CONFLICT (k) DO UPDATE SET v = excluded.v + ${1 + r.nextInt(9)}"
            case 1 => "ON CONFLICT (k) DO NOTHING"
            case _ => "ON CONFLICT DO NOTHING"
          }
          s"""DROP TABLE IF EXISTS fz_up;
              CREATE TEMP TABLE fz_up (k BIGINT PRIMARY KEY, v BIGINT);
              INSERT INTO fz_up SELECT (l_orderkey % ${5 + r.nextInt(20)}) AS k,
                CAST(min(l_partkey % 997) AS BIGINT) AS v
                FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(150)} GROUP BY 1;
              INSERT INTO fz_up SELECT (l_orderkey % ${5 + r.nextInt(30)}) AS k,
                CAST(max(l_suppkey % 97) AS BIGINT) AS v
                FROM lineitem WHERE l_orderkey < ${100 + r.nextInt(100)} GROUP BY 1
                $action;
              SELECT k, v FROM fz_up"""
        case 22 => // CTE chain: filtered base -> grouped agg -> HAVING-ish
          s"""WITH base AS (
              SELECT l_orderkey AS k, l_linenumber AS ln,
                     (l_partkey % ${primes(r.nextInt(3))}) AS v, l_returnflag AS f
              FROM lineitem WHERE ${pred(r, 1)}
              ), agg AS (
              SELECT f, (k % ${primes(r.nextInt(3))}) AS g,
                     CAST(sum(v) AS BIGINT) AS s, count(*) AS n
              FROM base GROUP BY f, g
              )
              SELECT f, g, s, n FROM agg WHERE n > ${r.nextInt(4)}"""
        case 23 => // correlated [NOT] EXISTS semi/anti filter
          val neg = if (r.nextBoolean()) "" else "NOT "
          s"""SELECT o_orderkey AS k, o_orderstatus AS st
              FROM orders o
              WHERE ${neg}EXISTS (SELECT 1 FROM lineitem l
                WHERE l.l_orderkey = o.o_orderkey AND ${pred(r, 1)})
                AND o_orderkey < ${300 + r.nextInt(400)}"""
        case 24 => // FILTER'd aggregates + arg_max/arg_min over a unique
          // order key (the md5 tiebreak — a tied arg_max is
          // under-specified, not a differential signal)
          s"""SELECT l_returnflag AS g,
              count(*) FILTER (WHERE ${pred(r, 1)}) AS cf,
              CAST(sum(l_suppkey % 97) FILTER (WHERE l_linenumber > ${1 + r.nextInt(4)}) AS BIGINT) AS sf,
              arg_max(l_orderkey % 997, $liTiebreak) AS am,
              arg_min(l_partkey % 997, $liTiebreak) AS an
              FROM lineitem WHERE ${pred(r, 1)} GROUP BY g"""
        case 25 => // INTERVAL arithmetic on order dates
          s"""SELECT o_orderkey AS k,
              CAST(o_orderdate + INTERVAL ${1 + r.nextInt(30)} DAY AS DATE) AS d1,
              CAST(o_orderdate - INTERVAL ${1 + r.nextInt(11)} MONTH AS DATE) AS d2,
              CAST(o_orderdate + INTERVAL ${1 + r.nextInt(3)} YEAR AS DATE) AS d3
              FROM orders WHERE o_orderkey % ${2 + r.nextInt(5)} = ${r.nextInt(2)}"""
        case 26 => // VALUES inline table joined as a decode dimension
          s"""SELECT v.nm AS nm, count(*) AS n,
              CAST(sum(l_orderkey % ${primes(r.nextInt(3))}) AS BIGINT) AS s
              FROM lineitem
              JOIN (VALUES ('A', 'alpha'), ('N', 'november'), ('R', 'romeo'))
                AS v(f, nm) ON l_returnflag = v.f
              WHERE ${pred(r, 1)} GROUP BY nm"""
        case 27 => // RANGE window frame over an integer order key
          // (tie-inclusive by definition, so duplicate order keys are
          // deterministic — unlike ROWS, which would need a total order)
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              CAST(sum(l_suppkey % 97) OVER (PARTITION BY l_returnflag
                ORDER BY l_orderkey
                RANGE BETWEEN ${1 + r.nextInt(50)} PRECEDING AND CURRENT ROW) AS BIGINT) AS rs,
              CAST(count(*) OVER (PARTITION BY l_linestatus ORDER BY l_orderkey
                RANGE BETWEEN CURRENT ROW AND ${1 + r.nextInt(50)} FOLLOWING) AS BIGINT) AS rc
              FROM lineitem WHERE ${pred(r, 1)}"""
        case 28 => // WITH RECURSIVE bounded sequence (modular product
          // keeps the accumulator in BIGINT in both engines)
          val lim = 5 + r.nextInt(16)
          s"""WITH RECURSIVE s(i, acc) AS (
              SELECT 1, 1
              UNION ALL
              SELECT i + 1, (acc * (i + 1)) % ${primes(3 + r.nextInt(2))} FROM s WHERE i < $lim
              )
              SELECT i, acc FROM s"""
        case 29 => // ASOF JOIN events to a sparser event sample — only
          // the asof-ordered column is projected, so a tie on b.ts
          // yields identical output whichever row either engine keeps
          s"""SELECT a.event_id AS k,
              strftime(b.ts, '%Y-%m-%d %H:%M:%S.%f') AS bts
              FROM events a ASOF JOIN
                (SELECT user_id, ts FROM events WHERE event_id % ${3 + r.nextInt(5)} = ${r.nextInt(3)}) b
                ON a.user_id = b.user_id AND a.ts ${if (r.nextBoolean()) ">" else ">="} b.ts
              WHERE a.event_id % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"""
        case 30 => // PIVOT ON a bounded category (USING takes BARE
          // aggregates — DuckDB rejects CAST-wrapped ones; min/count
          // avoid the sum->HUGEINT widening divergence)
          s"""PIVOT (SELECT l_returnflag AS f, l_linestatus AS s,
              (l_orderkey % ${primes(r.nextInt(3))}) AS v
              FROM lineitem WHERE ${pred(r, 1)})
              ON s USING min(v) AS mv, count(*) AS c GROUP BY f"""
        case 31 => // TRY_CAST battery: non-numeric -> NULL, range spill
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              TRY_CAST(l_returnflag AS INT) AS a,
              TRY_CAST(CAST(l_orderkey % ${200 + r.nextInt(300)} AS VARCHAR) AS SMALLINT) AS b,
              TRY_CAST('${r.nextInt(99)}x' AS INT) AS c
              FROM lineitem WHERE l_orderkey < ${100 + r.nextInt(200)}"""
        case 32 => // list lambdas over split tokens
          s"""SELECT doc_id,
              array_to_string(list_transform(string_split(substr(text, 1, ${30 + r.nextInt(30)}), ' '), x -> upper(x)), ',') AS u,
              array_to_string(list_filter(string_split(substr(text, 1, 40), ' '), x -> length(x) > ${2 + r.nextInt(3)}), ',') AS f
              FROM documents WHERE doc_id % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"""
        case 33 => // explicit GROUPING SETS — also over sometimes-empty
          // inputs since r17 (the emptiness-probe arm handles the
          // grand-total rows; a set list WITHOUT () stays zero-row on
          // both engines)
          s"""SELECT l_returnflag AS g, l_linestatus AS g2, count(*) AS n,
              CAST(sum(l_suppkey % 97) AS BIGINT) AS s
              FROM lineitem WHERE ${
                if (r.nextInt(3) == 0) s"l_orderkey < -${1 + r.nextInt(4)}"
                else s"l_orderkey % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"}
              GROUP BY GROUPING SETS (${
                if (r.nextInt(4) == 0) "(g), (g2), (g, g2)"
                else "(g), (g2), (g, g2), ()"})"""
        case 34 => // ntile/first_value over a TOTAL per-partition order
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              ntile(${2 + r.nextInt(5)}) OVER (PARTITION BY l_returnflag
                ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS nt,
              first_value(l_orderkey % 997) OVER (PARTITION BY l_linestatus
                ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey) AS fv
              FROM lineitem WHERE l_orderkey < ${200 + r.nextInt(200)}"""
        case 35 => // correlated scalar subqueries in the select list
          s"""SELECT o_orderkey AS k,
              (SELECT count(*) FROM lineitem WHERE l_orderkey = o_orderkey
                 AND ${pred(r, 1)}) AS nl,
              (SELECT CAST(min(l_partkey % 997) AS BIGINT) FROM lineitem
                 WHERE l_orderkey = o_orderkey) AS mp
              FROM orders WHERE o_orderkey < ${200 + r.nextInt(300)}"""
        case 36 => // regex battery (patterns restricted to the class
          // both RE2 and Java regex read identically)
          s"""SELECT doc_id,
              regexp_extract(text, '([a-z]+) ([a-z]+)', ${1 + r.nextInt(2)}) AS r1,
              regexp_matches(text, '${Seq("the|spark", "data", "qu[ae]ry", "^[bf]")(r.nextInt(4))}') AS m,
              regexp_replace(substr(text, 1, ${20 + r.nextInt(20)}), '[aeiou]', '_', 'g') AS rr
              FROM documents WHERE doc_id % ${2 + r.nextInt(3)} = ${r.nextInt(2)}"""
        case 37 => // NULL-algebra scalars over TRY_CAST misses
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              NULLIF(l_returnflag, '${Seq("A", "N", "R")(r.nextInt(3))}') AS nf,
              COALESCE(NULLIF(l_linestatus, 'O'), '${('a' + r.nextInt(26)).toChar}') AS co,
              IFNULL(TRY_CAST(l_returnflag AS INT), ${-5 + r.nextInt(10)}) AS inn
              FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(150)}"""
        case 38 => // date_part battery + epoch seconds
          s"""SELECT o_orderkey AS k,
              CAST(date_part('week', o_orderdate) AS BIGINT) AS w,
              CAST(date_part('quarter', o_orderdate) AS BIGINT) AS q,
              CAST(date_part('doy', o_orderdate) AS BIGINT) AS dy,
              CAST(epoch(o_orderdate) AS BIGINT) AS ep
              FROM orders WHERE o_orderkey % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"""
        case 39 => // CTE feeding a QUALIFY'd window — stacked rewrites
          s"""WITH base AS (
              SELECT l_orderkey AS k, l_linenumber AS ln, l_returnflag AS f,
                     (l_partkey % ${primes(r.nextInt(3))}) AS v
              FROM lineitem WHERE ${pred(r, 1)}
              )
              SELECT f, k, ln, v
              FROM base
              QUALIFY row_number() OVER (PARTITION BY f ORDER BY v, k, ln) <= ${2 + r.nextInt(4)}"""
        case 40 => // ROLLUP + grouping() marker over a join
          s"""SELECT n_name AS g, c_mktsegment AS g2,
              CAST(grouping(n_name) AS BIGINT) AS gm,
              CAST(grouping(c_mktsegment) AS BIGINT) AS gm2, count(*) AS n
              FROM customer JOIN nation ON c_nationkey = n_nationkey
              WHERE c_custkey % ${2 + r.nextInt(4)} = ${r.nextInt(2)}
              GROUP BY ROLLUP (g, g2)"""
        case 41 => // EXISTS + grouped HAVING + set op
          s"""SELECT o_orderstatus AS g, count(*) AS n FROM orders o
              WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o.o_orderkey
                AND ${pred(r, 1)})
              GROUP BY g HAVING count(*) > ${1 + r.nextInt(4)}
              UNION ALL
              SELECT 'x' AS g, count(*) AS n FROM orders WHERE o_orderkey % ${3 + r.nextInt(4)} = 0"""
        case 42 => // diamond CTE: one CTE consumed twice (self-join)
          s"""WITH c AS (
              SELECT (l_orderkey % ${primes(2 + r.nextInt(3))}) AS g,
                     count(*) AS n, CAST(sum(l_suppkey % 97) AS BIGINT) AS s
              FROM lineitem WHERE ${pred(r, 1)} GROUP BY g
              )
              SELECT a.g AS g, a.n AS an, b.n AS bn, (a.s - b.s) AS ds
              FROM c a JOIN c b ON a.g = (b.g + ${1 + r.nextInt(5)})"""
        case 43 => // window over a join result, named + RANGE extension
          s"""SELECT o_orderkey AS k, n AS nl,
              CAST(sum(n) OVER (w RANGE BETWEEN ${5 + r.nextInt(50)} PRECEDING
                AND CURRENT ROW) AS BIGINT) AS rs
              FROM (SELECT o_orderkey, o_orderstatus, count(*) AS n
                    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                    WHERE o_orderkey < ${500 + r.nextInt(500)}
                    GROUP BY o_orderkey, o_orderstatus) j
              WINDOW w AS (PARTITION BY o_orderstatus ORDER BY o_orderkey)"""
        case 44 => // string-function battery both engines share
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              split_part(l_returnflag || '-' || l_linestatus, '-', ${1 + r.nextInt(2)}) AS sp,
              repeat(${strExpr(r, 1)}, ${1 + r.nextInt(3)}) AS rp,
              translate(l_returnflag || l_linestatus, 'ANROF', 'anrof') AS tr,
              CAST(position('O' IN l_returnflag || l_linestatus) AS BIGINT) AS ps
              FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(200)}"""
        case 45 => // LATERAL correlated subquery in the FROM list
          s"""SELECT o_orderkey AS k, l.mx AS mx, l.n AS n
              FROM orders o, LATERAL (
                SELECT max(l_partkey % ${primes(r.nextInt(3))}) AS mx, count(*) AS n
                FROM lineitem WHERE l_orderkey = o.o_orderkey AND ${pred(r, 1)}) l
              WHERE o_orderkey < ${200 + r.nextInt(200)}"""
        case 46 => // unnest exploding split tokens to rows
          s"""SELECT doc_id,
              unnest(string_split(substr(text, 1, ${20 + r.nextInt(30)}), ' ')) AS w
              FROM documents WHERE doc_id % ${2 + r.nextInt(3)} = ${r.nextInt(2)}"""
        case 47 => // struct_pack field access + MAP two-list subscript
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              struct_pack(a := l_orderkey % ${primes(r.nextInt(3))}, f := l_returnflag).a AS sa,
              map(['x', 'y'], [l_orderkey % 7, l_suppkey % 7])['${Seq("x", "y", "z")(r.nextInt(3))}'][1] AS mv
              FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(150)}"""
        case 48 => // rank-fraction windows rounded to a shared precision
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              round(percent_rank() OVER (PARTITION BY l_returnflag
                ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey), 6) AS pr,
              round(cume_dist() OVER (PARTITION BY l_linestatus
                ORDER BY l_orderkey, l_linenumber, l_partkey, l_suppkey), 6) AS cd
              FROM lineitem WHERE l_orderkey < ${200 + r.nextInt(200)}"""
        case 49 => // concat_ws over mixed columns
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              concat_ws('${Seq("-", "|", "~")(r.nextInt(3))}', l_returnflag,
                l_linestatus, CAST(l_linenumber AS VARCHAR)) AS c
              FROM lineitem WHERE ${pred(r, 1)}"""
        case 50 => // list_aggregate + list_distinct over split tokens
          s"""SELECT doc_id,
              CAST(list_aggregate(list_transform(string_split(substr(text, 1, ${30 + r.nextInt(30)}), ' '),
                x -> length(x)), '${Seq("sum", "min", "max")(r.nextInt(3))}') AS BIGINT) AS ls,
              len(list_distinct(string_split(substr(text, 1, 40), ' '))) AS ld
              FROM documents WHERE doc_id % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"""
        case 51 => // bag-semantics set ops (ALL variants)
          val op = Seq("INTERSECT ALL", "EXCEPT ALL")(r.nextInt(2))
          s"""SELECT (l_orderkey % ${primes(r.nextInt(3))}) AS k, l_returnflag AS f
              FROM lineitem WHERE ${pred(r, 1)}
              $op
              SELECT (l_orderkey % ${primes(r.nextInt(3))}) AS k, l_returnflag AS f
              FROM lineitem WHERE ${pred(r, 1)}"""
        case 52 => // LIMIT/OFFSET pagination over a total order
          s"""SELECT l_orderkey AS k, l_linenumber AS ln, ${intExpr(r, 1)} AS e
              FROM lineitem WHERE ${pred(r, 1)}
              ORDER BY $liTiebreak
              LIMIT ${20 + r.nextInt(80)} OFFSET ${r.nextInt(50)}"""
        case 53 => // string bracket slices (1-based inclusive, negatives)
          s"""SELECT doc_id,
              substr(text, 1, 30)[${1 + r.nextInt(5)}:${8 + r.nextInt(12)}] AS s1,
              (text || 'tail')[${-6 - r.nextInt(5)}:-1] AS s2,
              text[${2 + r.nextInt(4)}:] AS s3
              FROM (SELECT doc_id, substr(text, 1, 40) AS text FROM documents)
              WHERE doc_id % ${2 + r.nextInt(3)} = ${r.nextInt(2)}"""
        case 54 => // nth_value / lead-with-default over a total order
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              nth_value(l_orderkey % 997, ${1 + r.nextInt(3)}) OVER w AS nv,
              lead(l_suppkey % 97, ${1 + r.nextInt(2)}, ${-1 - r.nextInt(9)}) OVER w AS ld,
              lag(l_partkey % 97, ${1 + r.nextInt(2)}, ${100 + r.nextInt(100)}) OVER w AS lg
              FROM lineitem WHERE l_orderkey < ${250 + r.nextInt(200)}
              WINDOW w AS (PARTITION BY l_returnflag ORDER BY $liTiebreak)"""
        case 55 => // DECIMAL arithmetic battery (r17 band). Widening-only
          // casts: DuckDB 1.0 TRUNCATES scale-reducing decimal casts
          // where Spark rounds HALF_UP (probed: CAST(2.355 AS
          // DECIMAL(10,2)) = 2.35 vs 2.36) — so every cast here only
          // widens, per-row products are exact in both engines, and
          // the aggregate is a sum of identical exact values.
          s"""SELECT l_returnflag AS g,
              CAST(sum(CAST(l_quantity AS DECIMAL(12,2))) AS DECIMAL(28,2)) AS sq,
              CAST(sum(CAST(l_extendedprice AS DECIMAL(14,2))
                       * CAST(1 + l_tax AS DECIMAL(8,2))) AS DECIMAL(32,4)) AS rev,
              CAST(min(CAST(l_discount AS DECIMAL(8,2))) AS DECIMAL(8,2)) AS mind,
              TRY_CAST('${r.nextInt(1000)}${"9" * 18}' AS DECIMAL(10,2)) AS ovf
              FROM lineitem WHERE ${pred(r, 1)} GROUP BY g"""
        case 56 => // NULL-heavy join keys (r17 band): NULLIF seeds NULLs
          // on both sides; equality joins must DROP them, the left join
          // counts them unmatched — aggregated so hot NULL keys can't
          // blow up the row count
          s"""WITH a AS (SELECT NULLIF(l_suppkey % ${17 + r.nextInt(30)}, ${r.nextInt(5)}) AS k,
                     l_orderkey AS id FROM lineitem WHERE l_orderkey < ${400 + r.nextInt(300)}),
              b AS (SELECT NULLIF(o_custkey % ${17 + r.nextInt(30)}, ${r.nextInt(5)}) AS k,
                     o_orderkey AS oid FROM orders WHERE o_orderkey < ${400 + r.nextInt(300)})
              SELECT a.k AS k, count(*) AS n, CAST(sum(a.id % 97) AS BIGINT) AS s,
                     count(b.k) AS nb
              FROM a LEFT JOIN b ON a.k = b.k GROUP BY a.k"""
        case 57 => // window RANGE frames with INTERVAL bounds over event
          // timestamps (r17 band) — RANGE includes ts peers, so ties
          // stay deterministic; per-row CAST to BIGINT before the sum
          // keeps both engines on exact integer arithmetic
          s"""SELECT event_id AS k,
              CAST(sum(CAST(value * 100 AS BIGINT)) OVER (PARTITION BY user_id ORDER BY ts
                RANGE BETWEEN INTERVAL ${1 + r.nextInt(48)} HOUR PRECEDING
                AND CURRENT ROW) AS BIGINT) AS rs,
              count(*) OVER (PARTITION BY event_type ORDER BY ts
                RANGE BETWEEN INTERVAL ${1 + r.nextInt(10)} MINUTE PRECEDING
                AND INTERVAL ${1 + r.nextInt(3)} HOUR FOLLOWING) AS cf
              FROM events WHERE event_id % ${3 + r.nextInt(4)} = ${r.nextInt(3)}"""
        case 58 => // nested CTE chain + a subquery-scoped WITH consuming
          // it (r17 band)
          s"""WITH l1 AS (SELECT l_orderkey AS k, (l_suppkey % ${primes(r.nextInt(3))}) AS v
                          FROM lineitem WHERE ${pred(r, 1)}),
              l2 AS (SELECT k, count(*) AS n, CAST(sum(v) AS BIGINT) AS s FROM l1 GROUP BY k),
              l3 AS (SELECT k, n, s FROM l2 WHERE n > ${r.nextInt(3)})
              SELECT k, n, s FROM l3
              UNION ALL
              SELECT -1 AS k, t.cnt AS n, t.ts AS s
              FROM (WITH agg AS (SELECT count(*) AS cnt, CAST(coalesce(sum(s), 0) AS BIGINT) AS ts
                                 FROM l3) SELECT cnt, ts FROM agg) t"""
        case 60 => // format() fmt specs (r17): random spec batteries over
          // exact values. Ints draw from the validated radix/grouping/
          // padding surface; doubles divide a bounded int by a power of
          // two (exact binary, identical in both engines) and use only
          // f/e/g with precision ≥ 1 (precision-0 g is a guided error —
          // DuckDB's fmt emits unspecified digits there — and the
          // none-type FLOAT repr is the documented grisu2 micro-
          // divergence, so neither is generated).
          // canonical spec slot order (probed): [fill align][sign|,][#][0][width][typ]
          def intSpec(): String = {
            val fillAlign = Seq("", "*>", "*<", "*^", "=")(r.nextInt(5))
            val signOrComma = Seq("", "+", " ", ",", ",", "")(r.nextInt(6))
            val alt = if (r.nextInt(4) == 0) "#" else ""
            val zero = if (fillAlign.isEmpty && r.nextInt(4) == 0) "0" else ""
            val width = if (r.nextInt(2) == 0) (1 + r.nextInt(14)).toString else ""
            val typ = Seq("", "d", "x", "X", "o", "b")(r.nextInt(6))
            s"$fillAlign$signOrComma$alt$zero$width$typ"
          }
          def dblSpec(): String = {
            val align = Seq("", ">", "<", "^", "*>", "_^")(r.nextInt(6))
            val sign = Seq("", "+", " ")(r.nextInt(3))
            val zero = if (r.nextInt(4) == 0) "0" else ""
            val width = if (r.nextInt(2) == 0) (1 + r.nextInt(16)).toString else ""
            val prec = s".${1 + r.nextInt(14)}"
            val typ = Seq("f", "e", "g", "E", "G")(r.nextInt(5))
            s"$align$sign$zero$width$prec$typ"
          }
          // printf flavor: flags translate onto the same kernels; the
          // unsigned conversions two's-complement at the arg width —
          // which must therefore be CAST explicitly: the engines'
          // function type inference differs (DuckDB's greatest(int,int)
          // returns BIGINT, Spark's returns int — seed-84 find), and
          // %x/%u surface the STORAGE width where every other surface
          // compares only values
          def pfIntSpec(): String = {
            val flags = Seq("", "-", "+", " ", "0", "0-", "+0", ",")(r.nextInt(8))
            val width = if (r.nextInt(2) == 0) (1 + r.nextInt(12)).toString else ""
            // r18: C min-digit precision executes ('%.5d' → '-00042';
            // with the zero flag fmt DROPS it — both pinned in-kernel)
            val prec = if (r.nextInt(3) == 0) s".${r.nextInt(9)}" else ""
            s"%$flags$width$prec${Seq("d", "i")(r.nextInt(2))}"
          }
          def pfRadixSpec(): String = {
            // r18: sign/space flags apply to unsigned conversions
            // ('%+x' of 255 → '+ff', probed — ADVICE r17)
            val sign = Seq("", "", "+", " ")(r.nextInt(4))
            val alt = if (r.nextInt(3) == 0) "#" else ""
            val width = if (r.nextInt(2) == 0) (1 + r.nextInt(12)).toString else ""
            val prec = if (r.nextInt(3) == 0) s".${r.nextInt(9)}" else ""
            s"%$sign$alt$width$prec${Seq("x", "X", "o", "b", "u")(r.nextInt(5))}"
          }
          def pfDblSpec(): String = {
            val flags = Seq("", "-", "+", " ", "0")(r.nextInt(5))
            val width = if (r.nextInt(2) == 0) (1 + r.nextInt(14)).toString else ""
            s"%$flags$width.${1 + r.nextInt(12)}${Seq("f", "e", "g", "E", "G")(r.nextInt(5))}"
          }
          val d1 = s"(CAST(${intExpr(r, 1)} AS DOUBLE) / ${Seq(2, 4, 8, 16, 64, 256)(r.nextInt(6))})"
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              format('{:${intSpec()}}', ${intExpr(r, 1)}) AS f1,
              format('{:${intSpec()}}', ${intExpr(r, 1)}) AS f2,
              format('{:${dblSpec()}}', $d1) AS f3,
              format('[{:${dblSpec()}}|{}]', $d1, ${intExpr(r, 1)}) AS f4,
              format('{:${Seq("", ">", "<", "^", "_^", "*>")(r.nextInt(6))}${1 + r.nextInt(10)}${if (r.nextInt(2) == 0) s".${r.nextInt(5)}" else ""}}', ${strExpr(r, 1)}) AS f5,
              printf('${pfIntSpec()}|${pfRadixSpec()}', ${intExpr(r, 1)},
                     CAST(${intExpr(r, 1)} AS ${Seq("BIGINT", "INT")(r.nextInt(2))}) ) AS p1,
              printf('${pfDblSpec()} ${pfDblSpec()}', $d1, $d1 * ${1 + r.nextInt(8)}) AS p2,
              printf('%${1 + r.nextInt(9)}.${r.nextInt(4)}s|%c', ${strExpr(r, 1)}, ${65 + r.nextInt(26)}) AS p3,
              printf('%${Seq("", "-", "0", "+")(r.nextInt(4))}*${Seq("d", "x", "u", "s")(r.nextInt(4)) match {
                case "s" => "s', CAST(l_linenumber + " + r.nextInt(9) + " AS INT), " + strExpr(r, 1)
                case t => t + "', CAST(l_linenumber - " + r.nextInt(5) + " AS INT), CAST(" + intExpr(r, 1) + " AS INT)"
              }}) AS p4,
              printf(${if (r.nextInt(2) == 0)
                s"'%${1 + r.nextInt(10)}.*f', CAST(l_linenumber + ${r.nextInt(6) - 2} AS INT), $d1"
              else
                s"'%*.*${Seq("f", "e", "E", "f")(r.nextInt(4))}', CAST(${3 + r.nextInt(10)} AS INT), CAST(l_linenumber + ${r.nextInt(4) - 1} AS INT), $d1"}) AS p5
              FROM lineitem WHERE l_orderkey < ${200 + r.nextInt(200)}"""
        case 59 => // null-safe comparison operators: IS [NOT] DISTINCT
          // FROM over NULLIF'd values (scalar position — both engines'
          // three-valued logic pinned cell-for-cell)
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              NULLIF(l_suppkey % ${5 + r.nextInt(6)}, ${r.nextInt(4)})
                IS NOT DISTINCT FROM NULLIF(l_partkey % ${5 + r.nextInt(6)}, ${r.nextInt(4)}) AS eqn,
              NULLIF(l_returnflag, '${Seq("A", "N", "R")(r.nextInt(3))}')
                IS DISTINCT FROM l_linestatus AS neq
              FROM lineitem WHERE l_orderkey < ${250 + r.nextInt(250)}"""
        case 62 => // LATERAL join + correlated subqueries in select
          // position (r18 band): DuckDB and Spark 4 both execute the
          // ANSI forms natively — aggregate LATERAL (always one row),
          // correlated scalar + EXISTS in the select list
          val cap = 40 + r.nextInt(120)
          val m = 2 + r.nextInt(5)
          s"""SELECT o.o_orderkey AS k, l.cnt, l.qsum,
              (SELECT count(*) FROM lineitem li
               WHERE li.l_orderkey = o.o_orderkey
                 AND li.l_linenumber <= ${1 + r.nextInt(5)}) AS csel,
              EXISTS (SELECT 1 FROM lineitem le
                      WHERE le.l_orderkey = o.o_orderkey
                        AND le.l_suppkey % $m = ${r.nextInt(m)}) AS esel
              FROM orders o, LATERAL (
                SELECT count(*) AS cnt,
                       coalesce(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT), 0) AS qsum
                FROM lineitem
                WHERE l_orderkey = o.o_orderkey
                  AND l_partkey % ${2 + r.nextInt(3)} = ${r.nextInt(2)}) l
              WHERE o.o_orderkey < $cap
              ORDER BY k"""
        case 63 => // grouping-sets × window mixes, sometimes over an
          // EMPTY input (the r17 grand-total-parity arm): a cumulative
          // window over the grouping-sets output, totally ordered by
          // (grouping ids, keys)
          val cap = if (r.nextInt(4) == 0) 0 else 150 + r.nextInt(300)
          s"""WITH g AS (
                SELECT l_returnflag AS rf, l_linestatus AS ls, count(*) AS n,
                       coalesce(CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT), 0) AS q,
                       grouping(l_returnflag) AS g1, grouping(l_linestatus) AS g2
                FROM lineitem WHERE l_orderkey < $cap
                GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ()))
              SELECT rf, ls, n, q, g1, g2,
                     CAST(sum(n) OVER (ORDER BY g1, g2, rf NULLS LAST, ls NULLS LAST) AS BIGINT) AS cum,
                     row_number() OVER (PARTITION BY g1, g2
                       ORDER BY rf NULLS LAST, ls NULLS LAST) AS rn
              FROM g
              ORDER BY g1, g2, rf NULLS LAST, ls NULLS LAST"""
        case 64 => // collation-heavy ORDER BY: case/accent/empty-string
          // keys under the shared BINARY default collation, explicit
          // NULLS FIRST/LAST (the engines' bare-ASC defaults differ),
          // lower/upper ordering keys over NULLIF-seeded NULLs
          val nf = if (r.nextBoolean()) "NULLS FIRST" else "NULLS LAST"
          val dir = if (r.nextBoolean()) "ASC" else "DESC"
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              CASE (l_partkey % 7) WHEN 0 THEN 'apple' WHEN 1 THEN 'Apple'
                   WHEN 2 THEN 'ärger' WHEN 3 THEN 'Zoo' WHEN 4 THEN ''
                   WHEN 5 THEN 'zoo' ELSE 'ÄRGER' END || l_returnflag AS s,
              NULLIF(l_linestatus, '${Seq("O", "F")(r.nextInt(2))}') AS ns
              FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(250)}
              ORDER BY ${Seq("s", "lower(s)", "upper(s)")(r.nextInt(3))} $dir $nf,
                       ns $dir $nf, k, ln"""
        case 65 => // format()/printf() ROUND-TRIPPED through string
          // functions (r18 band): the kernels' output feeds upper/
          // length/substr/replace/concat — any formatting divergence
          // surfaces through the downstream transform too
          val w = 4 + r.nextInt(8)
          val p = 1 + r.nextInt(6)
          val d2 = s"(CAST(${intExpr(r, 1)} AS DOUBLE) / ${Seq(4, 16, 64)(r.nextInt(3))})"
          s"""SELECT l_orderkey AS k, l_linenumber AS ln,
              upper(printf('%${Seq("", "0", "-", "+")(r.nextInt(4))}${w}x|%.${p}f', ${intExpr(r, 1)}, $d2)) AS a,
              CAST(length(format('{:>$w.$p}', ${strExpr(r, 1)})) AS INT) AS b,
              substr(format('{:${Seq(",", "0", "")(r.nextInt(3))}${w}d}', ${intExpr(r, 1)}), ${1 + r.nextInt(3)}, ${2 + r.nextInt(w)}) AS c,
              replace(printf('%,.${p}d', ${intExpr(r, 1)}), '0', '_') AS d,
              concat(format('{:.${p}e}', $d2), '|', printf('%.*g', CAST(${1 + r.nextInt(8)} AS INT), $d2)) AS e
              FROM lineitem WHERE l_orderkey < ${150 + r.nextInt(250)}"""
        case 61 => // CTE-scoped percentage reservoir (r18): both engines
          // draw their own rows, so the comparison pins the DuckDB-
          // guaranteed invariants — exact round-half-up(p% × CTE count)
          // cardinality and subset-of-the-CTE membership
          val cap = 100 + r.nextInt(400)
          val pct = 5 + r.nextInt(60)
          s"""WITH a AS (SELECT l_orderkey AS k, l_linenumber AS ln
                         FROM lineitem WHERE l_orderkey < $cap),
                   b AS (SELECT * FROM a USING SAMPLE reservoir($pct%)
                         REPEATABLE (${1 + r.nextInt(99)}))
              SELECT (SELECT count(*) FROM b) AS n,
                     (SELECT count(*) FROM (SELECT k, ln FROM b
                        EXCEPT SELECT k, ln FROM a)) = 0 AS subset_ok"""
        case _ => // list functions over document tokens
          s"""SELECT doc_id,
              array_to_string(list_sort(string_split(substr(text, 1, ${40 + r.nextInt(40)}), ' ')), '|') AS w,
              len(string_split(text, ' ')) AS nw,
              list_contains(string_split(text, ' '), 'the') AS hasthe
              FROM documents WHERE doc_id % ${2 + r.nextInt(4)} = ${r.nextInt(2)}"""
      }
      name -> sql.replaceAll("\n\\s+", "\n      ")
    }
}
