package graft

import graft.functions.expressions.{DuckDialect, DuckDialectException}
import graft.operators.{DuckSession, GraftSqlParser, Pipeline, SqlStage}
import java.nio.file.Files
import org.apache.spark.sql.Row

/** DuckDB-dialect compatibility layer (VERDICT r4 next-round #1): the
  * reference hands user `sql` stages to DuckDB verbatim
  * (filefilter.py:340-342), so a migrating config may use any
  * DuckDB-ism. Aliases must produce DuckDB's semantics; constructs with
  * no rewrite must raise an error naming the Spark equivalent.
  */
class DialectSpec extends SparkSpec {

  private def one(sql: String): Row = spark.sql(sql).collect().head

  // ---- string splitting: DuckDB separator is LITERAL, Spark's is regex
  test("string_split treats the separator literally (regex metachars inert)") {
    assert(one("SELECT string_split('a.b.c', '.') AS r").getSeq[String](0) == Seq("a", "b", "c"))
    assert(one("SELECT string_split('a||b', '||') AS r").getSeq[String](0) == Seq("a", "b"))
    // empties kept, like DuckDB
    assert(one("SELECT string_split('a,,b', ',') AS r").getSeq[String](0) == Seq("a", "", "b"))
    // non-literal separator still quoted (\Q..\E path)
    assert(one("SELECT string_split('a.b', substr('.x', 1, 1)) AS r").getSeq[String](0) == Seq("a", "b"))
  }

  test("string_split_regex keeps regex semantics; aliases resolve") {
    assert(one("SELECT string_split_regex('a1b22c', '[0-9]+') AS r").getSeq[String](0) == Seq("a", "b", "c"))
    assert(one("SELECT str_split('x-y', '-') AS r").getSeq[String](0) == Seq("x", "y"))
    assert(one("SELECT string_to_array('x-y', '-') AS r").getSeq[String](0) == Seq("x", "y"))
    // this `one` is raw spark.sql (no dialect rewrite), so the literal
    // is Spark-ESCAPED here; SqlStage texts write the DuckDB-raw form
    assert(one("SELECT regexp_split_to_array('a, b,c', ',\\\\s*') AS r").getSeq[String](0) == Seq("a", "b", "c"))
    assert(one("SELECT to_base(255, 16) AS r").getString(0) == "FF")
  }

  // ---- list_* family
  test("list_* aliases match DuckDB semantics") {
    assert(one("SELECT list_transform(array(1,2,3), x -> x * 10) AS r").getSeq[Int](0) == Seq(10, 20, 30))
    assert(one("SELECT list_filter(array(1,2,3,4), x -> x % 2 = 0) AS r").getSeq[Int](0) == Seq(2, 4))
    assert(one("SELECT list_contains(array(1,2), 2) AS r").getBoolean(0))
    assert(one("SELECT list_distinct(array(1,1,2)) AS r").getSeq[Int](0).sorted == Seq(1, 2))
    assert(one("SELECT list_sort(array(3,1,2)) AS r").getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT list_reverse_sort(array(3,1,2)) AS r").getSeq[Int](0) == Seq(3, 2, 1))
    assert(one("SELECT list_reverse(array(1,2,3)) AS r").getSeq[Int](0) == Seq(3, 2, 1))
    assert(one("SELECT list_concat(array(1), array(2,3)) AS r").getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT list_append(array(1), 2) AS r").getSeq[Int](0) == Seq(1, 2))
    assert(one("SELECT list_prepend(0, array(1)) AS r").getSeq[Int](0) == Seq(0, 1))
    assert(one("SELECT list_position(array('a','b'), 'b') AS r").getLong(0) == 2L)
    assert(one("SELECT list_extract(array(10,20,30), 2) AS r").getInt(0) == 20)
    assert(one("SELECT list_min(array(3,1,2)) AS r").getInt(0) == 1)
    assert(one("SELECT list_max(array(3,1,2)) AS r").getInt(0) == 3)
    assert(one("SELECT list_unique(array(1,1,2,3,3)) AS r").getInt(0) == 3)
    // 1-based INCLUSIVE slice, like DuckDB list_slice(l, 2, 3)
    assert(one("SELECT list_slice(array(10,20,30,40), 2, 3) AS r").getSeq[Int](0) == Seq(20, 30))
    // set predicates + constructors (r9, probed against duckdb 1.0.0)
    assert(one("SELECT list_has_any(array(1,2), array(2,3)) AS r").getBoolean(0))
    assert(!one("SELECT list_has_any(array(1,2), array(3,4)) AS r").getBoolean(0))
    assert(one("SELECT list_has_all(array(1,2,3), array(2,3)) AS r").getBoolean(0))
    assert(!one("SELECT list_has_all(array(1,2), array(2,3)) AS r").getBoolean(0))
    assert(one("SELECT list_has_all(array(1,2), array()) AS r").getBoolean(0))
    assert(one("SELECT array_has_all(array(1,2,3), array(2,3)) AS r").getBoolean(0))
    assert(one("SELECT list_value(1, 2, 3) AS r").getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT list_pack(4, 5) AS r").getSeq[Int](0) == Seq(4, 5))
  }

  test("arg_max/arg_min aggregate aliases (DuckDB argument order)") {
    import spark.implicits._
    Seq(("a", 10), ("b", 20), ("c", 5)).toDF("s", "v").createOrReplaceTempView("am")
    val r = spark.sql(
      "SELECT arg_max(s, v) AS amax, arg_min(s, v) AS amin, " +
        "argmax(s, v) AS amax2, argmin(s, v) AS amin2 FROM am").collect().head
    assert((r.getString(0), r.getString(1), r.getString(2), r.getString(3)) ==
      (("b", "c", "b", "c")))
    // and GROUP BY ALL / ORDER BY ALL run natively on Spark 4
    val g = spark.sql("SELECT s, sum(v) AS t FROM am GROUP BY ALL ORDER BY ALL")
      .collect().map(r0 => (r0.getString(0), r0.getLong(1))).toSeq
    assert(g == Seq(("a", 10L), ("b", 20L), ("c", 5L)))
  }

  test("list vector functions route to graft natives") {
    val r = one(
      "SELECT list_cosine_similarity(array(1.0D, 0.0D), array(1.0D, 0.0D)) AS c, " +
        "list_dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d, " +
        "list_inner_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS i")
    assert(math.abs(r.getDouble(0) - 1.0) < 1e-9)
    assert(r.getDouble(1) == 11.0 && r.getDouble(2) == 11.0)
  }

  // ---- len: polymorphic like DuckDB (builtin Spark len is string-only)
  test("len dispatches on type: string chars, array/map elements, binary bytes") {
    val r = one("SELECT len('héllo') AS s, len(array(1,2,3)) AS a, " +
      "len(map('k', 1)) AS m, len(CAST('ab' AS BINARY)) AS b")
    assert(r.getInt(0) == 5 && r.getInt(1) == 3 && r.getInt(2) == 1 && r.getInt(3) == 2)
    assert(one("SELECT len(CAST(NULL AS STRING)) AS n").isNullAt(0))
  }

  // ---- regex
  test("regexp_matches is partial-match; regexp_full_match anchors") {
    assert(one("SELECT regexp_matches('abc123', '[0-9]+') AS r").getBoolean(0))
    assert(!one("SELECT regexp_full_match('abc123', '[0-9]+') AS r").getBoolean(0))
    assert(one("SELECT regexp_full_match('123', '[0-9]+') AS r").getBoolean(0))
    // alternation stays inside the non-capturing anchor group
    assert(!one("SELECT regexp_full_match('xab', 'x|ab') AS r").getBoolean(0))
    val e = intercept[DuckDialectException](spark.sql("SELECT regexp_matches('a', 'a', 'i')").collect())
    assert(e.getMessage.contains("(?i)"))
  }

  // ---- string predicates
  test("starts_with/ends_with/prefix/suffix/editdist3") {
    val r = one("SELECT starts_with('spark', 'sp') AS a, ends_with('spark', 'rk') AS b, " +
      "prefix('spark', 'sp') AS c, suffix('spark', 'rk') AS d, editdist3('kitten', 'sitting') AS e")
    assert(r.getBoolean(0) && r.getBoolean(1) && r.getBoolean(2) && r.getBoolean(3))
    assert(r.getInt(4) == 3)
  }

  // ---- time: %-format conversion
  test("cFormatToJava converts the C codes DuckDB documents") {
    assert(DuckDialect.cFormatToJava("%Y-%m-%d") == "yyyy'-'MM'-'dd")
    assert(DuckDialect.cFormatToJava("%H:%M:%S.%f") == "HH':'mm':'ss'.'SSSSSS")
    assert(DuckDialect.cFormatToJava("%-d/%-m/%y") == "d'/'M'/'yy")
    assert(DuckDialect.cFormatToJava("%d %B %Y") == "dd' 'MMMM' 'yyyy")
    assert(DuckDialect.cFormatToJava("100%%") == "'100%'")
    val e = intercept[DuckDialectException](DuckDialect.cFormatToJava("%V"))
    assert(e.getMessage.contains("%V"))
  }

  test("strftime/strptime/epoch round-trip") {
    val r = one("SELECT strftime(TIMESTAMP '2024-03-05 07:08:09', '%Y-%m-%d %H:%M:%S') AS s, " +
      "strftime(DATE '2024-03-05', '%d %B %Y') AS t, " +
      "epoch(TIMESTAMP '1970-01-01 00:01:40') AS e, " +
      "epoch_ms(TIMESTAMP '1970-01-01 00:00:01.5') AS ms")
    assert(r.getString(0) == "2024-03-05 07:08:09")
    assert(r.getString(1) == "05 March 2024")
    // epoch is DOUBLE seconds since r13 (DuckDB's type, fraction kept)
    assert(r.getDouble(2) == 100.0 && r.getLong(3) == 1500L)
    val p = one("SELECT strptime('05/03/2024 07:08', '%d/%m/%Y %H:%M') AS ts")
    assert(p.getTimestamp(0).toInstant.toString == "2024-03-05T07:08:00Z")
    // non-literal format: plan-time translation impossible → guided error
    val e = intercept[DuckDialectException](
      spark.sql("SELECT strftime(current_timestamp(), concat('%Y', '%m'))").collect())
    assert(e.getMessage.contains("literal"))
  }

  test("unnest in select position explodes") {
    val rows = spark.sql("SELECT unnest(array(1,2,3)) AS v").collect().map(_.getInt(0)).toSeq
    assert(rows == Seq(1, 2, 3))
  }

  // ---- guided errors for constructs with no rewrite
  test("ASOF JOIN / USING SAMPLE / := / -> > / ** raise named hints; QUALIFY now rewrites") {
    def hintOf(sql: String): String =
      intercept[DuckDialectException](
        SqlStage("s", sql).apply(spark, spark.range(1).toDF("id"))).getMessage
    // QUALIFY left the guided-error list: it runs (VERDICT r5 #6)
    assert(SqlStage("s",
      "SELECT id, row_number() OVER (ORDER BY id) AS rn FROM df QUALIFY rn = 1")
      .apply(spark, spark.range(5).toDF("id")).collect().map(_.getLong(0)).toSeq == Seq(0L))
    // ASOF JOIN left the guided-error list too (auto-rewritten since r6);
    // a shape the rewrite can't express still raises the named hint
    assert(hintOf("SELECT * FROM df a ASOF JOIN df b ON a.id = b.id")
      .contains("no inequality"))
    // percentage reservoir left the guided-error list too (r16: SqlStage
    // counts the base relation, then the exact-n path executes) — over
    // the 1-row df, 10% rounds to 0 rows
    assert(SqlStage("s", "SELECT * FROM df USING SAMPLE reservoir(10%)")
      .apply(spark, spark.range(1).toDF("id")).collect().isEmpty)
    // list comprehensions left the guided-error list (auto-rewritten
    // since r10, own test below); a malformed shape still raises a
    // comprehension-naming error
    assert(hintOf("SELECT [x for 1 in ids] FROM df").contains("comprehension"))
    // ->> left the guided-error list (auto-rewritten since r10, own
    // test below), and terminal -> executes since r12; a chain with a
    // missing right operand still raises the JSON hint
    assert(hintOf("SELECT j ->> 'a' -> FROM df").contains("get_json_object"))
    // ** left the guided-error list too (auto-rewritten since r10, own
    // test above); an operand-less shape still raises the power hint
    assert(hintOf("SELECT ** 2 FROM df").contains("power"))
    // := outside struct_pack still raises the named-argument hint
    assert(hintOf("SELECT f(a := 1) FROM df").contains("named_struct"))
  }

  test("struct_pack named args rewrite to named_struct") {
    val r = SqlStage("s",
      "SELECT struct_pack(a := id + 1, b := 'x', c := struct_pack(d := 2)) AS s FROM df")
      .apply(spark, spark.range(1).toDF("id")).collect().head.getStruct(0)
    assert(r.getLong(0) == 1L && r.getString(1) == "x")
    assert(r.getStruct(2).getInt(0) == 2)
    // literal text is never touched
    assert(GraftSqlParser.rewriteStructPack("SELECT 'struct_pack(a := 1)' AS s")
      == "SELECT 'struct_pack(a := 1)' AS s")
  }

  test("USING SAMPLE rewrites to TABLESAMPLE after the block's WHERE") {
    val out = SqlStage("s", "SELECT * FROM df WHERE id < 40 USING SAMPLE 10 ROWS")
      .apply(spark, spark.range(100).toDF("id")).collect().map(_.getLong(0))
    assert(out.length == 10 && out.forall(_ < 40))
    val pct = SqlStage("s", "SELECT * FROM df USING SAMPLE 50%")
      .apply(spark, spark.range(200).toDF("id")).count()
    assert(pct > 20 && pct < 180) // Bernoulli; loose bounds
    // r13: seedless percentage METHOD names claim — (bernoulli) IS
    // Spark's sampler, (system) is DuckDB's approximation of it
    val bern = SqlStage("s", "SELECT * FROM df USING SAMPLE 50% (bernoulli)")
      .apply(spark, spark.range(200).toDF("id")).count()
    assert(bern > 20 && bern < 180)
    val sys = SqlStage("s", "SELECT * FROM df USING SAMPLE 50 PERCENT (system)")
      .apply(spark, spark.range(200).toDF("id")).count()
    assert(sys > 20 && sys < 180)
    // r14: SEEDED percentage forms claim — the seed becomes Spark's
    // TABLESAMPLE ... REPEATABLE(seed), deterministic within a session
    val s1 = SqlStage("s", "SELECT * FROM df USING SAMPLE 50% (bernoulli, 377)")
      .apply(spark, spark.range(200).toDF("id")).collect().map(_.getLong(0)).toSet
    val s2 = SqlStage("s", "SELECT * FROM df USING SAMPLE 50% (bernoulli, 377)")
      .apply(spark, spark.range(200).toDF("id")).collect().map(_.getLong(0)).toSet
    assert(s1 == s2 && s1.nonEmpty && s1.size < 200)
    // function-style spelling with the REPEATABLE suffix (DuckDB's
    // only REPEATABLE placement, probed 1.0.0)
    val s3 = SqlStage("s", "SELECT * FROM df USING SAMPLE bernoulli(50%) REPEATABLE (377)")
      .apply(spark, spark.range(200).toDF("id")).collect().map(_.getLong(0)).toSet
    val s4 = SqlStage("s", "SELECT * FROM df USING SAMPLE system(50 PERCENT) REPEATABLE (377)")
      .apply(spark, spark.range(200).toDF("id")).collect().map(_.getLong(0)).toSet
    assert(s3 == s1 && s4 == s1) // same seed, same session -> same rows
    // discrete counts with a method error in DuckDB too; seeded ROWS
    // (exact-n seeded reservoir) and reservoir stay guided
    assert(GraftSqlParser.rewriteSample("SELECT * FROM t USING SAMPLE 10 ROWS (bernoulli)") ==
      "SELECT * FROM t USING SAMPLE 10 ROWS (bernoulli)")
    assert(GraftSqlParser.rewriteSample("SELECT * FROM t USING SAMPLE 10 ROWS REPEATABLE (42)") ==
      "SELECT * FROM t USING SAMPLE 10 ROWS REPEATABLE (42)")
    assert(GraftSqlParser.rewriteSample("SELECT * FROM t USING SAMPLE reservoir(10%)") ==
      "SELECT * FROM t USING SAMPLE reservoir(10%)")
  }

  test("string literals never false-positive a construct hint") {
    // a literal containing 'QUALIFY' must parse straight through
    val df = SqlStage("s", "SELECT 'use QUALIFY rn = 1' AS note FROM df")
      .apply(spark, spark.range(1).toDF("id"))
    assert(df.collect().head.getString(0).contains("QUALIFY"))
  }

  test("unresolved DuckDB functions name the Spark equivalent") {
    def hintOf(sql: String): String =
      intercept[DuckDialectException](
        SqlStage("s", sql).apply(spark, spark.range(1).toDF("id"))).getMessage
    // histogram EXECUTES since r13 (GraftHistogram), mad since r14, and
    // age/md5_number since r16 — the exclusion table (COVERAGE.md)
    // carries the remaining guided errors
    assert(hintOf("SELECT txid_current() FROM df").contains("uuid()"))
    // read_csv_auto('path') EXECUTES in sql stages since r9 — a missing
    // file surfaces as the reader's path error, not a dialect hint;
    // option-bearing calls (delim/header/skip/columns/...) execute too
    // (r11) and are gated end-to-end by q124
    val e = intercept[Exception](SqlStage("s",
      "SELECT * FROM read_csv_auto('/tmp/graft_no_such_file.csv')")
      .apply(spark, spark.range(1).toDF("id")))
    assert(e.getMessage.toLowerCase.contains("path"))
  }

  test("list folds: list_sum / list_avg / list_aggregate") {
    val r = one("SELECT list_sum(array(1, 2, 3)) AS s, " +
      "list_avg(array(2.0D, 4.0D)) AS a, " +
      "list_aggregate(array(5, 1, 9), 'min') AS mn, " +
      "list_aggregate(array(5, 1, 9), 'max') AS mx, " +
      "list_aggregate(array(5, 1, 9), 'count') AS c, " +
      "list_aggregate(array(1.5D, 2.5D), 'sum') AS s2")
    assert(r.getDouble(0) == 6.0 && r.getDouble(1) == 3.0)
    assert(r.getInt(2) == 1 && r.getInt(3) == 9 && r.getInt(4) == 3)
    assert(r.getDouble(5) == 4.0)
    // empty-list avg is NULL (0/0), like DuckDB's
    assert(one("SELECT list_avg(array()) AS a").isNullAt(0))
    val e = intercept[DuckDialectException](
      spark.sql("SELECT list_aggregate(array(1), 'median')").collect())
    assert(e.getMessage.contains("sum/avg/min/max/count"))
  }

  // ---- e2e: a migrated DuckDB config runs through the YAML pipeline
  test("e2e: sql stages written in DuckDB dialect run verbatim (fixture per rewrite family)") {
    val out = Files.createTempDirectory("graft-dialect").toString + "/result"
    val yaml =
      """
        |filters:
        |  - name: tokens
        |    actionType: sql
        |    code: "SELECT doc_id, text, string_split(text, ' ') AS words FROM df"
        |  - name: shape
        |    actionType: sql
        |    code: "SELECT doc_id, text, len(words) AS n_words, list_transform(words, w -> lower(w)) AS lw FROM df"
        |  - name: flag
        |    actionType: sql
        |    code: "SELECT * EXCLUDE(lw) FROM df WHERE regexp_matches(text, '[A-Za-z]') AND len(text) > 0"
        |  - name: stamp
        |    actionType: sql
        |    code: "SELECT doc_id, n_words, strftime(TIMESTAMP '2024-01-02 03:04:05', '%Y-%m-%d') AS day FROM df"
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", Some(out))
    val rows = res.output.collect()
    assert(rows.nonEmpty)
    assert(res.output.columns.toSeq == Seq("doc_id", "n_words", "day"))
    assert(rows.forall(_.getString(2) == "2024-01-02"))
    assert(rows.forall(_.getInt(1) > 0))
  }

  test("parser-level hint path (DuckSession.withDialectHint) wraps parse failures") {
    val sql = "SELECT * FROM t USING SAMPLE 10%"
    val e = intercept[DuckDialectException](
      DuckSession.withDialectHint(sql)(
        spark.sessionState.sqlParser.parsePlan(sql)))
    assert(e.getMessage.contains("TABLESAMPLE"))
    assert(e.getCause != null)
  }

  // ---- QUALIFY rewrite (VERDICT r5 #6): tests exercise the textual
  // rewrite the same way SqlStage does.
  private def qsql(sql: String) = spark.sql(GraftSqlParser.rewriteQualify(sql))

  test("QUALIFY over a select-list alias rewrites to a ranked subquery") {
    spark.range(10).selectExpr("id", "id % 3 AS g").createOrReplaceTempView("qt")
    val got = qsql(
      """SELECT id, g, row_number() OVER (PARTITION BY g ORDER BY id DESC) AS rn
        |FROM qt QUALIFY rn = 1 ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq == Seq((9L, 0L), (7L, 1L), (8L, 2L)))
  }

  test("QUALIFY with an inline window filters without keeping the helper column") {
    spark.range(10).selectExpr("id", "id % 3 AS g").createOrReplaceTempView("qt")
    val df = qsql(
      "SELECT id, g FROM qt QUALIFY row_number() OVER (PARTITION BY g ORDER BY id) = 1")
    assert(df.columns.toSeq == Seq("id", "g"))
    assert(df.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("QUALIFY composes with WHERE, subqueries, and a trailing LIMIT") {
    spark.range(100).selectExpr("id", "id % 5 AS g").createOrReplaceTempView("qt")
    val df = qsql(
      """SELECT * FROM (
        |  SELECT g, id, rank() OVER (PARTITION BY g ORDER BY id DESC) AS rk
        |  FROM qt WHERE id < 50 QUALIFY rk <= 2
        |) ORDER BY g, id LIMIT 4""".stripMargin)
    assert(df.count() == 4)
    assert(df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((0L, 40L), (0L, 45L), (1L, 41L), (1L, 46L)))
  }

  test("a column actually named qualify is left alone") {
    spark.range(3).selectExpr("id AS qualify").createOrReplaceTempView("qcol")
    assert(qsql("SELECT qualify FROM qcol WHERE qualify > 1").collect()
      .map(_.getLong(0)).toSeq == Seq(2L))
    // and inside a string literal
    assert(GraftSqlParser.rewriteQualify("SELECT 'use QUALIFY rn' AS s FROM t")
      == "SELECT 'use QUALIFY rn' AS s FROM t")
  }

  test("QUALIFY + DISTINCT with an inline window raises a guided error") {
    val e = intercept[DuckDialectException](GraftSqlParser.rewriteQualify(
      "SELECT DISTINCT g FROM t QUALIFY row_number() OVER (ORDER BY g) = 1"))
    assert(e.getMessage.contains("DISTINCT"))
  }

  test("POSITIONAL JOIN between ordered subqueries rewrites to an indexed full-outer join") {
    val df = spark.range(5).toDF("id")
    // left ordered asc: 0,1,2,3; right ordered desc: 4,3,2 — DuckDB
    // pairs by position and NULL-pads the shorter side
    val out = SqlStage("s",
      """SELECT * FROM
        |  (SELECT id AS a FROM df WHERE id < 4 ORDER BY a)
        |  POSITIONAL JOIN
        |  (SELECT id AS b FROM df WHERE id >= 2 ORDER BY b DESC) r
        |""".stripMargin).apply(spark, df)
    assert(out.columns.toSeq == Seq("a", "b")) // helper indexes wrapped away
    val rows = out.collect().map(r => (Option(r.get(0)), Option(r.get(1)))).toSet
    assert(rows == Set(
      (Some(0L), Some(4L)), (Some(1L), Some(3L)),
      (Some(2L), Some(2L)), (Some(3L), None)))
    // explicit projection (no star) skips the wrap; digit-suffixed
    // aliases (t1-style) must parse
    val proj = SqlStage("s",
      """SELECT t1.a + r2.b AS s FROM
        |  (SELECT id AS a FROM df ORDER BY a) t1
        |  POSITIONAL JOIN
        |  (SELECT id AS b FROM df ORDER BY b DESC) AS r2
        |""".stripMargin).apply(spark, df)
    assert(proj.collect().map(_.getLong(0)).toSeq == Seq(4L, 4L, 4L, 4L, 4L))
  }

  test("POSITIONAL JOIN / PIVOT statement shapes without a rewrite raise named hints") {
    def hintOf(sql: String): String =
      intercept[DuckDialectException](
        SqlStage("s", sql).apply(spark, spark.range(4).toDF("id"))).getMessage
    // bare tables: file order is not deterministic in a distributed scan
    assert(hintOf("SELECT * FROM df POSITIONAL JOIN df")
      .contains("deterministic row order"))
    // subquery without ORDER BY
    assert(hintOf(
      "SELECT * FROM (SELECT id FROM df) POSITIONAL JOIN (SELECT id FROM df ORDER BY id) r")
      .contains("no top-level ORDER BY"))
    // ordinal keys would be constants inside the window frame
    assert(hintOf(
      "SELECT * FROM (SELECT id FROM df ORDER BY 1) POSITIONAL JOIN (SELECT id FROM df ORDER BY id) r")
      .contains("ordinal"))
    // PIVOT/UNPIVOT statements normally rewrite (see the statement
    // test); shapes past the rewrite still name Spark's clause form.
    // r16: multi-aggregate/aliased USING now EXECUTES (value-major
    // DuckDB naming) — multi-column ON remains the guided shape
    assert(hintOf("PIVOT df ON id, df USING count(*)")
      .contains("multiple ON columns"))
    assert(hintOf("UNPIVOT df ON q INTO NAME n VALUE v VALUE w")
      .contains("UNPIVOT (v FOR n IN"))
  }

  test("PIVOT statement rewrites with discovered values; UNPIVOT statement rewrites textually") {
    import spark.implicits._
    val df = Seq(("a", "en", 1L), ("a", "zh", 2L), ("b", "en", 3L))
      .toDF("src", "lang", "n")
    // discovery: no IN list — values come from the data, sorted; count
    // cells coalesce to 0 like DuckDB (NULL would silently diverge)
    val p = SqlStage("s",
      "PIVOT df ON lang USING count(*) GROUP BY src ORDER BY src").apply(spark, df)
    assert(p.columns.toSeq == Seq("src", "en", "zh"))
    assert(p.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 1L, 1L), ("b", 1L, 0L)))
    // IN-pinned values skip discovery; sum keeps DuckDB's NULL-cell
    val p2 = SqlStage("s",
      "PIVOT df ON lang IN ('en') USING sum(n) GROUP BY src ORDER BY src").apply(spark, df)
    assert(p2.columns.toSeq == Seq("src", "en"))
    assert(p2.collect().map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 1L), ("b", 3L)))
    // implicit grouping (no GROUP BY): every non-pivot column groups
    val p3 = SqlStage("s", "PIVOT (SELECT src, lang FROM df) ON lang USING count(*)")
      .apply(spark, df)
    assert(p3.columns.toSet == Set("src", "en", "zh"))
    // UNPIVOT statement with INTO naming
    val u = SqlStage("s",
      "UNPIVOT (SELECT src, n AS a, n + 1 AS b FROM df) ON a, b INTO NAME m VALUE v ORDER BY src, m")
      .apply(spark, df)
    assert(u.columns.toSeq == Seq("src", "m", "v"))
    assert(u.count() == 6)
    // count(<column>) with implicit grouping: the agg argument is
    // consumed by the pivot, so it must not appear in the coalescing
    // outer projection (review r7)
    val p4 = SqlStage("s", "PIVOT df ON lang USING count(n)").apply(spark, df)
    assert(p4.columns.toSet == Set("src", "en", "zh"))
    // a dialect-bearing pivot SOURCE goes through the rewrite chain
    // before value discovery (review r7)
    val p5 = SqlStage("s",
      "PIVOT (SELECT * EXCLUDE (n) FROM df) ON lang USING count(*) GROUP BY src ORDER BY src")
      .apply(spark, df)
    assert(p5.columns.toSeq == Seq("src", "en", "zh"))
    // r16: aliased + multiple USING aggregates execute with DuckDB's
    // value-major cell naming (probed 1.0.0: alias, else normalized
    // aggregate text, count(*) → count_star()); count cells still
    // coalesce to 0, non-count cells keep NULL
    val p6 = SqlStage("s",
      "PIVOT df ON lang USING min(n) AS mv, count(*) AS c GROUP BY src ORDER BY src")
      .apply(spark, df)
    assert(p6.columns.toSeq == Seq("src", "en_mv", "en_c", "zh_mv", "zh_c"))
    assert(p6.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
      Option(r.get(3)).map(_.asInstanceOf[Long]), r.getLong(4))).toSeq ==
      Seq(("a", 1L, 1L, Some(2L), 1L), ("b", 3L, 1L, None, 0L)))
    val p7 = SqlStage("s",
      "PIVOT df ON lang USING min(n), count(*) GROUP BY src ORDER BY src")
      .apply(spark, df)
    assert(p7.columns.toSeq ==
      Seq("src", "en_min(n)", "en_count_star()", "zh_min(n)", "zh_count_star()"))
    // single ALIASED aggregate: DuckDB names cells value_alias (Spark
    // ignores a lone aggregate's alias — the rewrite renames)
    val p8 = SqlStage("s",
      "PIVOT df ON lang USING sum(n) AS sv GROUP BY src ORDER BY src").apply(spark, df)
    assert(p8.columns.toSeq == Seq("src", "en_sv", "zh_sv"))
    // empty (or all-NULL) pivot input: zero rows, grouping columns only
    // (probed — no error)
    val p9 = SqlStage("s",
      "PIVOT (SELECT * FROM df WHERE n > 100) ON lang USING count(*) GROUP BY src")
      .apply(spark, df)
    assert(p9.columns.toSeq == Seq("src") && p9.count() == 0)
    // empty input where EVERY column is the pivot column or an
    // aggregate arg → zero grouping columns; DuckDB 1.0.0 raises
    // "SELECT list is empty after resolving * expressions!" (probed) —
    // the guided error keeps that loud (ADVICE r16)
    val e0 = intercept[DuckDialectException](SqlStage("s",
      "PIVOT (SELECT lang, n FROM df WHERE n > 100) ON lang USING sum(n)")
      .apply(spark, df))
    assert(e0.getMessage.contains("no grouping columns"))
    // unsupported shapes keep guided errors
    val e1 = intercept[DuckDialectException](SqlStage("s",
      "PIVOT df ON lang, src USING count(*)").apply(spark, df))
    assert(e1.getMessage.contains("multiple ON columns"))
    val e2 = intercept[DuckDialectException](SqlStage("s",
      "UNPIVOT df ON a, b INTO NAME m VALUE v VALUE w").apply(spark, df))
    assert(e2.getMessage.contains("paired unpivot"))
  }

  test("PIVOT statement discovers DATE values with typed literals") {
    import spark.implicits._
    val df = Seq(("a", "2024-01-01"), ("a", "2024-01-02"), ("b", "2024-01-01"))
      .toDF("src", "ds").selectExpr("src", "CAST(ds AS DATE) AS d")
    val p = SqlStage("s", "PIVOT df ON d USING count(*) GROUP BY src ORDER BY src")
      .apply(spark, df)
    assert(p.columns.toSeq == Seq("src", "2024-01-01", "2024-01-02"))
    assert(p.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq ==
      Seq(("a", 1L, 1L), ("b", 1L, 0L)))
  }

  test("COLUMNS star patterns expand against the stage schema") {
    val df = spark.range(3).selectExpr("id", "id * 2 AS n_a", "id * 3 AS n_b", "'x' AS tag")
    // bare regex form keeps original names
    val bare = SqlStage("s", "SELECT COLUMNS('^n_') FROM df").apply(spark, df)
    assert(bare.columns.toSeq == Seq("n_a", "n_b"))
    // function wrap: per-column aggregate; DuckDB 1.x names each output
    // after the MATCHED COLUMN (verified against duckdb 1.0.0), not
    // `fn(col)`
    val agg = SqlStage("s", "SELECT max(COLUMNS('^n_')) FROM df").apply(spark, df)
    assert(agg.columns.toSeq == Seq("n_a", "n_b"))
    assert(agg.collect().head.getLong(0) == 4L && agg.collect().head.getLong(1) == 6L)
    // COLUMNS(*) expands to everything
    assert(SqlStage("s", "SELECT COLUMNS(*) FROM df").apply(spark, df)
      .columns.toSeq == Seq("id", "n_a", "n_b", "tag"))
    // zero matches raise guided errors
    val e1 = intercept[DuckDialectException](
      SqlStage("s", "SELECT COLUMNS('^zz') FROM df").apply(spark, df))
    assert(e1.getMessage.contains("matches no column"))
    // LIKE-form lambdas over the column name expand (r7; was a guided
    // error); NOT LIKE complements; complex lambdas still error
    assert(SqlStage("s", "SELECT COLUMNS(c -> c LIKE 'n%') FROM df").apply(spark, df)
      .columns.toSeq == Seq("n_a", "n_b"))
    assert(SqlStage("s", "SELECT COLUMNS(c -> c NOT LIKE 'n%') FROM df").apply(spark, df)
      .columns.toSeq == Seq("id", "tag"))
    assert(SqlStage("s", "SELECT COLUMNS(c -> c ILIKE 'TAG') FROM df").apply(spark, df)
      .columns.toSeq == Seq("tag"))
    // lower()/upper() of the variable expand too (r9; was a guided error)
    assert(SqlStage("s", "SELECT COLUMNS(c -> lower(c) LIKE 'n%') FROM df")
      .apply(spark, df).columns.toSeq == Seq("n_a", "n_b"))
    // expressions over the expansion apply PER MATCHED COLUMN and keep
    // the matched column's name — DuckDB 1.x item-replication semantics
    // (was a guided error through r7)
    val dbl = SqlStage("s", "SELECT COLUMNS('^n_') * 2 FROM df").apply(spark, df)
    assert(dbl.columns.toSeq == Seq("n_a", "n_b"))
    assert(dbl.orderBy("n_a").collect().map(_.getLong(0)).toSeq == Seq(0L, 4L, 8L))
    val lhs = SqlStage("s", "SELECT 2 + COLUMNS('^n_') FROM df").apply(spark, df)
    assert(lhs.columns.toSeq == Seq("n_a", "n_b"))
    val isn = SqlStage("s", "SELECT COLUMNS('^n_') IS NULL FROM df").apply(spark, df)
    assert(isn.columns.toSeq == Seq("n_a", "n_b") &&
      isn.collect().forall(r => !r.getBoolean(0)))
    // aggregate + arithmetic; an explicit alias names EVERY expansion
    // (duplicates and all, as DuckDB does)
    val aggp = SqlStage("s", "SELECT min(COLUMNS('^n_')) + 1 FROM df").apply(spark, df)
    assert(aggp.columns.toSeq == Seq("n_a", "n_b") &&
      aggp.collect().head.getLong(0) == 1L)
    val ali = SqlStage("s", "SELECT COLUMNS('^n_') * 2 AS dbl FROM df").apply(spark, df)
    assert(ali.columns.toSeq == Seq("dbl", "dbl"))
    // implicit (no AS) and quoted aliases name every expansion too
    // (duckdb 1.0.0-verified forms — review r8 #2)
    assert(SqlStage("s", "SELECT COLUMNS('^n_') * 2 dbl FROM df").apply(spark, df)
      .columns.toSeq == Seq("dbl", "dbl"))
    assert(SqlStage("s", "SELECT COLUMNS('^n_') * 2 AS `dbl` FROM df").apply(spark, df)
      .columns.toSeq == Seq("dbl", "dbl"))
    // quoted implicit alias (no AS) names every expansion too
    assert(SqlStage("s", "SELECT COLUMNS('^n_') * 2 `dbl` FROM df").apply(spark, df)
      .columns.toSeq == Seq("dbl", "dbl"))
    // trailing keywords/operator operands are NOT aliases
    assert(SqlStage("s", "SELECT COLUMNS('^n_') IS NOT NULL FROM df").apply(spark, df)
      .columns.toSeq == Seq("n_a", "n_b"))
    assert(SqlStage("s", "SELECT COLUMNS('^n_') > 0 AND tag = 'x' FROM df")
      .apply(spark, df).columns.toSeq == Seq("n_a", "n_b"))
    // a named-window reference is an expression tail, not an alias
    // (review r8-2 #1: OVER w must not truncate into `OVER AS w`)
    val win = SqlStage("s",
      "SELECT sum(COLUMNS('^n_')) OVER w FROM df WINDOW w AS (ORDER BY id)")
      .apply(spark, df)
    assert(win.columns.toSeq == Seq("n_a", "n_b") && win.count() == 3)
    // identical COLUMNS zip per matched column; different patterns raise
    val zip = SqlStage("s",
      "SELECT COLUMNS('^n_') + COLUMNS('^n_') FROM df").apply(spark, df)
    assert(zip.columns.toSeq == Seq("n_a", "n_b") &&
      zip.orderBy("n_a").collect().map(_.getLong(0)).toSeq == Seq(0L, 4L, 8L))
    val e6 = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS('^n_a') + COLUMNS('^n_b') FROM df").apply(spark, df))
    assert(e6.getMessage.contains("IDENTICAL"))
    // explicit list form; a missing name raises
    assert(SqlStage("s", "SELECT COLUMNS(['n_b', 'tag']) FROM df").apply(spark, df)
      .columns.toSeq == Seq("n_b", "tag"))
    val e7 = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS(['n_b', 'zz']) FROM df").apply(spark, df))
    assert(e7.getMessage.contains("'zz'"))
    // SIMILAR TO lambda is a FULL regex match
    assert(SqlStage("s", "SELECT COLUMNS(c -> c SIMILAR TO 'n_.') FROM df")
      .apply(spark, df).columns.toSeq == Seq("n_a", "n_b"))
    assert(SqlStage("s", "SELECT COLUMNS(c -> c NOT SIMILAR TO 'n_.') FROM df")
      .apply(spark, df).columns.toSeq == Seq("id", "tag"))
    // boolean name-lambdas (r9): AND/OR/NOT/parens over LIKE, SIMILAR
    // TO, IN, =, <> — every expansion below probed against duckdb 1.0.0
    def colsOf(sql: String): Seq[String] =
      SqlStage("s", sql).apply(spark, df).columns.toSeq
    assert(colsOf("SELECT COLUMNS(c -> c LIKE 'n%' OR c = 'tag') FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> c LIKE 'n%' AND c NOT LIKE '%b') FROM df")
      == Seq("n_a"))
    assert(colsOf("SELECT COLUMNS(c -> NOT (c LIKE 'n%')) FROM df")
      == Seq("id", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> c IN ('n_a', 'tag')) FROM df")
      == Seq("n_a", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> c NOT IN ('n_a', 'tag')) FROM df")
      == Seq("id", "n_b"))
    assert(colsOf("SELECT COLUMNS(c -> c != 'id' AND (c SIMILAR TO 'n_.' OR c = 'tag')) FROM df")
      == Seq("n_a", "n_b", "tag"))
    // name-function lambdas (r9, VERDICT r8 missing #3 residual): len /
    // length / strlen numeric compares and lower/upper transforms of
    // the variable — every expansion probed against duckdb 1.0.0
    assert(colsOf("SELECT COLUMNS(c -> len(c) = 3) FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> len(c) < 3) FROM df") == Seq("id"))
    assert(colsOf("SELECT COLUMNS(c -> 3 <= len(c)) FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> length(c) >= 3 AND c LIKE 'n%') FROM df")
      == Seq("n_a", "n_b"))
    assert(colsOf("SELECT COLUMNS(c -> upper(c) LIKE 'N%' OR lower(c) = 'tag') FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> len(lower(c)) <> 2) FROM df")
      == Seq("n_a", "n_b", "tag"))
    // arithmetic-on-the-variable lambdas (r10, VERDICT r9 #5): full
    // + - * / // % with DuckDB's numeric rules, both comparison sides
    // df columns: id(2) n_a(3) n_b(3) tag(3)
    assert(colsOf("SELECT COLUMNS(c -> len(c) % 2 = 1) FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> len(c) * 2 - 1 >= 2 + 3) FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> len(c) + 1 = 3) FROM df") == Seq("id"))
    // `/` is DOUBLE division (3/2 = 1.5, never matches = 1); `//` is
    // DuckDiv's TRUNC toward zero on integral inputs (ADVICE r10: floor
    // gave -8//3 = -3; DuckDB gives -2), NULL-ish on /0
    assert(colsOf("SELECT COLUMNS(c -> len(c) // 2 = 1 AND c LIKE '%a%') FROM df")
      == Seq("n_a", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> (len(c) - 10) // 3 = -2) FROM df")
      == Seq("id", "n_a", "n_b", "tag"))
    // a lambda body STARTING with a parenthesized numeric subexpression
    // (VERDICT r11 #1 — the grammar used to hard-commit the paren to a
    // boolean group and fail); every expansion probed on duckdb 1.0.0
    assert(colsOf("SELECT COLUMNS(c -> (len(c)) // 3 = 1) FROM df")
      == Seq("n_a", "n_b", "tag"))
    assert(colsOf("SELECT COLUMNS(c -> (len(c) - 10) / 3 < 0) FROM df")
      == Seq("id", "n_a", "n_b", "tag"))
    // `//` dispatches on STATIC type (ADVICE r11): a `/` result is
    // DOUBLE-typed, so (len(c)/1) // 2 is PLAIN division in DuckDB —
    // (2/1)//2 = 1.0 matches, (3/1)//2 = 1.5 does not
    assert(colsOf("SELECT COLUMNS(c -> (len(c) / 1) // 2 = 1) FROM df")
      == Seq("id"))
    val eZero = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS(c -> len(c) // 0 = 0) FROM df").apply(spark, df))
    assert(eZero.getMessage.contains("matches no column"))
    // NULL-aware <> and NOT (ADVICE r11): NULL cmp x is NULL for EVERY
    // operator, and NOT NULL = NULL — both match no columns in DuckDB
    // (probed: Binder Error, empty set); a NaN-as-NULL shortcut made
    // these match ALL columns
    val eNeq = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS(c -> len(c) // 0 <> 0) FROM df").apply(spark, df))
    assert(eNeq.getMessage.contains("matches no column"))
    val eNot = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS(c -> NOT (len(c) // 0 = 0)) FROM df").apply(spark, df))
    assert(eNot.getMessage.contains("matches no column"))
    // Kleene OR: NULL OR true = true (probed: matches n_a, n_b)
    assert(colsOf("SELECT COLUMNS(c -> len(c) // 0 = 0 OR c LIKE 'n%') FROM df")
      == Seq("n_a", "n_b"))
    val eDiv = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS(c -> len(c) / 2 = 1 AND len(c) <> 2) FROM df").apply(spark, df))
    assert(eDiv.getMessage.contains("matches no column"))
    assert(colsOf("SELECT COLUMNS(c -> len(c) / 2 = 1) FROM df") == Seq("id"))
    // unary minus and parenthesized numeric subexpressions
    assert(colsOf("SELECT COLUMNS(c -> -len(c) < (0 - 2)) FROM df")
      == Seq("n_a", "n_b", "tag"))
    // substring/substr/replace name transforms (r11, VERDICT r10 #5) —
    // every expansion AND substring edge probed on duckdb 1.0.0
    // (negative start counts from the END: substring('abcdef', -2) = 'ef')
    assert(colsOf("SELECT COLUMNS(c -> substring(c, 1, 2) = 'n_') FROM df")
      == Seq("n_a", "n_b"))
    assert(colsOf("SELECT COLUMNS(c -> substr(c, 2) = 'ag') FROM df") == Seq("tag"))
    assert(colsOf("SELECT COLUMNS(c -> substring(c, -1) = 'a') FROM df") == Seq("n_a"))
    assert(colsOf("SELECT COLUMNS(c -> substring(c, 0, 2) = 'n') FROM df")
      == Seq("n_a", "n_b"))
    assert(colsOf("SELECT COLUMNS(c -> replace(c, '_', '') = 'na') FROM df")
      == Seq("n_a"))
    // NEGATIVE substring length selects |len| chars ENDING just before
    // start (probed r12 on duckdb 1.0.0: substring('hello', 3, -2) =
    // 'he' — NOT an error, contra ADVICE r11, and not always '')
    assert(colsOf("SELECT COLUMNS(c -> substring(c, 3, -2) = 'n_') FROM df")
      == Seq("n_a", "n_b"))
    assert(colsOf("SELECT COLUMNS(c -> substring(c, 1, -1) = '') FROM df")
      == Seq("id", "n_a", "n_b", "tag"))
    // transforms compose with each other and with len()
    assert(colsOf("SELECT COLUMNS(c -> upper(substring(c, 1, 1)) = 'N') FROM df")
      == Seq("n_a", "n_b"))
    assert(colsOf("SELECT COLUMNS(c -> len(replace(c, '_', '')) = 2) FROM df")
      == Seq("id", "n_a", "n_b"))
    // unsupported name functions stay guided errors
    val eLam = intercept[DuckDialectException](SqlStage("s",
      "SELECT COLUMNS(c -> reverse(c) = 'di') FROM df").apply(spark, df))
    assert(eLam.getMessage.contains("COLUMNS"))
    // a trailing comma / FROM / alias is NOT an operator context
    val ok = SqlStage("s", "SELECT COLUMNS('^n_'), tag FROM df").apply(spark, df)
    assert(ok.columns.toSeq == Seq("n_a", "n_b", "tag"))
    // expansion inside a subquery resolves against the inner select list
    val sub = SqlStage("s",
      "SELECT * FROM (SELECT COLUMNS('^n_') * 10 FROM df) WHERE n_a > 0").apply(spark, df)
    assert(sub.columns.toSeq == Seq("n_a", "n_b") && sub.count() == 2)
    // WHERE-clause COLUMNS: the ENTIRE predicate replicates per matched
    // column, replicas AND-ed (duckdb 1.0.0 semantics — the OR case is
    // what distinguishes whole-predicate from conjunct-level expansion)
    // df rows: (id, n_a=2id, n_b=3id, tag='x') for id 0..2
    val wh = SqlStage("s",
      "SELECT id FROM df WHERE COLUMNS('^n_') > 0").apply(spark, df)
    assert(wh.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val whOr = SqlStage("s",
      "SELECT id FROM df WHERE COLUMNS('^n_') > 2 OR id = 1").apply(spark, df)
    // id=1: (2>2 OR true) AND (3>2 OR true) → kept; id=2: (4>2) AND (6>2)
    // → kept; id=0: false
    assert(whOr.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
    val whMix = SqlStage("s",
      "SELECT id FROM df WHERE tag = 'x' AND COLUMNS('^n_') >= 2").apply(spark, df)
    assert(whMix.collect().map(_.getLong(0)).sorted.toSeq == Seq(1L, 2L))
  }

  test("list[begin:end] bracket slicing auto-rewrites with DuckDB semantics") {
    import spark.implicits._
    val df = Seq((Seq(1, 2, 3, 4, 5), "abcdef")).toDF("l", "s")
    // CODEGEN_ONLY: a DuckSlice doGenCode failure must FAIL here, not
    // silently drop every slice projection to the interpreted fallback
    // (r9: Janino rejects `(Object) intExpr` boxing casts — the open
    // -bound NullType path compiled, the common two-bound path didn't)
    def run(sql: String) = {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      try SqlStage("s", sql).apply(spark, df).collect().head
      finally spark.conf.set("spark.sql.codegen.factoryMode", "FALLBACK")
    }
    // every shape below verified against duckdb 1.0.0 (round-9 probe):
    // closed, 0-begin clamp, open ends, negatives, mixed signs,
    // over-range → clamp/empty, begin > end → empty
    assert(run("SELECT l[2:4] AS r FROM df").getSeq[Int](0) == Seq(2, 3, 4))
    assert(run("SELECT l[0:2] AS r FROM df").getSeq[Int](0) == Seq(1, 2))
    assert(run("SELECT l[:3] AS r FROM df").getSeq[Int](0) == Seq(1, 2, 3))
    assert(run("SELECT l[3:] AS r FROM df").getSeq[Int](0) == Seq(3, 4, 5))
    assert(run("SELECT l[:] AS r FROM df").getSeq[Int](0) == Seq(1, 2, 3, 4, 5))
    assert(run("SELECT l[-2:] AS r FROM df").getSeq[Int](0) == Seq(4, 5))
    assert(run("SELECT l[:-2] AS r FROM df").getSeq[Int](0) == Seq(1, 2, 3, 4))
    assert(run("SELECT l[2:-2] AS r FROM df").getSeq[Int](0) == Seq(2, 3, 4))
    assert(run("SELECT l[-4:-2] AS r FROM df").getSeq[Int](0) == Seq(2, 3, 4))
    assert(run("SELECT l[7:9] AS r FROM df").getSeq[Int](0) == Seq())
    assert(run("SELECT l[4:2] AS r FROM df").getSeq[Int](0) == Seq())
    assert(run("SELECT l[-9:-7] AS r FROM df").getSeq[Int](0) == Seq())
    // strings slice by character, same conventions
    assert(run("SELECT s[2:4] AS r FROM df").getString(0) == "bcd")
    assert(run("SELECT s[2:-2] AS r FROM df").getString(0) == "bcde")
    assert(run("SELECT 'abcdef'[-2:] AS r FROM df").getString(0) == "ef")
    // function-call and chained bases; qualified column
    assert(run("SELECT list_sort(l)[2:3] AS r FROM df").getSeq[Int](0) == Seq(2, 3))
    assert(run("SELECT l[2:][2:] AS r FROM df").getSeq[Int](0) == Seq(3, 4, 5))
    assert(run("SELECT df.l[2:3] AS r FROM df").getSeq[Int](0) == Seq(2, 3))
    // scalar subscripts (quoted colons don't make a slice) are DuckDB
    // 1-BASED since the r13 rewriteSubscript pass
    val str = SqlStage("s", "SELECT element_at(map('a:b', l), 'a:b')[1] AS v FROM df")
      .apply(spark, df)
    assert(str.collect().head.getInt(0) == 1)
    // the function aliases share the semantics; a NULL bound nulls the
    // result (DuckDB's function form), unlike an OPEN bracket bound
    assert(run("SELECT list_slice(l, 2, 3) AS r FROM df").getSeq[Int](0) == Seq(2, 3))
    assert(run("SELECT list_slice(l, -2, -1) AS r FROM df").getSeq[Int](0) == Seq(4, 5))
    assert(run("SELECT array_slice(s, 2, 4) AS r FROM df").getString(0) == "bcd")
    assert(run("SELECT list_slice(l, 2, NULL) AS r FROM df").isNullAt(0))
    assert(run("SELECT list_slice(CAST(NULL AS ARRAY<INT>), 1, 2) AS r FROM df").isNullAt(0))
    // a slice on a bare LIST LITERAL composes since r10: the literal
    // rewrites to array(...) first, then the slice claims the call
    // (this exact shape was the r9 guided error)
    assert(run("SELECT [1,2,3][2:3] AS r FROM df").getSeq[Int](0) == Seq(2, 3))
  }

  test("->> JSON chains rewrite to get_json_object; lambda arrows never false-fire") {
    import spark.implicits._
    val df = Seq((1L, """{"a": {"b": 5, "s": "hi"}, "l": [1, 2]}"""))
      .toDF("id", "j")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // values probed on duckdb 1.0.0: ->> is VARCHAR, strings unquoted,
    // missing path NULL, object values re-serialized compact
    assert(one("SELECT j ->> 'a' AS r FROM df").getString(0) == """{"b":5,"s":"hi"}""")
    assert(one("SELECT j -> 'a' ->> 'b' AS r FROM df").getString(0) == "5")
    assert(one("SELECT j -> 'a' ->> 's' AS r FROM df").getString(0) == "hi")
    assert(one("SELECT j -> 'l' ->> 0 AS r FROM df").getString(0) == "1")
    assert(one("SELECT j ->> 'zz' AS r FROM df").isNullAt(0))
    // tight spacing and use inside expressions
    assert(one("SELECT CAST(j->'a'->>'b' AS BIGINT) + id AS r FROM df").getLong(0) == 6L)
    // lambda arrows are NOT JSON chains: transform still works after
    // the full rewrite chain, even with a literal-bodied lambda
    assert(one("SELECT transform(array(1, 2), x -> x + 1) AS r FROM df")
      .getSeq[Int](0) == Seq(2, 3))
    assert(one("SELECT list_transform([1, 2], x -> 'k') AS r FROM df")
      .getSeq[String](0) == Seq("k", "k"))
    // guided error: non-word key
    val e2 = intercept[DuckDialectException](
      SqlStage("s", "SELECT j ->> 'a-b' AS r FROM df").apply(spark, df))
    assert(e2.getMessage.contains("plain word"))
  }

  test("terminal -> chains render DuckDB's JSON type (r12)") {
    import spark.implicits._
    val df = Seq((1L,
      """{"a": {"b": 5, "s": "hi"}, "l": [1, 2], "z": null, "n": 1.50, "q": "null"}"""))
      .toDF("id", "j")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every rendering rule probed on duckdb 1.0.0: strings KEEP quotes,
    // numbers canonicalize (1.50 -> 1.5), objects re-serialize compact
    // in SOURCE key order, JSON null -> SQL NULL, missing -> NULL
    assert(one("SELECT j -> 'a' -> 's' AS r FROM df").getString(0) == "\"hi\"")
    assert(one("SELECT j -> 'a' -> 'b' AS r FROM df").getString(0) == "5")
    assert(one("SELECT j -> 'n' AS r FROM df").getString(0) == "1.5")
    assert(one("SELECT j -> 'a' AS r FROM df").getString(0) == """{"b":5,"s":"hi"}""")
    assert(one("SELECT j -> 'l' AS r FROM df").getString(0) == "[1,2]")
    assert(one("SELECT j -> 'l' -> 0 AS r FROM df").getString(0) == "1")
    assert(one("SELECT j -> 'z' AS r FROM df").isNullAt(0))
    assert(one("SELECT j -> 'zz' AS r FROM df").isNullAt(0))
    // a STRING value "null" stays a quoted scalar (nullif can't touch it)
    assert(one("SELECT j -> 'q' AS r FROM df").getString(0) == "\"null\"")
    // mixed chains: ->> mid-chain, terminal ->
    assert(one("SELECT j ->> 'a' -> 'b' AS r FROM df").getString(0) == "5")
    // bare-arrow chains never claim lambdas, even constant-bodied ones
    assert(one("SELECT transform(array(1, 2), x -> 'c') AS r FROM df")
      .getSeq[String](0) == Seq("c", "c"))
    assert(one("SELECT filter(array('a', 'b'), x -> x = 'a') AS r FROM df")
      .getSeq[String](0) == Seq("a"))
    // ...but a JSON arrow in a NON-lambda argument position rewrites
    assert(one("SELECT coalesce(j -> 'a' -> 'b', 'x') AS r FROM df")
      .getString(0) == "5")
  }

  test("UNION [ALL] BY NAME merges by column name with NULL fill (probed)") {
    import spark.implicits._
    val df = spark.range(1).toDF("id")
    def rows(sql: String) = SqlStage("s", sql).apply(spark, df).collect()
    // columns match by NAME in any order (probed on duckdb 1.0.0)
    val r1 = rows("SELECT 1 AS a, 'x' AS b UNION ALL BY NAME SELECT 'y' AS b, 2 AS a")
    assert(r1.map(r => (r.getInt(0), r.getString(1))).toSet == Set((1, "x"), (2, "y")))
    // a side missing a column contributes NULL there
    val r2 = rows("SELECT 1 AS a UNION ALL BY NAME SELECT 'y' AS b")
      .map(r => (if (r.isNullAt(0)) None else Some(r.getInt(0)),
                 Option(r.getString(1)))).toSet
    assert(r2 == Set((Some(1), None), (None, Some("y"))))
    // plain UNION BY NAME dedups; ORDER BY applies to the WHOLE union
    assert(rows("SELECT 1 AS a UNION BY NAME SELECT 1 AS a").length == 1)
    assert(rows("SELECT 2 AS a UNION ALL BY NAME SELECT 1 AS a ORDER BY a")
      .map(_.getInt(0)).toSeq == Seq(1, 2))
    assert(rows("SELECT 2 AS a UNION ALL BY NAME SELECT 1 AS a " +
      "UNION ALL BY NAME SELECT 3 AS a ORDER BY a DESC LIMIT 2")
      .map(_.getInt(0)).toSeq == Seq(3, 2))
    // a leading CTE scopes over EVERY side (DuckDB's binding)
    val r3 = rows("""WITH c AS (SELECT id + 10 AS v FROM df)
      SELECT v AS a FROM c UNION ALL BY NAME SELECT v + 1 AS b FROM c""")
    assert(r3.length == 2)
    // sides keep the full dialect layer (comprehension + // in a side)
    val r4 = rows("SELECT list_sum([x FOR x IN [4, 6]]) // 2 AS a " +
      "UNION ALL BY NAME SELECT 99 AS a ORDER BY a")
    assert(r4.map(_.getAs[Number](0).longValue).toSeq == Seq(5L, 99L))
  }

  test("GLOB rewrites to anchored RLIKE with DuckDB's probed matching") {
    import spark.implicits._
    val df = Seq(("foo.csv", 1L)).toDF("f", "id")
    def b(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every value probed on duckdb 1.0.0
    assert(b("SELECT f GLOB '*.csv' AS r FROM df").getBoolean(0))
    assert(!b("SELECT 'foo.csvx' GLOB '*.csv' AS r FROM df").getBoolean(0))
    assert(b("SELECT 'a7b' GLOB 'a?b' AS r FROM df").getBoolean(0))
    assert(b("SELECT 'a7b' GLOB 'a[0-9]b' AS r FROM df").getBoolean(0))
    assert(!b("SELECT 'aXb' GLOB 'a[0-9]b' AS r FROM df").getBoolean(0))
    assert(b("SELECT 'aXb' GLOB 'a[!0-9]b' AS r FROM df").getBoolean(0))
    assert(!b("SELECT 'FOO' GLOB 'foo' AS r FROM df").getBoolean(0)) // case-sensitive
    assert(b("SELECT 'a.b' GLOB 'a.b' AS r FROM df").getBoolean(0))  // dot is literal
    assert(!b("SELECT 'axb' GLOB 'a.b' AS r FROM df").getBoolean(0))
    assert(b("SELECT 'x' NOT GLOB 'y*' AS r FROM df").getBoolean(0))
    assert(b("SELECT CAST(NULL AS STRING) GLOB 'a' AS r FROM df").isNullAt(0))
    // `glob` is NOT reserved in Spark: identifier uses must keep
    // parsing (ADVICE r10 — previously claimed + failed). Also SELECT
    // aliases and qualified refs.
    val files = Seq(("a.csv", "x")).toDF("glob", "other")
    files.createOrReplaceTempView("glob_files")
    assert(SqlStage("s", "SELECT glob FROM glob_files").apply(spark, df)
      .collect().head.getString(0) == "a.csv")
    assert(SqlStage("s", "SELECT g.glob, other FROM glob_files g WHERE glob = 'a.csv'")
      .apply(spark, df).count() == 1)
    // ...while operator uses in the same statement still rewrite
    assert(b("SELECT glob GLOB '*.csv' AS r FROM glob_files").getBoolean(0))
    // a computed pattern is no longer claimed: it reaches Spark's own
    // parser (and fails there as non-SQL) instead of a dialect error
    intercept[Exception](
      SqlStage("s", "SELECT f GLOB f AS r FROM df").apply(spark, df).collect())
  }

  test("struct literals rewrite to named_struct; bare braces stay scoped") {
    import spark.implicits._
    val df = Seq((1L, "en")).toDF("id", "lang")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    val s0 = one("SELECT {'x': id + 1, 'y': lang} AS s FROM df").getStruct(0)
    assert(s0.getLong(0) == 2L && s0.getString(1) == "en")
    // field access on a parenthesized literal; nested structs and lists
    assert(one("SELECT ({'x': 41}).x + 1 AS r FROM df").getInt(0) == 42)
    val nested = one("SELECT {'a': {'b': 7}, 'l': [1, 2]} AS s FROM df").getStruct(0)
    assert(nested.getStruct(0).getInt(0) == 7)
    assert(nested.getSeq[Int](1) == Seq(1, 2))
    // keys with spaces / escaped quotes work (named_struct takes any name)
    assert(one("SELECT {'two words': 5} AS s FROM df").getStruct(0).getInt(0) == 5)
    // strings are inert; bare empty {} is not claimed
    assert(GraftSqlParser.rewriteStructLiteral("SELECT '{1: 2}' AS s") ==
      "SELECT '{1: 2}' AS s")
    assert(GraftSqlParser.rewriteStructLiteral("SELECT {} AS s") == "SELECT {} AS s")
    // non-string keys WITHOUT the MAP word (no faithful rewrite) unclaimed
    assert(GraftSqlParser.rewriteStructLiteral("SELECT {1: 2} AS s") ==
      "SELECT {1: 2} AS s")
  }

  test("MAP literals execute with DuckDB semantics incl. list-shaped subscript") {
    import spark.implicits._
    val df = Seq((7L, "en")).toDF("id", "lang")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // literal → map(); order preserved (probed duckdb 1.0.0)
    assert(one("SELECT map_keys(MAP {'a': 1, 'b': id}) AS r FROM df")
      .getSeq[String](0) == Seq("a", "b"))
    assert(one("SELECT map_values(MAP {'a': id + 1, 'b': id * 2}) AS r FROM df")
      .getSeq[Long](0) == Seq(8L, 14L))
    // r16 (FuzzDiff): DuckDB's two-list map(keys, values) CONSTRUCTOR —
    // Spark's same-named variadic pairs form silently built a one-entry
    // array→array map. DuckMapConstructor dispatches post-analysis:
    // two array args → map_from_arrays; anything else stays Spark's
    // CreateMap (the pairs call keeps working).
    assert(one("SELECT map(['x', 'y'], [id, id + 1])['y'][1] AS r FROM df")
      .getLong(0) == 8L)
    assert(one("SELECT map_keys(map(['a', 'b'], [1, 2])) AS r FROM df")
      .getSeq[String](0) == Seq("a", "b"))
    assert(one("SELECT map(['x'], [id])['nope'] AS r FROM df")
      .getSeq[Long](0) == Seq())
    assert(one("SELECT map('k', id)['k'][1] AS r FROM df") // Spark pairs form
      .getLong(0) == 7L)
    // DuckDB 1.0 subscript is LIST-shaped: [v] hit, [] miss, [NULL]
    // present-NULL; expression and integer keys work
    assert(one("SELECT MAP {'k': lang}['k'] AS r FROM df")
      .getSeq[String](0) == Seq("en"))
    assert(one("SELECT MAP {'k': lang}['nope'] AS r FROM df")
      .getSeq[String](0) == Seq())
    assert(one("SELECT MAP {'k': lang}[concat('k', '')] AS r FROM df")
      .getSeq[String](0) == Seq("en"))
    assert(one("SELECT MAP {1: 'x', 2: 'y'}[2] AS r FROM df")
      .getSeq[String](0) == Seq("y"))
    assert(one("SELECT MAP {'k': CAST(NULL AS INT)}['k'] AS r FROM df")
      .getSeq[Any](0) == Seq(null))
    // nested values compose via the rescan; lowercase map; empty MAP {}
    assert(one("SELECT MAP {'a': [1, 2]}['a'] AS r FROM df")
      .getSeq[Seq[Int]](0) == Seq(Seq(1, 2)))
    assert(one("SELECT map {'s': {'b': 3}}['s'] AS r FROM df")
      .getSeq[org.apache.spark.sql.Row](0).head.getInt(0) == 3)
    assert(one("SELECT cast(cardinality(MAP {}) AS BIGINT) AS r FROM df")
      .getLong(0) == 0L)
    // identifiers merely ENDING in "map" are NOT the MAP word; strings
    // inert; malformed bodies unclaimed (→ guided error downstream)
    assert(GraftSqlParser.rewriteStructLiteral("SELECT heatmap {'a': 1} AS s") ==
      "SELECT heatmap {'a': 1} AS s")
    assert(GraftSqlParser.rewriteStructLiteral("SELECT 'MAP {1: 2}' AS s") ==
      "SELECT 'MAP {1: 2}' AS s")
    assert(GraftSqlParser.rewriteStructLiteral("SELECT MAP {'a' 1} AS s") ==
      "SELECT MAP {'a' 1} AS s")
    // a SLICE bracket after the literal is not an index claim
    assert(GraftSqlParser.rewriteStructLiteral("SELECT MAP {'a': 1}[1:2] AS s") ==
      "SELECT map('a', 1)[1:2] AS s")
  }

  test("bare list literals rewrite to array() in literal position only") {
    import spark.implicits._
    val df = Seq((Seq(9, 8), "x")).toDF("l", "s")
    def run(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    assert(run("SELECT [1, 2, 3] AS r FROM df").getSeq[Int](0) == Seq(1, 2, 3))
    assert(run("SELECT [] AS r FROM df").getSeq[Any](0) == Seq())
    // nested literals, literals in function args, after operators
    assert(run("SELECT [[1, 2], [3]] AS r FROM df")
      .getSeq[Seq[Int]](0) == Seq(Seq(1, 2), Seq(3)))
    assert(run("SELECT list_has_all([1, 2, 3], [2, 3]) AS r FROM df").getBoolean(0))
    assert(run("SELECT l = [9, 8] AS r FROM df").getBoolean(0))
    // comprehension + literal + slice compose (each rewrite feeds the next)
    assert(run("SELECT [x * 2 FOR x IN [1, 2, 3] IF x > 1][2:2] AS r FROM df")
      .getSeq[Int](0) == Seq(6))
    // subscripts on expressions are NOT literals — l[1] is a scalar
    // subscript, DuckDB 1-BASED since the r13 rewriteSubscript pass
    // (previously a documented divergence to Spark's 0-based native)
    assert(run("SELECT l[1] AS r FROM df").getInt(0) == 9)
    // CASE branches are literal position
    assert(run("SELECT CASE WHEN s = 'x' THEN [1] ELSE [2] END AS r FROM df")
      .getSeq[Int](0) == Seq(1))
    // strings are inert; struct-ish bodies with a top-level ':' unclaimed
    assert(GraftSqlParser.rewriteListLiteral("SELECT '[1,2]' AS s") ==
      "SELECT '[1,2]' AS s")
    assert(GraftSqlParser.rewriteListLiteral("SELECT ['a': 1] AS s") ==
      "SELECT ['a': 1] AS s")
  }

  test("WITH RECURSIVE: standard linear recursion executes natively (Spark 4.x)") {
    import spark.implicits._
    // 1→2→3 edge chain: closure adds (1,3); a DuckDB user's recursive
    // CTE runs UNCHANGED (q117 runs identical text on both engines)
    val df = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    val out = SqlStage("s",
      """WITH RECURSIVE r AS (
        |  SELECT src, dst FROM df
        |  UNION ALL
        |  SELECT r.src, e.dst FROM r JOIN df e ON r.dst = e.src)
        |SELECT * FROM r ORDER BY src, dst""".stripMargin).apply(spark, df)
    assert(out.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (1L, 3L), (2L, 3L)))
    // depth 25 (the gate query q117 stays shallow — Spark pays one job
    // per recursion level, so deep semantics are pinned here instead)
    val series = SqlStage("s",
      "WITH RECURSIVE t AS (SELECT 0 AS n UNION ALL SELECT n + 1 FROM t " +
        "WHERE n < 24) SELECT SUM(n) AS s, COUNT(*) AS c FROM t")
      .apply(spark, df).collect().head
    assert((series.getLong(0), series.getLong(1)) == (300L, 25L))
    // the dialect hint stays as a FALLBACK for unparseable recursive
    // shapes, pointing at the iterative operator
    val hint = DuckDialect.hintFor("WITH RECURSIVE x AS (whatever)")
    assert(hint.exists(_.contains("connectedComponents")))
  }

  test("list comprehensions rewrite to list_transform/list_filter (DuckDB desugaring)") {
    val df = spark.range(1).toDF("id")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // plain transform
    assert(one("SELECT [x * 2 FOR x IN list_value(1, 2, 3)] AS r FROM df")
      .getSeq[Int](0) == Seq(2, 4, 6))
    // IF filters FIRST, then transforms — DuckDB's order
    assert(one("SELECT [x * 10 FOR x IN list_value(1, 2, 3, 4) IF x % 2 = 0] AS r FROM df")
      .getSeq[Int](0) == Seq(20, 40))
    // nested comprehension in the source list; string bodies
    assert(one("SELECT [y + 1 FOR y IN [x * 2 FOR x IN list_value(1, 2)]] AS r FROM df")
      .getSeq[Int](0) == Seq(3, 5))
    assert(one("SELECT [upper(s) FOR s IN list_value('a', 'bc') IF length(s) = 1] AS r FROM df")
      .getSeq[String](0) == Seq("A"))
    // composes with the slice rewrite (comprehension output sliced)
    assert(one("SELECT [x FOR x IN list_value(1, 2, 3, 4)][2:3] AS r FROM df")
      .getSeq[Int](0) == Seq(2, 3))
    // comprehension over a column, inside an aggregate-bearing query
    val docs = spark.range(1, 4).selectExpr("id", "array(id, id * 2, id * 3) AS xs")
    docs.createOrReplaceTempView("cdocs")
    val agg = SqlStage("s",
      "SELECT CAST(SUM(list_sum([x * x FOR x IN xs IF x > 1])) AS BIGINT) AS s FROM cdocs")
      .apply(spark, docs).collect().head
    // id=1: xs=[1,2,3] → [4,9]=13; id=2: [2,4,6] → 4+16+36=56; id=3: [3,6,9] → 9+36+81=126
    assert(agg.getLong(0) == 195L)
    // brackets in string literals are inert; plain literals/index/slice untouched
    assert(GraftSqlParser.rewriteComprehension("SELECT '[x FOR x IN y]' AS s") ==
      "SELECT '[x FOR x IN y]' AS s")
    assert(GraftSqlParser.rewriteComprehension("SELECT l[1], l[1:2], [1, 2] FROM t") ==
      "SELECT l[1], l[1:2], [1, 2] FROM t")
    // mangled comprehension raises a guided error, not a misparse
    val e = intercept[DuckDialectException](
      GraftSqlParser.rewriteComprehension("SELECT [x FOR 1 IN y] FROM t"))
    assert(e.getMessage.contains("comprehension"))
  }

  test("// and ** operators rewrite with DuckDB's probed semantics") {
    val df = spark.range(1).toDF("id")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every value below probed on duckdb 1.0.0 this round
    // `//`: integer inputs truncate toward zero, keeping the operands'
    // COMMON integer type (r18 correction: typeof(-30 // 13) = INTEGER
    // in DuckDB, not BIGINT — the width feeds printf's unsigned
    // conversions, fuzz template 65)
    assert(one("SELECT 7 // 2 AS r FROM df").getInt(0) == 3)
    assert(one("SELECT -7 // 2 AS r FROM df").getInt(0) == -3)
    assert(one("SELECT CAST(7 AS BIGINT) // 2 AS r FROM df").getLong(0) == 3L)
    // fractional input → plain DOUBLE division (DuckDB does NOT floor)
    assert(one("SELECT 7.5 // 2 AS r FROM df").getDouble(0) == 3.75)
    // same precedence tier as * (left-assoc): 3*5//2 = 7, 7//2*3 = 9
    assert(one("SELECT 3 * 5 // 2 AS r FROM df").getInt(0) == 7)
    assert(one("SELECT 7 // 2 * 3 AS r FROM df").getInt(0) == 9)
    assert(one("SELECT 1 + 7 // 2 AS r FROM df").getInt(0) == 4)
    // chains, function operands, column operands
    assert(one("SELECT 100 // 7 // 2 AS r FROM df").getInt(0) == 7)
    assert(one("SELECT len('abcdefg') // 2 AS r FROM df").getInt(0) == 3)
    assert(one("SELECT (id + 7) // 2 AS r FROM df").getLong(0) == 3L)
    // divide-by-zero → NULL on both engines (probed) — the FRACTIONAL
    // path too (ADVICE r10: was Infinity/NaN; DuckDB: 7.5 // 0 is NULL)
    assert(one("SELECT 7 // 0 AS r FROM df").isNullAt(0))
    assert(one("SELECT 7.5 // 0 AS r FROM df").isNullAt(0))
    assert(one("SELECT 7.5 // 0.0 AS r FROM df").isNullAt(0))
    assert(one("SELECT CAST(7.5 AS DOUBLE) // 0 AS r FROM df").isNullAt(0))
    // `**`: DOUBLE result, LEFT-assoc (2**3**2 = 64, not 512), tighter
    // than * (3*2**2 = 12), looser than unary minus (-2**2 = 4)
    assert(one("SELECT 2 ** 3 AS r FROM df").getDouble(0) == 8.0)
    assert(one("SELECT 2 ** 3 ** 2 AS r FROM df").getDouble(0) == 64.0)
    assert(one("SELECT 3 * 2 ** 2 AS r FROM df").getDouble(0) == 12.0)
    assert(one("SELECT -2 ** 2 AS r FROM df").getDouble(0) == 4.0)
    assert(one("SELECT 2 ** -1 AS r FROM df").getDouble(0) == 0.5)
    assert(one("SELECT 3 - 2 ** 2 AS r FROM df").getDouble(0) == -1.0)
    // operators compose: ** binds tighter than //
    assert(one("SELECT 100 // 3 ** 2 AS r FROM df").getDouble(0) == 100.0 / 9.0)
    // strings and comments are inert
    assert(GraftSqlParser.rewriteIntDiv("SELECT 'a // b' AS s") == "SELECT 'a // b' AS s")
    assert(GraftSqlParser.rewritePow("SELECT 'a ** b' AS s") == "SELECT 'a ** b' AS s")
  }

  test("deep-recursion cost warning: unbounded or >100-level shapes warn, shallow don't") {
    import graft.queries.ExtraQueries
    def warn(sql: String) = GraftSqlParser.deepRecursionWarning(sql)
    // q117's gate shape (n < 6) and the depth-25 suite shape stay quiet
    assert(warn(ExtraQueries.recursiveSqlText).isEmpty)
    assert(warn("WITH RECURSIVE t AS (SELECT 0 AS n UNION ALL SELECT n + 1 " +
      "FROM t WHERE n < 24) SELECT SUM(n) FROM t").isEmpty)
    // a LIMIT bound also counts as a bound
    assert(warn("WITH RECURSIVE t AS (SELECT 0 AS n UNION ALL " +
      "SELECT n + 1 FROM t) SELECT n FROM t LIMIT 50").isEmpty)
    // no visible bound: the reachability/transitive-closure shape warns,
    // naming the iterative scale operator — and still RUNS
    val closure = """WITH RECURSIVE r AS (
      SELECT src, dst FROM df UNION ALL
      SELECT r.src, e.dst FROM r JOIN df e ON r.dst = e.src)
      SELECT COUNT(*) AS n FROM r"""
    assert(warn(closure).exists(_.contains("connectedComponents")))
    import spark.implicits._
    val df = Seq((1L, 2L), (2L, 3L)).toDF("src", "dst")
    assert(SqlStage("s", closure).apply(spark, df).collect().head.getLong(0) == 3L)
    // every visible bound above ~100 levels warns with the bound named
    assert(warn("WITH RECURSIVE t AS (SELECT 0 AS n UNION ALL SELECT n + 1 " +
      "FROM t WHERE n < 5000) SELECT n FROM t").exists(_.contains("5000")))
    // bound literals inside string literals are invisible (masked)
    assert(warn("WITH RECURSIVE t AS (SELECT 'x < 5' AS s UNION ALL " +
      "SELECT s FROM t) SELECT s FROM t").isDefined)
    // non-recursive statements never warn
    assert(warn("SELECT 1 WHERE 2 > 1").isEmpty)
  }

  test("CREATE MACRO: guided error names the Spark 4 SQL UDF path") {
    // the hint must win over the `:=` hint for macros with defaults
    for (m <- Seq("CREATE MACRO add1(x) AS x + 1",
                  "CREATE OR REPLACE TEMP MACRO f(a, b := 5) AS a + b")) {
      val hint = DuckDialect.hintFor(m)
      assert(hint.exists(_.contains("CREATE TEMPORARY FUNCTION")), m)
    }
    // and the suggested replacement actually runs on Spark 4
    spark.sql("CREATE OR REPLACE TEMPORARY FUNCTION graft_t_add1(x INT) " +
      "RETURNS INT RETURN x + 1")
    assert(spark.sql("SELECT graft_t_add1(41)").collect().head.getInt(0) == 42)
  }

  test("COLUMNS inside a nested subquery clause keeps the guided error (no outer-item expansion)") {
    import spark.implicits._
    val df = Seq((1L, 2L, 3L)).toDF("id", "n_a", "n_b")
    // COLUMNS sits in a scalar subquery's WHERE: DuckDB binds it against
    // the INNER query's schema; replicating the outer select item against
    // the stage schema would silently diverge (ADVICE r8 #3)
    val e = intercept[Exception](
      SqlStage("s",
        "SELECT id, (SELECT max(id) FROM df WHERE COLUMNS('^n_') > 0) AS m FROM df")
        .apply(spark, df))
    assert(e.getMessage.contains("COLUMNS"))
    // sanity: a subquery whose OWN select list carries COLUMNS still expands
    val ok = SqlStage("s",
      "SELECT * FROM (SELECT COLUMNS('^n_') * 10 FROM df) WHERE n_a > 0")
      .apply(spark, df)
    assert(ok.columns.toSeq == Seq("n_a", "n_b"))
  }

  test("POSITIONAL JOIN one-sided star wraps only that side's helper index") {
    val df = spark.range(3).toDF("id")
    // a.* carries only the left helper — an EXCEPT naming both would be
    // an analysis error (review r7)
    val out = SqlStage("s",
      """SELECT a.* FROM
        |  (SELECT id AS x FROM df ORDER BY x) a
        |  POSITIONAL JOIN
        |  (SELECT id AS y FROM df ORDER BY y DESC) b
        |""".stripMargin).apply(spark, df)
    assert(out.columns.toSeq == Seq("x"))
    assert(out.collect().map(_.getLong(0)).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("rewrite chain survives garbage: returns or raises DuckDialectException, never hangs") {
    val rnd = new scala.util.Random(7)
    val vocab = Seq("SELECT", "FROM", "WHERE", "QUALIFY", "EXCLUDE", "struct_pack",
      "USING", "SAMPLE", "COLUMNS", ":=", "OVER", "(", ")", "*", ",", "'lit'",
      "a", "b", "t", "10", "%", "ROWS", "ORDER", "BY", "''", "rn", "=", "1",
      "POSITIONAL", "JOIN", "UNPIVOT", "INTO", "NAME", "VALUE", "ON", "->",
      "LIKE", "GROUP",
      // r10 rewrite triggers: comprehensions, literals, operators,
      // JSON chains, GLOB, BY-NAME unions
      "[", "]", "{", "}", ":", "FOR", "IN", "IF", "//", "**", "->>",
      "GLOB", "UNION", "ALL", "-")
    for (trial <- 1 to 400) {
      val sql = Seq.fill(3 + rnd.nextInt(25))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      try {
        val out = GraftSqlParser.rewriteAll(
          GraftSqlParser.rewriteUnpivotStatement(sql))
        assert(out != null)
        // a second application must also terminate (idempotence not
        // required — QUALIFY-free garbage stays fixed, others converge)
        GraftSqlParser.rewriteAll(out)
      } catch {
        case _: DuckDialectException => // guided error is a valid outcome
      }
    }
  }

  test("statement-level parsers survive garbage: return or raise, never hang") {
    // the r9 statement layer (macros, COPY, CTAS, INSERT, DESCRIBE,
    // SET, FROM-first, batch split) fuzzes over mangled statement text:
    // every parser must either return a parse, return None, or raise a
    // guided error — pure functions, no side effects from a parse
    val rnd = new scala.util.Random(11)
    val vocab = Seq("CREATE", "OR", "REPLACE", "TEMP", "MACRO", "TABLE", "AS",
      "COPY", "TO", "INSERT", "INTO", "BY", "NAME", "DESCRIBE", "SHOW", "SET",
      "FROM", "SELECT", "WHERE", "(", ")", ",", ";", ":=", "'p'", "''",
      "a", "b", "t", "1", "=", "VALUES", "IF", "NOT", "EXISTS", "FORMAT",
      "CSV", "HEADER", "read_csv_auto", "PARTITION_BY")
    for (trial <- 1 to 400) {
      val sql = Seq.fill(2 + rnd.nextInt(20))(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      def ok(f: => Any): Unit =
        try { f; () } catch { case _: DuckDialectException => }
      ok(GraftSqlParser.splitStatements(sql))
      ok(GraftSqlParser.isCreateMacroStatement(sql))
      if (GraftSqlParser.isCreateMacroStatement(sql))
        ok(DuckSession.registerMacro(spark, sql))
      ok(DuckSession.expandMacros(spark, sql))
      ok(GraftSqlParser.copyTarget(sql))
      ok(GraftSqlParser.ctasTarget(sql))
      ok(GraftSqlParser.insertTarget(sql))
      ok(GraftSqlParser.describeTarget(sql))
      ok(GraftSqlParser.rewriteFromFirst(sql))
      ok(GraftSqlParser.unionByNameTarget(sql))
      ok(GraftSqlParser.deepRecursionWarning(sql))
    }
  }

  test("maskQuotes blanks SQL comments: ';' inside -- or /* */ never splits a batch") {
    // r9 review: splitStatements only masked quoted strings, so a ';'
    // inside a comment split the batch mid-comment into garbage
    val lineSql = "SELECT 1 AS a -- trailing; not a split; really\nFROM df;\nSELECT 2 AS b FROM df"
    assert(GraftSqlParser.splitStatements(lineSql).size == 2)
    val blockSql = "SELECT /* c1; c2; */ 1 AS a FROM df; SELECT /* tail */ 2 AS b FROM df"
    val stmts = GraftSqlParser.splitStatements(blockSql)
    assert(stmts.size == 2 && stmts.head.contains("/* c1; c2; */"))
    // markers inside string literals stay literal text, quotes inside
    // comments are not quotes — the two states shadow each other
    assert(GraftSqlParser.splitStatements(
      "SELECT '--;' AS a FROM df; SELECT 2 AS b FROM df").size == 2)
    assert(GraftSqlParser.splitStatements(
      "SELECT 1 -- it's fine; honest\n, 2 FROM df").size == 1)
    val masked = GraftSqlParser.maskQuotes("a 'x;y' -- c;\n/* d;'e */ b")
    assert(!masked.substring(masked.indexOf("a") + 1).takeWhile(_ != 'b').contains(';'))
    assert(masked.length == "a 'x;y' -- c;\n/* d;'e */ b".length) // positions preserved
    // end-to-end: a commented batch runs, comments intact per statement
    val df = spark.range(1, 4).toDF("id")
    val out = SqlStage("s",
      """-- header comment; with a semicolon
        |SELECT COUNT(*) AS n FROM df; /* between; statements */
        |SELECT SUM(id) AS s -- sum; of ids
        |FROM df""".stripMargin).apply(spark, df).collect()
    assert(out.head.getLong(0) == 6L)
  }

  test("UPDATE/DELETE mutate session temp tables with DuckDB semantics (r13)") {
    val df = spark.range(1).toDF("z")
    // DELETE returns DuckDB's Count relation (probed: column literally
    // named Count, BIGINT, affected rows); the view reflects the delete
    val del = SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE dml_t AS
         SELECT id, id % 3 AS g FROM range(9);
         DELETE FROM dml_t WHERE g = 1""").apply(spark, df).collect()
    assert(del.head.schema.fieldNames.toSeq == Seq("Count"))
    assert(del.head.getLong(0) == 3L)
    assert(spark.table("dml_t").count() == 6L)
    // UPDATE: conditional, returns affected count, RHS reads OLD row
    val upd = SqlStage("s",
      "UPDATE dml_t SET g = g + 10 WHERE id >= 6").apply(spark, df).collect()
    assert(upd.head.getLong(0) == 2L) // ids 6, 8 survive the delete
    val after = spark.table("dml_t").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(after == Seq((0L, 0L), (2L, 2L), (3L, 0L), (5L, 2L), (6L, 10L), (8L, 12L)))
    // simultaneous assignment: a swap reads both OLD values (probed)
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE dml_swap AS SELECT 1 AS a, 2 AS b;
         UPDATE dml_swap SET a = b, b = a""").apply(spark, df)
    val sw = spark.table("dml_swap").collect().head
    assert(sw.getInt(0) == 2 && sw.getInt(1) == 1)
    // DELETE with no WHERE empties the table, Count = prior rows
    val delAll = SqlStage("s", "DELETE FROM dml_swap").apply(spark, df).collect()
    assert(delAll.head.getLong(0) == 1L)
    assert(spark.table("dml_swap").count() == 0L)
    // fractional → integral assignment ROUNDS like DuckDB's cast
    // (2.7 → 3, probed; Spark's bare cast would truncate)
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE dml_round AS SELECT 1 AS n;
         UPDATE dml_round SET n = 2.7""").apply(spark, df)
    assert(spark.table("dml_round").head().getInt(0) == 3)
    // NULL predicate rows are NOT deleted and NOT updated (SQL 3VL)
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE dml_null AS
         SELECT * FROM VALUES (1, 10), (2, NULL), (3, 30) AS v(id, x);
         DELETE FROM dml_null WHERE x > 15""").apply(spark, df)
    assert(spark.table("dml_null").select("id").orderBy("id").collect()
      .map(_.getInt(0)).toSeq == Seq(1, 2))
    // guided errors: unknown table, catalog table, duplicate assignment
    val e1 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "DELETE FROM nope_t WHERE 1 = 1").apply(spark, df))
    assert(e1.getMessage.contains("CREATE TEMP TABLE"))
    // the joined UPDATE ... FROM form EXECUTES since r13 (its own test);
    // dml_swap is EMPTY here, so the cross match updates 0 rows — same
    // as DuckDB
    val ufCnt = SqlStage("s", "UPDATE dml_t SET g = 1 FROM dml_swap WHERE 1 = 1")
      .apply(spark, df).collect().head.getLong(0)
    assert(ufCnt == 0L)
    assert(spark.table("dml_t").count() == 6L)
    val e3 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "UPDATE dml_t SET g = 1, g = 2").apply(spark, df))
    assert(e3.getMessage.contains("assigned twice"))
    val e4 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "UPDATE dml_t SET nope = 1").apply(spark, df))
    assert(e4.getMessage.contains("unknown column"))
  }

  test("DML evaluates non-deterministic predicates and RHS exactly once (r14)") {
    val df = spark.range(1).toDF("z")
    // DELETE with a random() predicate: the RETURNING set and the
    // surviving view must PARTITION the table — one snapshot, one
    // predicate evaluation (ADVICE r13)
    SqlStage("s", "CREATE OR REPLACE TEMP TABLE nd_t AS SELECT id FROM range(1000)")
      .apply(spark, df)
    val deleted = SqlStage("s", "DELETE FROM nd_t WHERE random() < 0.5 RETURNING id")
      .apply(spark, df).collect().map(_.getLong(0)).toSet
    val kept = spark.table("nd_t").collect().map(_.getLong(0)).toSet
    assert(deleted.intersect(kept).isEmpty)
    assert(deleted.size + kept.size == 1000)
    // and the Count form agrees with the survivors
    SqlStage("s", "CREATE OR REPLACE TEMP TABLE nd_c AS SELECT id FROM range(1000)")
      .apply(spark, df)
    val cnt = SqlStage("s", "DELETE FROM nd_c WHERE random() < 0.5")
      .apply(spark, df).collect().head.getLong(0)
    assert(cnt + spark.table("nd_c").count() == 1000L)
    // UPDATE with a random() predicate AND RHS: the RETURNING rows must
    // carry EXACTLY the values the surviving view holds
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE nd_u AS
         SELECT id, CAST(0 AS DOUBLE) AS v FROM range(500)""").apply(spark, df)
    val ret = SqlStage("s",
      "UPDATE nd_u SET v = 1.0 + random() WHERE random() < 0.5 RETURNING id, v")
      .apply(spark, df).collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val changed = spark.table("nd_u").where("v != 0.0").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(ret == changed)
  }

  test("quantified comparisons ALL/ANY/SOME execute with DuckDB's 3VL (r14)") {
    val df = spark.range(1).toDF("z")
    def tri(sql: String): Option[Boolean] = {
      val r = SqlStage("s", s"SELECT ($sql) AS m").apply(spark, df).collect().head
      if (r.isNullAt(0)) None else Some(r.getBoolean(0))
    }
    // every case probed against duckdb 1.0.0
    assert(tri("5 > ALL (SELECT * FROM (VALUES (1),(2)) t(c))") == Some(true))
    assert(tri("5 > ALL (SELECT * FROM (VALUES (1),(NULL)) t(c))") == None)
    assert(tri("5 > ALL (SELECT c FROM (VALUES (1)) t(c) WHERE c > 99)") == Some(true))
    assert(tri("1 > ALL (SELECT * FROM (VALUES (3),(NULL)) t(c))") == Some(false))
    assert(tri("NULL > ALL (SELECT * FROM (VALUES (1)) t(c))") == None)
    assert(tri("NULL > ALL (SELECT c FROM (VALUES (1)) t(c) WHERE c > 99)") == Some(true))
    assert(tri("2 > ANY (SELECT * FROM (VALUES (1),(NULL)) t(c))") == Some(true))
    assert(tri("0 > ANY (SELECT * FROM (VALUES (1),(NULL)) t(c))") == None)
    assert(tri("0 > ANY (SELECT c FROM (VALUES (1)) t(c) WHERE c > 99)") == Some(false))
    assert(tri("2 = ANY (SELECT * FROM (VALUES (1),(NULL)) t(c))") == None)
    assert(tri("1 = ANY (SELECT * FROM (VALUES (1),(NULL)) t(c))") == Some(true))
    assert(tri("2 <> ALL (SELECT * FROM (VALUES (1),(NULL)) t(c))") == None)
    assert(tri("2 <> ALL (SELECT * FROM (VALUES (1),(3)) t(c))") == Some(true))
    assert(tri("3 >= SOME (SELECT * FROM (VALUES (5),(NULL)) t(c))") == None)
    assert(tri("5 >= SOME (SELECT * FROM (VALUES (5),(NULL)) t(c))") == Some(true))
    assert(tri("1 = ALL (SELECT * FROM (VALUES (1),(1)) t(c))") == Some(true))
    assert(tri("1 = ALL (SELECT * FROM (VALUES (1),(2)) t(c))") == Some(false))
    assert(tri("1 <> ANY (SELECT * FROM (VALUES (1),(2)) t(c))") == Some(true))
    assert(tri("1 <> ANY (SELECT * FROM (VALUES (1),(1)) t(c))") == Some(false))
    assert(tri("2 <= ALL (SELECT * FROM (VALUES (2),(5)) t(c))") == Some(true))
    assert(tri("abs(-3) < ANY (SELECT * FROM (VALUES (4)) t(c))") == Some(true))
    // WHERE position + a parenthesized operand
    val n = SqlStage("s",
      """SELECT count(*) AS n FROM range(10) t(id)
         WHERE (id + 1) > ALL (SELECT * FROM (VALUES (5),(7)) v(c))""")
      .apply(spark, df).collect().head.getLong(0)
    assert(n == 3L) // ids 7, 8, 9
    // a COMPOUND left operand binds tighter than the comparison
    // (DuckDB: ('a'||'b') > ALL …) — claiming just `b` would rewrite
    // silently wrong, so these shapes must keep the loud error
    intercept[Exception](tri("'a' || 'b' > ALL (SELECT 'ab')"))
    intercept[Exception](tri("1 + 2 > ALL (SELECT * FROM (VALUES (1)) t(c))"))
  }

  test("sixth probe sweep closures match probed DuckDB values (r14)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // calendar parts (probed)
    assert(one("SELECT week(DATE '2023-01-01') AS m").getLong(0) == 52L)
    assert(one("SELECT week(DATE '2024-01-01') AS m").getLong(0) == 1L)
    assert(one("SELECT isoyear(DATE '2023-01-01') AS m").getLong(0) == 2022L)
    assert(one("SELECT yearweek(DATE '2023-01-01') AS m").getLong(0) == 202252L)
    assert(one("SELECT julian(DATE '1970-01-01') AS m").getDouble(0) == 2440588.0)
    assert(one("SELECT julian(TIMESTAMP '2024-03-05 12:00:00') AS m").getDouble(0) == 2460375.5)
    assert(one("SELECT era(DATE '2024-03-05') AS m").getLong(0) == 1L)
    // regexp extras (probed: 2-arg extract = group 0; QuoteMeta escape)
    assert(one("SELECT regexp_extract('abc123', '[0-9]+') AS m").getString(0) == "123")
    assert(one(raw"SELECT regexp_escape('a-b c+d(e)') AS m").getString(0) == raw"a\-b\ c\+d\(e\)")
    // sizes (probed: truncated single decimal, '1 byte' singular)
    assert(one("SELECT format_bytes(1556480) AS m").getString(0) == "1.4 MiB")
    assert(one("SELECT format_bytes(1) AS a, format_bytes(1023) AS b, format_bytes(-1536) AS c")
      .toSeq == Seq("1 byte", "1023 bytes", "-1.5 KiB"))
    assert(one("SELECT formatReadableDecimalSize(1460000) AS m").getString(0) == "1.4 MB")
    // unit ceiling is PiB/PB and Long.MinValue must not abs-overflow
    // (probed: format_bytes(2^60)='1024.0 PiB', max='8191.9 PiB',
    // min='-8192.0 PiB'; decimal max='9223.3 PB')
    assert(one("SELECT format_bytes(1152921504606846976) AS m").getString(0) == "1024.0 PiB")
    assert(one("SELECT format_bytes(9223372036854775807) AS a, " +
      "format_bytes(-9223372036854775808) AS b, " +
      "formatReadableDecimalSize(9223372036854775807) AS c, " +
      "formatReadableDecimalSize(-9223372036854775808) AS d")
      .toSeq == Seq("8191.9 PiB", "-8192.0 PiB", "9223.3 PB", "-9223.3 PB"))
    // numerics
    assert(one("SELECT isfinite(2.5) AS a, isinf(CAST('inf' AS DOUBLE)) AS b, " +
      "signbit(-2.5) AS c, signbit(0.0) AS d").toSeq == Seq(true, true, true, false))
    assert(one("SELECT greatest(3) AS a, trunc(2.7) AS b, trunc(-2.7) AS c")
      .toSeq == Seq(3, 2.0, -2.0))
    assert(one("SELECT strlen('é') AS m").getInt(0) == 2)
    assert(one("SELECT add(2, 3) AS a, subtract(5, 2) AS b, multiply(4, 6) AS c")
      .toSeq == Seq(5, 3, 24))
    assert(one("SELECT constant_or_null(7, 1) AS m").getInt(0) == 7)
    assert(one("SELECT constant_or_null(7, 1, NULL) AS m").isNullAt(0))
    // list aliases (probed: *_unique counts distinct NON-NULL)
    assert(one("SELECT array_length([10,20,30]) AS m").getLong(0) == 3L)
    assert(one("SELECT list_unique([1,1,2,NULL]) AS a, array_unique([1,1,2,NULL]) AS b")
      .toSeq == Seq(2, 2))
    assert(one("SELECT array_has([1,2], 2) AS a, array_indexof([5,6,7], 7) AS b")
      .toSeq == Seq(true, 3L))
    assert(one("SELECT list_element([10,20,30], -1) AS m").getInt(0) == 30)
    assert(one("SELECT array_cat([1], [2], [3]) AS m").getSeq[Int](0) == Seq(1, 2, 3))
    // vector scalars over DECIMAL literals (casts make them DOUBLE[])
    assert(one("SELECT list_dot_product([1.5, 2.0], [2.0, 3.0]) AS m").getDouble(0) == 9.0)
    assert(one("SELECT list_distance([1.0, 2.0], [4.0, 6.0]) AS m").getDouble(0) == 5.0)
    assert(math.abs(one("SELECT list_cosine_similarity([2.5, 2.5], [1.0, 2.0]) AS m")
      .getDouble(0) - 0.9486832980505138) < 1e-12)
    // timestamp constructors/overloads (probed)
    assert(one("SELECT make_timestamp(1704067201000000) AS m").getTimestamp(0).toString
      == "2024-01-01 00:00:01.0")
    assert(one("SELECT epoch_ms(1704067201001) AS m").getTimestamp(0).toString
      == "2024-01-01 00:00:01.001")
    assert(one("SELECT epoch_us(DATE '2024-03-05') AS m").getLong(0) == 1709596800000000L)
    // strftime accepts both argument orders (probed)
    assert(one("SELECT strftime('%Y/%m', TIMESTAMP '2024-03-05 10:30:00') AS m")
      .getString(0) == "2024/03")
    assert(one("SELECT strftime(TIMESTAMP '2024-03-05 10:30:00', '%Y/%m') AS m")
      .getString(0) == "2024/03")
    assert(one("SELECT today() = current_date AS m").getBoolean(0))
    // path utilities (probed, incl. windows separators)
    assert(one(raw"SELECT parse_path('C:\\a\\b.txt') AS m").getSeq[String](0)
      == Seq("C:", "a", "b.txt"))
    assert(one("SELECT parse_path('/a/b/c.txt') AS m").getSeq[String](0)
      == Seq("/", "a", "b", "c.txt"))
    assert(one("SELECT parse_dirname('/a/b/c.txt') AS a, parse_dirname('c.txt') AS b, " +
      "parse_dirpath('/c.txt') AS c, parse_dirpath('a/b/c/') AS d, " +
      "parse_filename('/a/b/c.txt', true) AS e, parse_filename('.bashrc', true) AS f")
      .toSeq == Seq("/", "", "", "a/b/c", "c", ""))
    // json utilities (probed)
    assert(one("""SELECT json_extract('{"a": {"b": [1,2]}}', '$.a.b[0]') AS m""").getString(0) == "1")
    assert(one("""SELECT json_extract('{"a": {"b": [1,2]}}', '/a/b/1') AS m""").getString(0) == "2")
    assert(one("""SELECT json_extract('{"a": "x"}', 'a') AS m""").getString(0) == "\"x\"")
    assert(one("""SELECT json_extract('[5,6]', 1) AS m""").getString(0) == "6")
    // dotted bare keys ('a.b' = the literal key) can't map onto Spark's
    // JSON path — guided error, never a silent traversal
    intercept[DuckDialectException](
      one("""SELECT json_extract('{"a.b": 1}', 'a.b') AS m"""))
    assert(one("""SELECT json_extract_string('{"a": "x"}', 'a') AS m""").getString(0) == "x")
    assert(one("""SELECT json_extract_string('{"a": {"b": 2}}', '/a/b') AS m""").getString(0) == "2")
    assert(one("""SELECT json_extract('{"a":1,"b":2}', ['a','b']) AS m""")
      .getSeq[String](0) == Seq("1", "2"))
    assert(one("""SELECT json_extract('{"a": 1}', 'zz') AS m""").isNullAt(0))
    assert(one("""SELECT json_keys('{"a":1,"b":2}') AS m""").getSeq[String](0) == Seq("a", "b"))
    assert(one("""SELECT json_keys('[1,2]') AS m""").getSeq[String](0) == Seq())
    assert(one("SELECT json_valid('abc') AS a, json_valid('{\"a\":1}') AS b, json_valid('1') AS c")
      .toSeq == Seq(false, true, true))
    assert(one("""SELECT json_type('{"a":1}') AS a, json_type('[1]') AS b, json_type('"x"') AS c, """ +
      "json_type('1') AS d, json_type('-1') AS e, json_type('1.5') AS f, json_type('null') AS g")
      .toSeq == Seq("OBJECT", "ARRAY", "VARCHAR", "UBIGINT", "BIGINT", "DOUBLE", "NULL"))
    // lexical number classification (probed: '.'/exponent → DOUBLE even
    // when integral; sign char → BIGINT; u64/i64 overflow → DOUBLE)
    assert(one("SELECT json_type('12.0') AS a, json_type('1e3') AS b, json_type('-0') AS c, " +
      "json_type('18446744073709551615') AS d, json_type('18446744073709551616') AS e, " +
      "json_type('-9223372036854775808') AS f, json_type('-9223372036854775809') AS g")
      .toSeq == Seq("DOUBLE", "DOUBLE", "BIGINT", "UBIGINT", "DOUBLE", "BIGINT", "DOUBLE"))
    assert(one("""SELECT json_object('a', 1.5, 'b', 'x') AS m""").getString(0)
      == """{"a":1.5,"b":"x"}""")
    assert(one("""SELECT json_object('a', CAST(NULL AS INT)) AS m""").getString(0)
      == """{"a":null}""")
    // binary/hex/base64 family; ::BLOB maps onto BINARY (probed)
    assert(one("SELECT to_hex(255) AS m").getString(0) == "FF")
    assert(one("SELECT to_base64('ab'::BLOB) AS a, base64('ab'::BLOB) AS b")
      .toSeq == Seq("YWI=", "YWI="))
    assert(one("SELECT decode(from_base64('YWI=')) AS m").getString(0) == "ab")
    assert(one("SELECT decode(encode('abc')) AS m").getString(0) == "abc")
    assert(one("SELECT octet_length('ab'::BLOB) AS m").getInt(0) == 2)
    assert(one("SELECT decode(from_hex('0a')) AS m").getString(0) == "\n")
    // md5 halves: LITTLE-endian u64 of the last/first 8 digest bytes
    assert(one("SELECT md5_number_lower('abc') AS m").getDecimal(0)
      .toBigInteger.toString == "8250560606382298838")
    assert(one("SELECT md5_number_upper('abc') AS m").getDecimal(0)
      .toBigInteger.toString == "12704604231530709392")
    // to_quarters / try_strptime
    assert(one("SELECT DATE '2024-01-01' + to_quarters(3) AS m")
      .getDate(0).toString == "2024-10-01")
    assert(one("SELECT try_strptime('xx', '%Y') AS m").isNullAt(0))
    assert(one("SELECT try_strptime('2024-03-05', '%Y-%m-%d') AS m")
      .getTimestamp(0).toString == "2024-03-05 00:00:00.0")
    // grapheme family (probed; combining mark attaches to its base)
    assert(one("SELECT length_grapheme('héllo') AS m").getInt(0) == 5)
    assert(one("SELECT length_grapheme('né' || chr(769)) AS m").getInt(0) == 2)
    assert(one("SELECT left_grapheme('né' || chr(769) || 'xyz', 2) AS m")
      .getString(0) == "né́")
    assert(one("SELECT right_grapheme('né' || chr(769) || 'xyz', 2) AS m")
      .getString(0) == "yz")
    assert(one("SELECT substring_grapheme('né' || chr(769) || 'xyz', 2, 2) AS m")
      .getString(0) == "é́x")
    assert(one("SELECT left_grapheme('abc', -1) AS m").getString(0) == "ab")
    assert(one("SELECT substring_grapheme('abcdef', -2, 3) AS m").getString(0) == "ef")
    assert(one("SELECT substring_grapheme('abcdef', 0, 3) AS m").getString(0) == "ab")
    assert(one("SELECT substring_grapheme('abcdef', -10, 3) AS m").getString(0) == "abc")
    assert(one("SELECT substring_grapheme('abcdef', 3) AS m").getString(0) == "cdef")
  }

  test("quantified comparison fuzz: engine matches the 3VL reference model (r14)") {
    // the reference model reproduces every DuckDB probe above: ALL over
    // an empty set is TRUE (even for a NULL operand), a counterexample/
    // witness decides despite NULLs, otherwise any NULL comparison
    // yields NULL
    val rnd = new scala.util.Random(1404)
    val df = spark.range(1).toDF("z")
    val ops = Seq("=", "<>", "<", "<=", ">", ">=")
    for (_ <- 1 to 60) {
      val op = ops(rnd.nextInt(ops.size))
      val quant = Seq("ALL", "ANY", "SOME")(rnd.nextInt(3))
      val n = rnd.nextInt(4)
      val vals: Seq[Option[Int]] =
        Seq.fill(n)(if (rnd.nextInt(4) == 0) None else Some(rnd.nextInt(5)))
      val x: Option[Int] = if (rnd.nextInt(5) == 0) None else Some(rnd.nextInt(5))
      val setSql =
        if (vals.isEmpty) "SELECT * FROM (VALUES (1)) t(c) WHERE 1 = 0"
        else "SELECT * FROM (VALUES " + vals.map(v =>
          "(" + v.map(_.toString).getOrElse("CAST(NULL AS INT)") + ")")
          .mkString(",") + ") t(c)"
      val xSql = x.map(_.toString).getOrElse("CAST(NULL AS INT)")
      val sql = s"SELECT ($xSql $op $quant ($setSql)) AS m"
      val row = SqlStage("s", sql).apply(spark, df).collect().head
      val got: Option[Boolean] = if (row.isNullAt(0)) None else Some(row.getBoolean(0))
      def cmp(a: Int, b: Int): Boolean = op match {
        case "=" => a == b
        case "<>" => a != b
        case "<" => a < b
        case "<=" => a <= b
        case ">" => a > b
        case ">=" => a >= b
      }
      val results = vals.map(c => for { a <- x; b <- c } yield cmp(a, b))
      val expect: Option[Boolean] =
        if (quant == "ALL") {
          if (vals.isEmpty) Some(true)
          else if (results.contains(Some(false))) Some(false)
          else if (results.contains(None)) None
          else Some(true)
        } else {
          if (vals.isEmpty) Some(false)
          else if (results.contains(Some(true))) Some(true)
          else if (results.contains(None)) None
          else Some(false)
        }
      assert(got == expect, s"mismatch for: $sql (got $got, expect $expect)")
    }
  }

  test("named WINDOW clause with frame EXCLUDE inlines and rewrites (r14)") {
    val df = spark.range(1).toDF("z")
    // probed duckdb 1.0.0: (0,1),(1,2),(2,4),(3,6),(4,3)
    val r1 = SqlStage("s",
      """SELECT id, sum(id) OVER w AS s FROM range(5) t(id)
         WINDOW w AS (ORDER BY id RANGE BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW)
         ORDER BY id""").apply(spark, df).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(r1 == Seq((0L, 1L), (1L, 2L), (2L, 4L), (3L, 6L), (4L, 3L)))
    // mixed clause: the EXCLUDE-bearing window inlines, the plain one
    // stays on Spark's native WINDOW clause (probed expectations)
    val r2 = SqlStage("s",
      """SELECT id, g, sum(id) OVER w AS s, count(*) OVER w2 AS c
         FROM (SELECT id, id % 2 AS g FROM range(6) t0(id)) t
         WINDOW w AS (PARTITION BY g ORDER BY id RANGE BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP),
                w2 AS (PARTITION BY g)
         ORDER BY id""").apply(spark, df).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(r2 == Seq((0L, 0L, 6L, 3L), (1L, 1L, 8L, 3L), (2L, 0L, 4L, 3L),
      (3L, 1L, 6L, 3L), (4L, 0L, 2L, 3L), (5L, 1L, 4L, 3L)))
  }

  test("EXPORT/IMPORT DATABASE round-trip session tables; CHECKPOINT acknowledges (r14)") {
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s2)
    val df2 = s2.range(1).toDF("z")
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE exp_a AS SELECT id, 'v' || id AS s FROM range(5);
         CREATE OR REPLACE TEMP TABLE exp_b (k INTEGER PRIMARY KEY, v DOUBLE DEFAULT 1.5);
         INSERT INTO exp_b VALUES (1, 2.5), (2, 3.5)""").apply(s2, df2)
    val suc = SqlStage("s", "EXPORT DATABASE '/tmp/graft_exp_test' (FORMAT PARQUET)")
      .apply(s2, df2)
    assert(suc.columns.toSeq == Seq("Success") && suc.count() == 0)
    // a FRESH session imports both tables back (data + declared schema)
    val s3 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s3)
    val imp = SqlStage("s", "IMPORT DATABASE '/tmp/graft_exp_test'")
      .apply(s3, s3.range(1).toDF("z"))
    assert(imp.columns.toSeq == Seq("Count")) // DuckDB: last COPY's Count
    assert(s3.table("exp_a").count() == 5)
    assert(s3.table("exp_b").orderBy("k").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq == Seq((1, 2.5), (2, 3.5)))
    // default CSV format round-trips too
    SqlStage("s", "EXPORT DATABASE '/tmp/graft_exp_test2'").apply(s2, df2)
    val s4 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s4)
    SqlStage("s", "IMPORT DATABASE '/tmp/graft_exp_test2'")
      .apply(s4, s4.range(1).toDF("z"))
    assert(s4.table("exp_a").orderBy("id").collect().map(_.getString(1)).toSeq
      == Seq("v0", "v1", "v2", "v3", "v4"))
    // a DUCKDB-PRODUCED directory imports too: this fixture carries
    // duckdb 1.0.0's exact output spellings (quoted FORMAT value,
    // quote '\"', header 1 — validated against a real EXPORT DATABASE),
    // which the COPY option parser tolerates
    val ddir = "/tmp/graft_duckstyle_imp"
    new java.io.File(ddir).mkdirs()
    java.nio.file.Files.write(java.nio.file.Paths.get(ddir, "schema.sql"),
      "\n\n\nCREATE TABLE dk_t(id BIGINT, nm VARCHAR, v DECIMAL(21,1));\n\n\n\n"
        .getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(ddir, "load.sql"),
      (s"COPY dk_t FROM '$ddir/dk_t.csv' (FORMAT 'csv', quote '\"', " +
        "delimiter ',', header 1);\n").getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(ddir, "dk_t.csv"),
      "id,nm,v\n0,n0,0.0\n1,n1,1.5\n2,\"q,c\",3.0\n".getBytes("UTF-8"))
    val s5 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s5)
    SqlStage("s", s"IMPORT DATABASE '$ddir'").apply(s5, s5.range(1).toDF("z"))
    val dk = s5.table("dk_t").orderBy("id").collect()
    assert(dk.map(_.getLong(0)).toSeq == Seq(0L, 1L, 2L))
    assert(dk(2).getString(1) == "q,c") // quoted comma survives
    assert(dk(1).getDecimal(2).doubleValue == 1.5)
    // CHECKPOINT: DuckDB's empty Success relation (no WAL to flush)
    val cp = SqlStage("s", "CHECKPOINT").apply(spark, spark.range(1).toDF("z"))
    assert(cp.columns.toSeq == Seq("Success") && cp.count() == 0)
    // ATTACH keeps the guided error
    val e = intercept[DuckDialectException](
      SqlStage("s", "ATTACH 'x.db' AS x").apply(spark, spark.range(1).toDF("z")))
    assert(e.getMessage.contains("ATTACH"))
  }

  test("ALTER TABLE/TRUNCATE/DROP TABLE mutate temp-table shape (r13)") {
    val df = spark.range(1).toDF("z")
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE alt_t AS
         SELECT id AS a, CAST(id AS DOUBLE) + 0.7 AS d FROM range(3)""").apply(spark, df)
    // rename column
    SqlStage("s", "ALTER TABLE alt_t RENAME COLUMN a TO b").apply(spark, df)
    assert(spark.table("alt_t").columns.toSeq == Seq("b", "d"))
    // add with DEFAULT (filled) and without (NULL, probed)
    SqlStage("s", "ALTER TABLE alt_t ADD COLUMN f INTEGER DEFAULT 9").apply(spark, df)
    SqlStage("s", "ALTER TABLE alt_t ADD COLUMN g VARCHAR").apply(spark, df)
    val r0 = spark.table("alt_t").orderBy("b").collect()
    assert(r0.forall(r => r.getInt(2) == 9 && r.isNullAt(3)))
    // SET DATA TYPE double → INTEGER rounds like DuckDB's cast (0.7→1)
    SqlStage("s", "ALTER TABLE alt_t ALTER COLUMN d SET DATA TYPE INTEGER").apply(spark, df)
    assert(spark.table("alt_t").orderBy("b").collect().map(_.getInt(1)).toSeq
      == Seq(1, 2, 3))
    // SET DATA TYPE with USING expression (keeps the dialect layer)
    SqlStage("s",
      "ALTER TABLE alt_t ALTER COLUMN g SET DATA TYPE VARCHAR USING 'v' || b").apply(spark, df)
    assert(spark.table("alt_t").orderBy("b").collect().map(_.getString(3)).toSeq
      == Seq("v0", "v1", "v2"))
    // drop column; rename table (old name gone, new reads)
    SqlStage("s", "ALTER TABLE alt_t DROP COLUMN f").apply(spark, df)
    assert(spark.table("alt_t").columns.toSeq == Seq("b", "d", "g"))
    SqlStage("s", "ALTER TABLE alt_t RENAME TO alt_u").apply(spark, df)
    assert(!spark.catalog.tableExists("alt_t") && spark.table("alt_u").count() == 3)
    // TRUNCATE returns DuckDB's Count relation, table empties
    val tr = SqlStage("s", "TRUNCATE alt_u").apply(spark, df).collect()
    assert(tr.head.schema.fieldNames.toSeq == Seq("Count") && tr.head.getLong(0) == 3L)
    assert(spark.table("alt_u").count() == 0L)
    // DROP TABLE drops the temp view (DuckDB's form; Spark wants DROP VIEW)
    SqlStage("s", "DROP TABLE alt_u").apply(spark, df)
    assert(!spark.catalog.tableExists("alt_u"))
    SqlStage("s", "DROP TABLE IF EXISTS alt_u").apply(spark, df) // no-op
    // guided errors: unknown column, duplicate add, unclaimed alteration
    SqlStage("s",
      "CREATE OR REPLACE TEMP TABLE alt_e AS SELECT 1 AS x").apply(spark, df)
    val e1 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "ALTER TABLE alt_e DROP COLUMN nope").apply(spark, df))
    assert(e1.getMessage.contains("unknown column"))
    val e2 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "ALTER TABLE alt_e ADD COLUMN x INTEGER").apply(spark, df))
    assert(e2.getMessage.contains("already exists"))
    val e3 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "ALTER TABLE alt_e SET DEFAULT 1").apply(spark, df))
    assert(e3.getMessage.contains("unclaimed alteration"))
    val e4 = intercept[graft.functions.expressions.DuckDialectException](
      SqlStage("s", "ALTER TABLE alt_e DROP COLUMN x").apply(spark, df))
    assert(e4.getMessage.contains("only column"))
  }

  test("typed CREATE TEMP TABLE + upsert surface (r13)") {
    val df = spark.range(1).toDF("z")
    def run(sql: String) = SqlStage("s", sql).apply(spark, df)
    def cnt(sql: String): Long = run(sql).collect().head.getLong(0)
    run("""CREATE OR REPLACE TEMP TABLE ups (k INTEGER PRIMARY KEY,
           v VARCHAR NOT NULL, w INTEGER DEFAULT 7)""")
    assert(spark.table("ups").columns.toSeq == Seq("k", "v", "w") &&
      spark.table("ups").count() == 0)
    // plain insert returns the Count relation; column list fills DEFAULT
    assert(cnt("INSERT INTO ups VALUES (1,'a',99)") == 1L)
    assert(cnt("INSERT INTO ups (k, v) VALUES (2,'b')") == 1L)
    assert(run("SELECT * FROM ups WHERE k = 2").collect().head.getInt(2) == 7)
    // PK violation without ON CONFLICT; NOT NULL; dup-in-batch all raise
    val e1 = intercept[DuckDialectException](run("INSERT INTO ups VALUES (1,'x',0)"))
    assert(e1.getMessage.contains("primary key"))
    val e2 = intercept[DuckDialectException](run("INSERT INTO ups VALUES (3,NULL,0)"))
    assert(e2.getMessage.contains("NOT NULL constraint failed: ups.v"))
    val e3 = intercept[DuckDialectException](run(
      "INSERT INTO ups VALUES (5,'x',0),(5,'y',0) ON CONFLICT DO NOTHING"))
    assert(e3.getMessage.contains("duplicate key"))
    // DO UPDATE with excluded + old-row refs; Count = updated + inserted
    assert(cnt("""INSERT INTO ups VALUES (1,'A',1),(3,'c',3)
                  ON CONFLICT (k) DO UPDATE SET v = excluded.v, w = ups.w + 100""") == 2L)
    val r1 = run("SELECT * FROM ups ORDER BY k").collect()
    assert(r1.map(r => (r.getInt(0), r.getString(1), r.getInt(2))).toSeq ==
      Seq((1, "A", 199), (2, "b", 7), (3, "c", 3)))
    // conditional DO UPDATE: WHERE-false rows keep old values, not counted
    assert(cnt("""INSERT INTO ups VALUES (2,'B2',0) ON CONFLICT (k)
                  DO UPDATE SET v = excluded.v WHERE ups.w > 100""") == 0L)
    assert(run("SELECT v FROM ups WHERE k = 2").collect().head.getString(0) == "b")
    // DO NOTHING counts inserts only; OR IGNORE is its shorthand
    assert(cnt("INSERT INTO ups VALUES (1,'zz',0),(6,'f',6) ON CONFLICT DO NOTHING") == 1L)
    assert(cnt("INSERT OR IGNORE INTO ups VALUES (6,'zz',0),(8,'h',8)") == 1L)
    // OR REPLACE with a partial column list: unlisted cols keep OLD values
    assert(cnt("INSERT OR REPLACE INTO ups (k, v) VALUES (1,'R')") == 1L)
    assert(run("SELECT v, w FROM ups WHERE k = 1").collect()
      .map(r => (r.getString(0), r.getInt(1))).head == ("R", 199))
    // insert-from-SELECT upsert + BY NAME upsert
    assert(cnt("""INSERT INTO ups SELECT k + 10, v, w FROM ups WHERE k <= 2
                  ON CONFLICT (k) DO UPDATE SET v = 'dup'""") == 2L)
    assert(cnt("""INSERT INTO ups BY NAME (SELECT 'BN' AS v, 2 AS k)
                  ON CONFLICT DO UPDATE SET v = excluded.v""") == 1L)
    assert(run("SELECT v FROM ups WHERE k = 2").collect().head.getString(0) == "BN")
    // guided errors: wrong conflict target, SET on the key, no-PK upsert,
    // OR + ON CONFLICT combination
    val e4 = intercept[DuckDialectException](run(
      "INSERT INTO ups VALUES (9,'i',0) ON CONFLICT (v) DO NOTHING"))
    assert(e4.getMessage.contains("must match the PRIMARY KEY"))
    val e5 = intercept[DuckDialectException](run(
      "INSERT INTO ups VALUES (9,'i',0) ON CONFLICT (k) DO UPDATE SET k = 99"))
    assert(e5.getMessage.contains("UNIQUE/PRIMARY KEY constraint"))
    run("CREATE OR REPLACE TEMP TABLE nopk AS SELECT 1 AS k, 'a' AS v")
    val e6 = intercept[DuckDialectException](run(
      "INSERT INTO nopk VALUES (1,'b') ON CONFLICT DO NOTHING"))
    assert(e6.getMessage.contains("PRIMARY KEY"))
    val e7 = intercept[DuckDialectException](run(
      "INSERT OR IGNORE INTO ups VALUES (9,'i',0) ON CONFLICT DO NOTHING"))
    assert(e7.getMessage.contains("cannot combine"))
    // constraint metadata follows DDL: RENAME COLUMN, RENAME TO, DROP of
    // a PK column refused, CTAS-replace wipes the PK
    run("ALTER TABLE ups RENAME COLUMN v TO txt")
    assert(cnt("INSERT OR REPLACE INTO ups (k, txt) VALUES (1,'R2')") == 1L)
    val e8 = intercept[DuckDialectException](run("ALTER TABLE ups DROP COLUMN k"))
    assert(e8.getMessage.contains("PRIMARY KEY"))
    run("ALTER TABLE ups RENAME TO ups2")
    assert(cnt("INSERT OR IGNORE INTO ups2 VALUES (1,'zz',0)") == 0L)
    run("CREATE OR REPLACE TEMP TABLE ups2 AS SELECT 1 AS k")
    val e9 = intercept[DuckDialectException](run(
      "INSERT INTO ups2 VALUES (2) ON CONFLICT DO NOTHING"))
    assert(e9.getMessage.contains("PRIMARY KEY"))
    // duplicate typed CREATE raises; IF NOT EXISTS is silent; multi-col PK
    run("CREATE TEMP TABLE mpk (a INTEGER, b INTEGER, s VARCHAR, PRIMARY KEY (a, b))")
    val e10 = intercept[DuckDialectException](run("CREATE TEMP TABLE mpk (x INTEGER)"))
    assert(e10.getMessage.contains("already exists"))
    run("CREATE TEMP TABLE IF NOT EXISTS mpk (x INTEGER)")
    assert(spark.table("mpk").columns.toSeq == Seq("a", "b", "s"))
    run("INSERT INTO mpk VALUES (1,1,'x'),(1,2,'y')")
    assert(cnt("""INSERT INTO mpk VALUES (1,1,'X'),(2,2,'z')
                  ON CONFLICT (a, b) DO UPDATE SET s = s || '+' || excluded.s""") == 2L)
    assert(run("SELECT s FROM mpk WHERE a = 1 AND b = 1").collect()
      .head.getString(0) == "x+X")
  }

  test("batch statements all see the STAGE INPUT as df, last result wins") {
    // r9 review: chaining rebound `df` to each prior statement's output,
    // so `COPY ...; SELECT * FROM df` saw the COPY Count relation —
    // DuckDB batch semantics keep `df` naming the stage input throughout
    val df = spark.range(1, 11).toDF("id")
    val dir = Files.createTempDirectory("graft-batchsem").toString
    val out = SqlStage("s",
      s"""COPY (SELECT id FROM df WHERE id <= 3) TO '$dir/c.csv' (FORMAT CSV, HEADER);
          SELECT COUNT(*) AS n FROM df""").apply(spark, df).collect()
    assert(out.head.getLong(0) == 10L) // the input, NOT the Count relation
    // an intermediate SELECT does not mutate what df names either
    val out2 = SqlStage("s",
      """SELECT id FROM df WHERE id = 1;
         SELECT MAX(id) AS m FROM df""").apply(spark, df).collect()
    assert(out2.head.getLong(0) == 10L)
    // sharing an intermediate result is CREATE TEMP TABLE's job
    val out3 = SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE small_batchsem AS SELECT id FROM df WHERE id <= 3;
         SELECT COUNT(*) AS n FROM small_batchsem""").apply(spark, df).collect()
    assert(out3.head.getLong(0) == 3L)
  }

  test("dialect rewrites are identity on the repo's whole oracle-SQL corpus") {
    // hand-written DuckDB queries with CTEs, windows, recursive CTEs,
    // integer //, md5 tricks — outside the ASOF JOIN / DISTINCT ON /
    // bracket-slice oracles (which are DuckDB-native on purpose and
    // legitimately rewrite), none contains a rewrite trigger, so the
    // rewriters must pass every byte through untouched (no false fires)
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      if (raw"(?i)\bASOF\b|\bDISTINCT\s+ON\b|\bUSING\s+SAMPLE\b|\bjson_extract|\*\s*(?:(?:EXCLUDE|EXCEPT)\s*\([^)]*\)\s*)?REPLACE\s*\(|\[[^\[\]']*:[^\]]*\]|\[[^\]]*\bFOR\b|//|\*\*|^\s*FROM\b|\bMAP\s*\{|\b(?:string_agg|group_concat|array_agg|list|first|last)\s*\([^;()]*(?:\([^()]*\)[^;()]*)*ORDER\s+BY|\bformat\s*\(|\b(?:IGNORE|RESPECT)\s+NULLS\s*\)|\b(?:date_diff|datediff)\s*\(\s*'|\bEXCLUDE\s+(?:CURRENT\s+ROW|GROUP|TIES|NO\s+OTHERS)|\bSIMILAR\s+TO\b|\bregexp_replace\s*\(|[\w)\]]\s*\[|\^|\blog\s*\(|\bFILTER\s*\(|\b(?:AS\s+|::\s*)(?:VARCHAR|TEXT|BPCHAR|CHAR|BLOB|BYTEA|VARBINARY|UBIGINT|HUGEINT|UTINYINT|USMALLINT|UINTEGER|INT1|INT2|INT4|INT8|SIGNED|LOGICAL|FLOAT4|FLOAT8|DATETIME|BIGINT|INT|INTEGER|SMALLINT|TINYINT|LONG|SHORT|BYTE)\b".r
          .findFirstIn(GraftSqlParser.maskQuotes(sql)).isEmpty)
        // identity modulo rewriteRawLiterals (r13): backslashes inside
        // literals double ON PURPOSE (DuckDB-raw → Spark-escaped)
        assert(GraftSqlParser.rewriteAll(sql) == GraftSqlParser.rewriteRawLiterals(sql),
          s"$name was mangled")
      else if (!sql.contains("\\")) // the ASOF rewrite output must itself
        // be stable (backslash-bearing texts legitimately re-double)
        assert(GraftSqlParser.rewriteAll(GraftSqlParser.rewriteAll(sql))
          == GraftSqlParser.rewriteAll(sql), s"$name rewrite not idempotent")
    }
  }

  test("randomized QUALIFY round-trip: rewrite == hand-written ranked subquery") {
    // random (partition key, rank fn, threshold, direction, filter)
    // combinations over one view: the rewrite must agree with the
    // manually-nested form on every sample
    spark.range(200).selectExpr("id", "id % 7 AS g", "id % 3 AS h")
      .createOrReplaceTempView("pq")
    val rnd = new scala.util.Random(41)
    (1 to 25).foreach { i =>
      val part = if (rnd.nextBoolean()) "g" else "h"
      val fn = Seq("row_number()", "rank()", "dense_rank()")(rnd.nextInt(3))
      val dir = if (rnd.nextBoolean()) "ASC" else "DESC"
      val k = 1 + rnd.nextInt(4)
      val where = if (rnd.nextBoolean()) s"WHERE id < ${50 + rnd.nextInt(100)}" else ""
      val win = s"$fn OVER (PARTITION BY $part ORDER BY id $dir)"
      val qualified = spark.sql(GraftSqlParser.rewriteQualify(
        s"SELECT id, $part AS p, $win AS rn FROM pq $where QUALIFY rn <= $k"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val manual = spark.sql(
        s"SELECT id, p, rn FROM (SELECT id, $part AS p, $win AS rn FROM pq $where) WHERE rn <= $k")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(qualified == manual, s"sample $i: $fn $part $dir k=$k $where")
    }
  }

  test("QUALIFY and USING SAMPLE rewrite inside CTEs and subqueries") {
    spark.range(60).selectExpr("id", "id % 4 AS g").createOrReplaceTempView("ct")
    val viaCte = qsql(
      """WITH best AS (
        |  SELECT g, id, row_number() OVER (PARTITION BY g ORDER BY id DESC) AS rn
        |  FROM ct QUALIFY rn = 1
        |)
        |SELECT g, id FROM best ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(viaCte == Seq((0L, 56L), (1L, 57L), (2L, 58L), (3L, 59L)))
    // sample inside a subquery: the wrap stays inside the inner block
    val n = spark.sql(GraftSqlParser.rewriteSample(
      "SELECT count(*) AS n FROM (SELECT * FROM ct WHERE id < 40 USING SAMPLE 10 ROWS)"))
      .collect().head.getLong(0)
    assert(n == 10L)
  }

  test("QUALIFY e2e through a YAML sql stage") {
    val yaml =
      """
        |filters:
        |  - name: latest_per_lang
        |    actionType: sql
        |    code: "SELECT doc_id, lang, row_number() OVER (PARTITION BY lang ORDER BY doc_id DESC) AS rn FROM df QUALIFY rn = 1"
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", None)
    val rows = res.output.collect()
    assert(rows.nonEmpty && rows.forall(_.getInt(2) == 1))
    // one row per language
    assert(rows.map(_.getString(1)).distinct.length == rows.length)
  }

  // ---- ASOF JOIN: auto-rewritten to a validity-interval join (r6)

  private def asofFixture(): Unit = {
    import spark.implicits._
    Seq(("A", 10, 1.0), ("A", 20, 2.0), ("A", 30, 3.0), ("B", 15, 9.0))
      .toDF("sym", "pts", "price").createOrReplaceTempView("prices")
    Seq(("A", 5, 1), ("A", 10, 2), ("A", 25, 3), ("A", 30, 4), ("B", 14, 5), ("B", 99, 6))
      .toDF("sym", "tts", "tid").createOrReplaceTempView("trades")
  }

  test("ASOF JOIN (backward, >=): latest right row at-or-before, exactly one match") {
    asofFixture()
    val rows = SqlStage("s",
      """SELECT t.tid, p.pts, p.price FROM trades t
         ASOF JOIN prices p ON t.sym = p.sym AND t.tts >= p.pts
         ORDER BY t.tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getDouble(2)))
    // tid 1 (A,5): no price yet → dropped; tid 5 (B,14): none → dropped
    assert(rows.toSeq == Seq((2, 10, 1.0), (3, 20, 2.0), (4, 30, 3.0), (6, 15, 9.0)))
  }

  test("ASOF LEFT JOIN keeps unmatched left rows with NULLs") {
    asofFixture()
    val rows = SqlStage("s",
      """SELECT t.tid, p.price FROM trades t
         ASOF LEFT JOIN prices p ON t.sym = p.sym AND t.tts >= p.pts
         ORDER BY t.tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
    assert(rows.length == 6)
    assert(rows.filter(_.isNullAt(1)).map(_.getInt(0)).toSeq == Seq(1, 5))
  }

  test("ASOF JOIN with the inequality written right-side-first flips correctly") {
    asofFixture()
    val rows = SqlStage("s",
      """SELECT t.tid, p.pts FROM trades t
         ASOF JOIN prices p ON t.sym = p.sym AND p.pts <= t.tts
         ORDER BY t.tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    assert(rows.toSeq == Seq((2, 10), (3, 20), (4, 30), (6, 15)))
  }

  test("ASOF JOIN forward (<=) matches the earliest at-or-after; strict ops exclude equal") {
    asofFixture()
    val fwd = SqlStage("s",
      """SELECT t.tid, p.pts FROM trades t
         ASOF JOIN prices p ON t.sym = p.sym AND t.tts <= p.pts
         ORDER BY t.tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    // (A,5)→10, (A,10)→10, (A,25)→30, (A,30)→30, (B,14)→15, (B,99)→none
    assert(fwd.toSeq == Seq((1, 10), (2, 10), (3, 30), (4, 30), (5, 15)))
    val strict = SqlStage("s",
      """SELECT t.tid, p.pts FROM trades t
         ASOF JOIN prices p ON t.sym = p.sym AND t.tts > p.pts
         ORDER BY t.tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
      .map(r => (r.getInt(0), r.getInt(1)))
    // strict backward: (A,10) now has no earlier price; (A,30)→20
    assert(strict.toSeq == Seq((3, 20), (4, 20), (6, 15)))
  }

  test("ASOF JOIN: duplicate right timestamps collapse to one match per left row") {
    import spark.implicits._
    Seq(("A", 20, 2.0), ("A", 20, 2.5), ("A", 10, 1.0))
      .toDF("sym", "pts", "price").createOrReplaceTempView("prices")
    Seq(("A", 25, 1)).toDF("sym", "tts", "tid").createOrReplaceTempView("trades")
    val rows = SqlStage("s",
      """SELECT t.tid, p.pts, p.price FROM trades t
         ASOF JOIN prices p ON t.sym = p.sym AND t.tts >= p.pts""")
      .apply(spark, spark.range(1).toDF("id")).collect()
    assert(rows.length == 1 && rows.head.getInt(1) == 20)
    assert(Set(2.0, 2.5).contains(rows.head.getDouble(2))) // tie winner arbitrary, like DuckDB
  }

  test("ASOF JOIN star select never leaks the helper column; wrap keeps ORDER BY outside") {
    asofFixture()
    val df = SqlStage("s",
      """SELECT * FROM trades t
         ASOF JOIN prices p ON t.sym = p.sym AND t.tts >= p.pts
         ORDER BY t.tid LIMIT 3""")
      .apply(spark, spark.range(1).toDF("id"))
    assert(!df.columns.exists(_.contains("__graft_asof")))
    assert(df.collect().map(_.getInt(2)).toSeq == Seq(2, 3, 4)) // tid order kept
  }

  test("ASOF JOIN in a CTE and against a subquery right side") {
    asofFixture()
    val rows = SqlStage("s",
      """WITH j AS (
           SELECT t.tid, p.price FROM trades t
           ASOF JOIN (SELECT sym, pts, price FROM prices WHERE price < 9.0) AS p
             ON t.sym = p.sym AND t.tts >= p.pts
         )
         SELECT tid, price FROM j ORDER BY tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
      .map(r => (r.getInt(0), r.getDouble(1)))
    assert(rows.toSeq == Seq((2, 1.0), (3, 2.0), (4, 3.0))) // B prices filtered away
  }

  test("ASOF JOIN unsupported shapes raise guided errors, not silent misparses") {
    asofFixture()
    def hintOf(sql: String): String =
      intercept[DuckDialectException](
        SqlStage("s", sql).apply(spark, spark.range(1).toDF("id"))).getMessage
    assert(hintOf("SELECT * FROM trades t ASOF JOIN prices p ON t.sym = p.sym")
      .contains("no inequality"))
    assert(hintOf(
      "SELECT * FROM trades t ASOF JOIN prices p ON t.tts >= p.pts AND t.tid > p.price")
      .contains("more than one inequality"))
    assert(hintOf(
      "SELECT * FROM trades t ASOF JOIN prices p ON t.sym = p.sym OR t.tts >= p.pts")
      .contains("OR at the top level"))
    // the rewritten text parses even with no equality key (global window)
    val global = SqlStage("s",
      """SELECT t.tid, p.pts FROM trades t
         ASOF JOIN prices p ON t.tts >= p.pts ORDER BY t.tid""")
      .apply(spark, spark.range(1).toDF("id")).collect()
    assert(global.nonEmpty)
  }

  test("randomized ASOF round-trip: rewrite == direct extremal-match semantics, all 4 ops") {
    import spark.implicits._
    val rnd = new scala.util.Random(20260813)
    for (trial <- 1 to 5) {
      val keys = Seq("a", "b", "c")
      val right = (1 to 30).map(i =>
        (keys(rnd.nextInt(3)), rnd.nextInt(25), i)) // (sym, pts, rid) — ts ties likely
      val left = (1 to 40).map(i =>
        (keys(rnd.nextInt(3)), rnd.nextInt(25), i))
      right.toDF("sym", "pts", "rid").createOrReplaceTempView("prices")
      left.toDF("sym", "tts", "tid").createOrReplaceTempView("trades")
      for (op <- Seq(">=", ">", "<=", "<")) {
        val got = SqlStage("s",
          s"""SELECT t.tid, p.pts FROM trades t
              ASOF JOIN prices p ON t.sym = p.sym AND t.tts $op p.pts""")
          .apply(spark, spark.range(1).toDF("id")).collect()
          .map(r => r.getInt(0) -> r.getInt(1)).toMap
        val expect = left.flatMap { case (k, lt, tid) =>
          val cand = right.collect { case (rk, rt, _) if rk == k &&
            (op match {
              case ">=" => lt >= rt
              case ">" => lt > rt
              case "<=" => lt <= rt
              case "<" => lt < rt
            }) => rt }
          if (cand.isEmpty) None
          else Some(tid -> (if (op.startsWith(">")) cand.max else cand.min))
        }.toMap
        assert(got == expect, s"trial $trial op $op: $got != $expect")
        // cardinality: exactly one row per matched left row, even with ts ties
        val n = SqlStage("s",
          s"""SELECT t.tid FROM trades t
              ASOF JOIN prices p ON t.sym = p.sym AND t.tts $op p.pts""")
          .apply(spark, spark.range(1).toDF("id")).count()
        assert(n == expect.size)
      }
    }
  }

  test("rewriteAsof is textual and idempotent; literals never trigger it") {
    val sql = "SELECT 'ASOF JOIN is a string' AS s"
    assert(GraftSqlParser.rewriteAsof(sql) == sql)
    val once = GraftSqlParser.rewriteAsof(
      "SELECT t.a FROM t ASOF JOIN u ON t.k = u.k AND t.ts >= u.ts")
    assert(once.contains("lead(ts) OVER (PARTITION BY k ORDER BY ts)"))
    assert(GraftSqlParser.rewriteAsof(once) == once)
  }

  // ---- DISTINCT ON: lowered to QUALIFY row_number() = 1 (r7)

  test("DISTINCT ON keeps the first row per key in the query's ORDER BY") {
    spark.range(40).selectExpr("id", "id % 4 AS g", "cast(id * 7 % 13 AS double) AS v")
      .createOrReplaceTempView("don")
    val got = spark.sql(GraftSqlParser.rewriteAll(
      "SELECT DISTINCT ON (g) g, id, v FROM don ORDER BY g, v DESC, id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = spark.sql(
      """SELECT g, id FROM (SELECT *, row_number() OVER
        |  (PARTITION BY g ORDER BY v DESC, id) AS rn FROM don) WHERE rn = 1
        |ORDER BY g""".stripMargin)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == want && got.length == 4)
  }

  test("DISTINCT ON composes with WHERE and LIMIT; works inside a CTE") {
    spark.range(40).selectExpr("id", "id % 4 AS g")
      .createOrReplaceTempView("don2")
    val lim = spark.sql(GraftSqlParser.rewriteAll(
      "SELECT DISTINCT ON (g) g, id FROM don2 WHERE id < 30 ORDER BY g, id DESC LIMIT 2"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(lim == Seq((0L, 28L), (1L, 29L)))
    val cte = spark.sql(GraftSqlParser.rewriteAll(
      """WITH best AS (SELECT DISTINCT ON (g) g, id FROM don2 ORDER BY g, id)
        |SELECT count(*) AS n FROM best""".stripMargin))
      .collect().head.getLong(0)
    assert(cte == 4L)
  }

  test("DISTINCT ON: outer ORDER BY items renamed by the select list resolve (r16, FuzzDiff)") {
    // DuckDB resolves the trailing ORDER BY against the PRE-projection
    // input names even when the select list aliases them away —
    // `DISTINCT ON (g) g AS x ... ORDER BY g` works there. The rewrite
    // maps matching outer ORDER BY items onto their aliases (the OVER
    // clause keeps the input names: it evaluates pre-projection).
    spark.range(40).selectExpr("id", "id % 4 AS g")
      .createOrReplaceTempView("don3")
    val got = spark.sql(GraftSqlParser.rewriteAll(
      "SELECT DISTINCT ON (g) g AS grp, id AS k FROM don3 ORDER BY g, id DESC"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got == Seq((0L, 36L), (1L, 37L), (2L, 38L), (3L, 39L)), got)
    // direction/NULLS suffixes ride along with the mapped alias
    val got2 = spark.sql(GraftSqlParser.rewriteAll(
      "SELECT DISTINCT ON (g) g AS grp, id AS k FROM don3 ORDER BY g DESC NULLS LAST, id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(got2 == Seq((3L, 3L), (2L, 2L), (1L, 1L), (0L, 0L)), got2)
  }

  test("DISTINCT ON shapes without a deterministic rewrite raise guided errors") {
    val noOrder = intercept[DuckDialectException] {
      GraftSqlParser.rewriteAll("SELECT DISTINCT ON (g) g, id FROM t")
    }
    assert(noOrder.getMessage.contains("arbitrary row"))
    val ordinal = intercept[DuckDialectException] {
      GraftSqlParser.rewriteAll("SELECT DISTINCT ON (g) g, id FROM t ORDER BY 1, 2")
    }
    assert(ordinal.getMessage.contains("ordinal"))
    val setOp = intercept[DuckDialectException] {
      GraftSqlParser.rewriteAll(
        "SELECT DISTINCT ON (g) g FROM t UNION SELECT g FROM u ORDER BY g")
    }
    assert(setOp.getMessage.contains("set operation"))
    // plain DISTINCT (no ON) and string literals are untouched
    val plain = "SELECT DISTINCT g FROM t ORDER BY g"
    assert(GraftSqlParser.rewriteDistinctOn(plain) == plain)
    val lit = "SELECT 'SELECT DISTINCT ON (x)' AS s FROM t ORDER BY s"
    assert(GraftSqlParser.rewriteDistinctOn(lit) == lit)
  }

  // ---- * REPLACE: expanded against the stage schema (r7)

  test("* REPLACE expands against the schema; EXCLUDE folds in") {
    val cols = Seq("a", "b", "c")
    assert(GraftSqlParser.rewriteReplace(
      "SELECT * REPLACE (x + 1 AS b) FROM t", cols) ==
      "SELECT `a`, x + 1 AS `b`, `c` FROM t")
    assert(GraftSqlParser.rewriteReplace(
      "SELECT * EXCLUDE (c) REPLACE (lower(a) AS a) FROM t", cols) ==
      "SELECT lower(a) AS `a`, `b` FROM t")
    // nested parens + two replacements, order of list irrelevant
    assert(GraftSqlParser.rewriteReplace(
      "SELECT * REPLACE (round(c, (1 + 1)) AS c, upper(a) AS a) FROM t", cols) ==
      "SELECT upper(a) AS `a`, `b`, round(c, (1 + 1)) AS `c` FROM t")
  }

  test("* REPLACE never fires on multiplication by the replace() function") {
    val cols = Seq("a", "b")
    val mul = "SELECT a * replace(b, 'x', 'y') AS r FROM t"
    assert(GraftSqlParser.rewriteReplace(mul, cols) == mul)
    val lit = "SELECT '* REPLACE (q AS a)' AS s FROM t"
    assert(GraftSqlParser.rewriteReplace(lit, cols) == lit)
  }

  test("* REPLACE bad shapes raise guided errors") {
    val cols = Seq("a", "b")
    val qualified = intercept[DuckDialectException] {
      GraftSqlParser.rewriteReplace("SELECT t.* REPLACE (x AS a) FROM t", cols)
    }
    assert(qualified.getMessage.contains("qualified-star"))
    val notCol = intercept[DuckDialectException] {
      GraftSqlParser.rewriteReplace("SELECT * REPLACE (x AS zz) FROM t", cols)
    }
    assert(notCol.getMessage.contains("not a column"))
    val noAs = intercept[DuckDialectException] {
      GraftSqlParser.rewriteReplace("SELECT * REPLACE (x + 1) FROM t", cols)
    }
    assert(noAs.getMessage.contains("expr AS column"))
  }

  test("GROUP BY ALL / ORDER BY ALL pass through natively; SUMMARIZE executes") {
    spark.range(30).selectExpr("id % 3 AS g", "id").createOrReplaceTempView("gba")
    // Spark 4 supports DuckDB's GROUP BY ALL / ORDER BY ALL natively —
    // document the parity (no rewrite involved)
    val rows = SqlStage("s", "SELECT g, count(*) AS n FROM gba GROUP BY ALL ORDER BY ALL")
      .apply(spark, spark.range(1).toDF("id")).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((0L, 10L), (1L, 10L), (2L, 10L)))
    // r16 (FuzzDiff template 40): DuckDB binds select-list ALIASES as
    // ROLLUP/CUBE/GROUPING SETS items and as grouping() arguments;
    // Spark demands the raw grouping expression (probed both). The
    // rewrite normalizes aliases to their select-list expressions in
    // the construct AND in grouping()/grouping_id() calls over them.
    val ga = SqlStage("s",
      """SELECT g % 2 AS p, count(*) AS n,
         CAST(grouping(g % 2) AS BIGINT) AS gm
         FROM gba GROUP BY ROLLUP (p) ORDER BY gm, p""")
      .apply(spark, spark.range(1).toDF("id")).collect()
    assert(ga.map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((Some(0L), 20L, 0L), (Some(1L), 10L, 0L), (None, 30L, 1L)))
    // the grouping(alias) spelling DuckDB also accepts
    val gb = SqlStage("s",
      """SELECT g % 2 AS p, CAST(grouping(p) AS BIGINT) AS gm, count(*) AS n
         FROM gba GROUP BY ROLLUP (p) ORDER BY gm, p""")
      .apply(spark, spark.range(1).toDF("id")).collect()
    assert(gb.map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((Some(0L), 0L, 20L), (Some(1L), 0L, 10L), (None, 1L, 30L)))
    // grouping(alias) where the GROUP BY names the RAW expression is a
    // Binder error in DuckDB — it stays loud here too (no rewrite: the
    // alias is not a construct item)
    intercept[Exception](SqlStage("s",
      "SELECT g % 2 AS p, grouping(p) AS gm FROM gba GROUP BY ROLLUP (g % 2)")
      .apply(spark, spark.range(1).toDF("id")).collect())
  }

  test("grouping-alias rewrite: bare items only, shadowing, implicit alias (ADVICE r16)") {
    spark.range(30).selectExpr("id % 3 AS g", "id").createOrReplaceTempView("gba2")
    val one = spark.range(1).toDF("id")
    // DuckDB's IMPLICIT alias (`expr p`, no AS) binds as a construct
    // item too (probed 1.0.0) — the rewrite collects it
    val ia = SqlStage("s",
      "SELECT g % 2 p, count(*) AS n FROM gba2 GROUP BY ROLLUP (p) ORDER BY p NULLS LAST")
      .apply(spark, one).collect()
    assert(ia.map(r => (Option(r.get(0)), r.getLong(1))).toSeq ==
      Seq((Some(0L), 20L), (Some(1L), 10L), (None, 30L)))
    // an alias INSIDE a larger item is a Binder error in DuckDB
    // (`ROLLUP (p * 2)` with alias p: "Referenced column p not found",
    // probed) — no substitution, Spark stays loud too
    intercept[Exception](SqlStage("s",
      "SELECT g % 2 AS p, count(*) AS n FROM gba2 GROUP BY ROLLUP (p * 2)")
      .apply(spark, one).collect())
    // a QUALIFIED ref is a column path, never an alias use — `gba2.g`
    // must not be clobbered by a same-named alias of another expression
    val qa = SqlStage("s",
      """SELECT id % 2 AS g, gba2.g AS cg, count(*) AS n
         FROM gba2 GROUP BY ROLLUP (gba2.g, id % 2)
         ORDER BY cg NULLS LAST, g NULLS LAST""")
      .apply(spark, one).collect()
    assert(qa.length == 10) // 3 g-values × 2 parities + 3 subtotals + 1 total
    // SHADOWING: when the alias NAMES a real input column, DuckDB binds
    // the COLUMN (Postgres precedence, probed: sum(g) AS y with column
    // y present groups by column y) — the rewrite must leave it alone
    spark.sql("SELECT * FROM VALUES (1, 10), (2, 20), (3, 30), (4, 20) AS v(g, y)")
      .createOrReplaceTempView("shadt")
    val sh = SqlStage("s",
      "SELECT sum(g) AS y, count(*) AS n FROM shadt GROUP BY ROLLUP (y) ORDER BY 1")
      .apply(spark, one).collect()
    assert(sh.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 1L), (3L, 1L), (6L, 2L), (10L, 4L)))
  }

  test("SUMMARIZE statement: DuckDB output shape, exact stats exact, one-scan plan") {
    import spark.implicits._
    val df = Seq((1L, Some(2.5), "x", true), (3L, None, "yy", false),
      (5L, Some(4.5), "x", true)).toDF("a", "b", "c", "f")
    val out = SqlStage("s", "SUMMARIZE df").apply(spark, df)
    // DuckDB's exact column set, in its order
    assert(out.columns.toSeq == Seq("column_name", "column_type", "min", "max",
      "approx_unique", "avg", "std", "q25", "q50", "q75", "count",
      "null_percentage"))
    assert(out.count() == 4) // one row per input column
    val byName = out.collect().map(r => r.getString(0) -> r).toMap
    // exact stats are exact: min/max/count/null_percentage
    val a = byName("a")
    assert(a.getString(1) == "BIGINT" && a.getString(2) == "1" &&
      a.getString(3) == "5" && a.getLong(10) == 3L &&
      a.getDecimal(11).doubleValue() == 0.0)
    val b = byName("b")
    assert(b.getString(1) == "DOUBLE" &&
      math.abs(b.getDecimal(11).doubleValue() - 33.33) < 0.01) // 1 of 3 null
    assert(b.getString(5).toDouble == 3.5) // avg over non-nulls
    val c = byName("c")
    // non-numeric: min/max ordered, numeric stats NULL (DuckDB's shape)
    assert(c.getString(1) == "VARCHAR" && c.getString(2) == "x" &&
      c.getString(3) == "yy" && c.isNullAt(5) && c.isNullAt(7))
    // approx_unique is within HLL tolerance of the exact 2
    assert(math.abs(c.getLong(4) - 2L) <= 1)
    // SUMMARIZE SELECT ... recurses through the dialect layer
    val sel = SqlStage("s", "SUMMARIZE SELECT a FROM df WHERE a > 1").apply(spark, df)
    assert(sel.count() == 1 && sel.collect().head.getLong(10) == 2L)
    // named view target
    df.createOrReplaceTempView("sumt")
    assert(SqlStage("s", "SUMMARIZE sumt").apply(spark, df).count() == 4)
    // one-scan plan: a single aggregate over the input, not per-column
    // scans — the relation appears exactly once in the physical plan
    val plan = SqlStage("s", "SUMMARIZE df").apply(spark, df)
      .queryExecution.executedPlan.toString
    assert("LocalTableScan|Scan ExistingRDD".r.findAllIn(plan).size <= 1, plan)
  }

  test("DISTINCT ON and * REPLACE e2e through a YAML sql stage") {
    val yaml =
      """
        |filters:
        |  - name: norm
        |    actionType: sql
        |    code: "SELECT * REPLACE (upper(lang) AS lang) FROM df"
        |  - name: latest_per_lang
        |    actionType: sql
        |    code: "SELECT DISTINCT ON (lang) lang, doc_id FROM df ORDER BY lang, doc_id DESC"
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", None)
    val rows = res.output.collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getString(0)).distinct.length == rows.length)
    assert(rows.forall(r => r.getString(0) == r.getString(0).toUpperCase))
  }

  // ---- CREATE MACRO (r9: registerMacro/expandMacros, VERDICT r8 missing #4)
  test("CREATE MACRO: scalar body expands with parenthesized args, precedence-safe") {
    val df = spark.range(1, 5).toDF("id")
    // multi-statement batch in ONE sql stage, DuckDB's batch rule:
    // the stage's result is the last statement's
    val out = SqlStage("s",
      """CREATE OR REPLACE MACRO twice_plus(a, b) AS a * 2 + b;
         SELECT id, twice_plus(id + 1, 10) AS v FROM df ORDER BY id""")
      .apply(spark, df).collect()
    // (id + 1) * 2 + 10 — the parens around the arg keep `+` outside `*`
    assert(out.map(_.getLong(1)).toSeq == Seq(14L, 16L, 18L, 20L))
    // registered for the session: a LATER stage still sees it
    val later = SqlStage("s2", "SELECT twice_plus(1, 0) AS v FROM df LIMIT 1")
      .apply(spark, df).collect()
    assert(later.head.getAs[Number](0).longValue == 2L)
  }

  test("CREATE MACRO: default parameters bind by name only, DuckDB's rule") {
    val df = spark.range(1).toDF("id")
    SqlStage("s", "CREATE OR REPLACE MACRO addn(a, n := 10) AS a + n").apply(spark, df)
    assert(SqlStage("s", "SELECT addn(1) AS v FROM df").apply(spark, df)
      .collect().head.getAs[Number](0).longValue == 11L)
    assert(SqlStage("s", "SELECT addn(1, n := 5) AS v FROM df").apply(spark, df)
      .collect().head.getAs[Number](0).longValue == 6L)
    // a positional arg can NOT fill the default slot
    val e = intercept[DuckDialectException](
      SqlStage("s", "SELECT addn(1, 5) AS v FROM df").apply(spark, df))
    assert(e.getMessage.contains("positional"))
    // missing required arg
    val e2 = intercept[DuckDialectException](
      SqlStage("s", "SELECT addn() AS v FROM df").apply(spark, df))
    assert(e2.getMessage.contains("missing argument"))
  }

  test("CREATE MACRO: AS TABLE expands to a subquery usable in FROM and IN") {
    val df = spark.range(1, 10).toDF("id")
    val out = SqlStage("s",
      """CREATE OR REPLACE MACRO bigids(lo) AS TABLE SELECT id FROM df WHERE id >= lo;
         SELECT COUNT(*) AS n FROM bigids(7)""").apply(spark, df).collect()
    assert(out.head.getLong(0) == 3L)
    val in = SqlStage("s",
      "SELECT COUNT(*) AS n FROM df WHERE id IN (SELECT id FROM bigids(8))")
      .apply(spark, df).collect()
    assert(in.head.getLong(0) == 2L)
  }

  test("CREATE MACRO: macros compose, quotes are inert, duplicate name guarded") {
    val df = spark.range(1).toDF("id")
    SqlStage("s", "CREATE OR REPLACE MACRO inner1(x) AS x + 1").apply(spark, df)
    SqlStage("s", "CREATE OR REPLACE MACRO outer1(x) AS inner1(x) * 10").apply(spark, df)
    assert(SqlStage("s", "SELECT outer1(2) AS v FROM df").apply(spark, df)
      .collect().head.getAs[Number](0).longValue == 30L)
    // a call-shaped string literal is NOT expanded
    val lit = SqlStage("s", "SELECT 'inner1(9)' AS v FROM df").apply(spark, df)
    assert(lit.collect().head.getString(0) == "inner1(9)")
    // nested args with top-level-comma safety: f(g(a,b), c)
    SqlStage("s", "CREATE OR REPLACE MACRO pair2(a, b) AS a * 100 + b").apply(spark, df)
    assert(SqlStage("s", "SELECT pair2(inner1(1), 3) AS v FROM df").apply(spark, df)
      .collect().head.getAs[Number](0).longValue == 203L)
    // plain CREATE on an existing name raises DuckDB's catalog error
    SqlStage("s", "CREATE OR REPLACE MACRO dup1(x) AS x").apply(spark, df)
    val e = intercept[DuckDialectException](
      SqlStage("s", "CREATE MACRO dup1(x) AS x + 1").apply(spark, df))
    assert(e.getMessage.contains("already exists"))
    // recursion stops with a guided error, not a hang
    SqlStage("s", "CREATE OR REPLACE MACRO rec1(x) AS rec1(x)").apply(spark, df)
    val r = intercept[DuckDialectException](
      SqlStage("s", "SELECT rec1(1) AS v FROM df").apply(spark, df))
    assert(r.getMessage.contains("depth"))
  }

  // ---- DESCRIBE statement (r9: DuckDB's six-column metadata relation)
  test("DESCRIBE executes with DuckDB's exact shape; Spark forms pass through") {
    import org.apache.spark.sql.functions.{when, col}
    val df = spark.range(3).toDF("id")
      .withColumn("s", when(col("id") > 0, "x")) // nullable → null YES
    val out = SqlStage("s", "DESCRIBE df").apply(spark, df).collect()
    assert(out.map(_.getString(0)).toSeq == Seq("id", "s"))
    assert(out.map(_.getString(1)).toSeq == Seq("BIGINT", "VARCHAR"))
    assert(out.forall(r => r.isNullAt(3) && r.isNullAt(4) && r.isNullAt(5)))
    // non-nullable range() id → NO, like DuckDB on a NOT NULL column
    assert(out.head.getString(2) == "NO" && out(1).getString(2) == "YES")
    // DESCRIBE SELECT recurses through the dialect layer
    val sel = SqlStage("s", "DESCRIBE SELECT id FROM df WHERE id > 0")
      .apply(spark, df).collect()
    assert(sel.map(_.getString(0)).toSeq == Seq("id"))
    // SHOW <relation> is DuckDB's alias for DESCRIBE
    df.createOrReplaceTempView("desct")
    val sh = SqlStage("s", "SHOW desct").apply(spark, df).collect()
    assert(sh.map(_.getString(0)).toSeq == Seq("id", "s"))
    // Spark's own forms keep their NATIVE output shape
    assert(graft.operators.GraftSqlParser.describeTarget("SHOW TABLES").isEmpty)
    assert(graft.operators.GraftSqlParser.describeTarget("DESCRIBE TABLE t").isEmpty)
    assert(graft.operators.GraftSqlParser.describeTarget("DESCRIBE QUERY SELECT 1").isEmpty)
    assert(graft.operators.GraftSqlParser.describeTarget("SHOW FUNCTIONS").isEmpty)
    val sparkShape = SqlStage("s", "SHOW TABLES").apply(spark, df)
    assert(sparkShape.columns.contains("tableName"))
  }

  // ---- COPY TO + read_* table functions (r9: the file-I/O passthrough)
  test("COPY (query) TO writes ONE file, returns DuckDB's Count; read_csv_auto round-trips") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 6).toDF("id")
      .withColumn("v", col("id") * 10)
    val dir = Files.createTempDirectory("graft-copy").toString
    val out = SqlStage("s",
      s"COPY (SELECT id, v FROM df WHERE id <= 3) TO '$dir/three.csv' (FORMAT CSV, HEADER)")
      .apply(spark, df).collect()
    assert(out.length == 1 && out.head.getLong(0) == 3L)
    assert(out.head.schema.fieldNames.toSeq == Seq("Count"))
    val f = new java.io.File(s"$dir/three.csv")
    assert(f.isFile, "must be a single FILE at the exact path, like DuckDB")
    // read back through the read_csv_auto table-function rewrite
    val rt = SqlStage("s",
      s"SELECT * FROM read_csv_auto('$dir/three.csv') ORDER BY id")
      .apply(spark, df).collect()
    assert(rt.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      Seq((1, 10), (2, 20), (3, 30)))
    // format from extension; bare-table source; parquet round-trip
    df.createOrReplaceTempView("cptbl")
    val pq = SqlStage("s", s"COPY cptbl TO '$dir/all.parquet'")
      .apply(spark, df).collect()
    assert(pq.head.getLong(0) == 5L)
    val rtp = SqlStage("s",
      s"SELECT COUNT(*) AS n FROM read_parquet('$dir/all.parquet')")
      .apply(spark, df).collect()
    assert(rtp.head.getLong(0) == 5L)
    // overwrite like DuckDB: second COPY to the same path succeeds
    val again = SqlStage("s",
      s"COPY (SELECT id, v FROM df) TO '$dir/three.csv' (FORMAT CSV, HEADER)")
      .apply(spark, df).collect()
    assert(again.head.getLong(0) == 5L)
    // PARTITION_BY → hive-style col=value directory tree (r9)
    val part = SqlStage("s",
      s"COPY (SELECT id, v, id % 2 AS par FROM df) TO '$dir/bypar' " +
        "(FORMAT PARQUET, PARTITION_BY (par))").apply(spark, df).collect()
    assert(part.head.getLong(0) == 5L)
    assert(new java.io.File(s"$dir/bypar/par=0").isDirectory &&
      new java.io.File(s"$dir/bypar/par=1").isDirectory)
    val rtpart = SqlStage("s",
      s"SELECT COUNT(*) AS n FROM read_parquet('$dir/bypar')")
      .apply(spark, df).collect()
    assert(rtpart.head.getLong(0) == 5L)
    // guided errors: unsupported COPY option, unsupported read_* option
    // (delim/header/columns are SUPPORTED since r10 — tested below)
    val e1 = intercept[DuckDialectException](SqlStage("s",
      s"COPY (SELECT id FROM df) TO '$dir/x.csv' (USE_TMP_FILE true)").apply(spark, df))
    assert(e1.getMessage.contains("USE_TMP_FILE"))
    val e2 = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv_auto('$dir/three.csv', new_line = 'x')").apply(spark, df))
    assert(e2.getMessage.contains("new_line") && e2.getMessage.contains("input"))
  }

  test("read_csv/read_parquet r17 options: sample_size, all_varchar, ignore_errors, filename, union_by_name") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 4).toDF("id").withColumn("v", col("id") * 10)
    val dir = Files.createTempDirectory("graft-readopts").toString
    SqlStage("s", s"COPY (SELECT id, v FROM df) TO '$dir/t.csv' (FORMAT CSV, HEADER)")
      .apply(spark, df)
    // sample_size accepted (Spark inference always reads the file —
    // DuckDB's sample_size=-1 behavior); values don't change results
    val s1 = SqlStage("s",
      s"SELECT * FROM read_csv('$dir/t.csv', header = true, sample_size = -1) ORDER BY id")
      .apply(spark, df).collect()
    assert(s1.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 10), (2, 20), (3, 30)))
    assert(SqlStage("s",
      s"SELECT count(*) AS n FROM read_csv_auto('$dir/t.csv', sample_size = 100)")
      .apply(spark, df).collect().head.getLong(0) == 3L)
    // all_varchar: every column string (probed: DuckDB renders '1')
    val av = SqlStage("s",
      s"SELECT * FROM read_csv('$dir/t.csv', header = true, all_varchar = true) ORDER BY id")
      .apply(spark, df)
    assert(av.schema.fields.forall(_.dataType.typeName == "string"))
    assert(av.collect().head.getString(1) == "10")
    // ignore_errors: malformed rows drop (DROPMALFORMED under an
    // explicit columns schema)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "k,n\n1,2\nx,y\n3,4\n".getBytes("UTF-8"))
    val ig = SqlStage("s",
      s"""SELECT * FROM read_csv('$dir/bad.csv', header = true, ignore_errors = true,
          columns = {'k': 'BIGINT', 'n': 'BIGINT'}) ORDER BY k""")
      .apply(spark, df).collect()
    assert(ig.map(r => (r.getLong(0), r.getLong(1))).toSeq == Seq((1L, 2L), (3L, 4L)))
    // filename: per-row source path, plain (no file: scheme) like DuckDB
    val fnr = SqlStage("s",
      s"SELECT id, filename FROM read_csv('$dir/t.csv', header = true, filename = true)")
      .apply(spark, df).collect()
    assert(fnr.forall(_.getString(1) == s"$dir/t.csv"))
    // union_by_name on a parquet glob: name-matched merge, NULL fill
    SqlStage("s", s"COPY (SELECT 1 AS a, 'x' AS b) TO '$dir/u1.parquet'").apply(spark, df)
    SqlStage("s", s"COPY (SELECT 2 AS a, 7 AS c) TO '$dir/u2.parquet'").apply(spark, df)
    val ub = SqlStage("s",
      s"""SELECT a, b, c FROM read_parquet('$dir/u*.parquet', union_by_name = true)
          ORDER BY a""").apply(spark, df).collect()
    assert(ub.map(r => (r.getInt(0), Option(r.get(1)), Option(r.get(2)))).toSeq ==
      Seq((1, Some("x"), None), (2, None, Some(7))))
    // csv GLOB union_by_name (r18): the glob expands and per-file
    // frames align by name with NULL fill — first file's columns lead,
    // later extras append (DuckDB's probed order)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ub1.csv"),
      "k,name\n1,alpha\n2,beta\n".getBytes("UTF-8"))
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/ub2.csv"),
      "k,extra,name\n3,x,gamma\n".getBytes("UTF-8"))
    val cub = SqlStage("s",
      s"""SELECT * FROM read_csv('$dir/ub*.csv', header = true,
          union_by_name = true) ORDER BY k""").apply(spark, df)
    assert(cub.columns.toSeq == Seq("k", "name", "extra"))
    assert(cub.collect().map(r => (r.getInt(0), r.getString(1),
      Option(r.getString(2)))).toSeq ==
      Seq((1, "alpha", None), (2, "beta", None), (3, "gamma", Some("x"))))
    // an empty glob match stays a loud error
    val e = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv('$dir/nope*.csv', union_by_name = true)").apply(spark, df))
    assert(e.getMessage.contains("no files match"))
  }

  test("COPY table FROM appends the file with the table's types (r12)") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 6).toDF("id").withColumn("v", col("id") * 10)
    val dir = Files.createTempDirectory("graft-copyfrom").toString
    SqlStage("s",
      s"COPY (SELECT id, v FROM df) TO '$dir/src.csv' (FORMAT CSV, HEADER, DELIMITER '|')")
      .apply(spark, df)
    // seed an empty temp table, load into it, check count + types + rows
    val loaded = SqlStage("s",
      s"""CREATE OR REPLACE TEMP TABLE cf AS
            SELECT CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS v FROM df WHERE id < 0;
          COPY cf FROM '$dir/src.csv' (FORMAT CSV, HEADER, DELIMITER '|');
          SELECT * FROM cf ORDER BY id""").apply(spark, df)
    assert(loaded.schema.map(_.dataType.simpleString).toSeq == Seq("bigint", "bigint"))
    assert(loaded.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      (1L to 5L).map(i => (i, i * 10)))
    // COPY FROM itself returns DuckDB's Count relation
    val cnt = SqlStage("s",
      s"COPY cf FROM '$dir/src.csv' (FORMAT CSV, HEADER, DELIMITER '|')")
      .apply(spark, df).collect()
    assert(cnt.head.schema.fieldNames.toSeq == Seq("Count") && cnt.head.getLong(0) == 5L)
    // ...and actually appended (5 seed-load + 5 more)
    assert(SqlStage("s", "SELECT COUNT(*) AS n FROM cf").apply(spark, df)
      .collect().head.getLong(0) == 10L)
    // guided errors: unknown table, (query) FROM
    val e1 = intercept[DuckDialectException](SqlStage("s",
      s"COPY nosuch FROM '$dir/src.csv' (FORMAT CSV)").apply(spark, df))
    assert(e1.getMessage.contains("unknown table"))
    val e2 = intercept[DuckDialectException](SqlStage("s",
      s"COPY (SELECT 1) FROM '$dir/src.csv'").apply(spark, df))
    assert(e2.getMessage.contains("isn't meaningful"))
  }

  test("COPY table FROM fails loudly on malformed rows like DuckDB (ADVICE r12)") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 4).toDF("id").withColumn("v", col("id"))
    val dir = Files.createTempDirectory("graft-copyfailfast").toString
    // a csv whose second data row can't cast to the table's BIGINT
    Files.write(java.nio.file.Paths.get(s"$dir/bad.csv"),
      "id|v\n1|10\n2|oops\n3|30\n".getBytes("UTF-8"))
    SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE cff AS
         SELECT CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS v FROM df WHERE id < 0""")
      .apply(spark, df)
    // PERMISSIVE would null-pad 'oops' and report Count=3; DuckDB errors
    val e = intercept[Exception](SqlStage("s",
      s"COPY cff FROM '$dir/bad.csv' (FORMAT CSV, HEADER, DELIMITER '|')")
      .apply(spark, df).collect())
    def chain(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(_.toString).toSeq
    assert(chain(e).exists(m => m.contains("FAILFAST") || m.contains("Malformed")), e.toString)
    // ...and nothing was appended
    assert(SqlStage("s", "SELECT COUNT(*) AS n FROM cff").apply(spark, df)
      .collect().head.getLong(0) == 0L)
  }

  test("read_csv skip refuses a directory path (ADVICE r11)") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 4).toDF("id").withColumn("v", col("id"))
    val dir = Files.createTempDirectory("graft-skipdir").toString
    // a directory of csvs reads fine WITHOUT skip...
    df.write.option("header", "true").csv(s"$dir/many")
    val n = SqlStage("s",
      s"SELECT COUNT(*) AS n FROM read_csv('$dir/many', header = true)")
      .apply(spark, df).collect().head.getLong(0)
    assert(n == 3L)
    // ...but skip would drop lines from whichever file sorts first
    val e = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv('$dir/many', header = true, skip = 1)").apply(spark, df))
    assert(e.getMessage.contains("directory"))
  }

  test("read_csv options: delim/header/columns/names map onto the Spark reader") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 6).toDF("id").withColumn("v", col("id") * 10)
    val dir = Files.createTempDirectory("graft-readopts").toString
    // write a |-delimited file with header via COPY, read it back with
    // the matching delim option — the q124 gate shape
    SqlStage("s",
      s"COPY (SELECT id, v FROM df) TO '$dir/p.csv' (FORMAT CSV, HEADER, DELIMITER '|')")
      .apply(spark, df)
    val rt = SqlStage("s",
      s"SELECT * FROM read_csv('$dir/p.csv', delim = '|', header = true) ORDER BY id")
      .apply(spark, df).collect()
    assert(rt.map(r => (r.getInt(0), r.getInt(1))).toSeq ==
      (1 to 5).map(i => (i, i * 10)))
    // headerless + columns= pins the schema with DuckDB type names —
    // no inference pass, exact Spark types, DuckDB's contract
    SqlStage("s",
      s"COPY (SELECT id, v FROM df) TO '$dir/nh.csv' (FORMAT CSV, DELIMITER ';', HEADER false)")
      .apply(spark, df)
    val typed = SqlStage("s",
      s"""SELECT * FROM read_csv('$dir/nh.csv', sep = ';', header = false,
            columns = {'a': 'BIGINT', 'b': 'VARCHAR'}) ORDER BY a""")
      .apply(spark, df)
    assert(typed.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq("a" -> "bigint", "b" -> "string"))
    assert(typed.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
      (1L to 5L).map(i => (i, (i * 10).toString)))
    // headerless WITHOUT columns: DuckDB's column0.. names, not _c0
    val anon = SqlStage("s",
      s"SELECT * FROM read_csv('$dir/nh.csv', sep = ';', header = false) LIMIT 1")
      .apply(spark, df)
    assert(anon.columns.toSeq == Seq("column0", "column1"))
    // names= renames in order; := binding also accepted
    val named = SqlStage("s",
      s"""SELECT n, w FROM read_csv('$dir/nh.csv', sep := ';', header := false,
            names = ['n', 'w']) ORDER BY n""").apply(spark, df)
    assert(named.columns.toSeq == Seq("n", "w") && named.count() == 5)
    // guided errors: unknown type name, names-length mismatch, non-csv options
    val et = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv('$dir/nh.csv', columns = {'a': 'UUIDLIST'})").apply(spark, df))
    assert(et.getMessage.contains("UUIDLIST"))
    val en = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv('$dir/nh.csv', sep = ';', names = ['only_one'])").apply(spark, df))
    assert(en.getMessage.contains("names has 1"))
    val ep = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_parquet('$dir/p.csv', delim = '|')").apply(spark, df))
    assert(ep.getMessage.contains("isn't supported on read_parquet"))
  }

  test("read_csv skip genuinely drops leading lines; compression is honest on reads") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 4).toDF("id").withColumn("v", col("id") * 2)
    val dir = Files.createTempDirectory("graft-skip").toString
    // two junk preamble lines, then header, then data — DuckDB's
    // skip=2 + header=true shape
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/pre.csv"),
      "# generated by tool\n# do not edit\nid,v\n1,2\n2,4\n3,6\n".getBytes("UTF-8"))
    val rt = SqlStage("s",
      s"SELECT * FROM read_csv('$dir/pre.csv', skip = 2, header = true) ORDER BY id")
      .apply(spark, df).collect()
    assert(rt.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((1, 2), (2, 4), (3, 6)))
    // skip with explicit columns (no inference), headerless body
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/nohdr.csv"),
      "junk\n10,a\n20,b\n".getBytes("UTF-8"))
    val nh = SqlStage("s",
      s"""SELECT * FROM read_csv('$dir/nohdr.csv', skip = 1, header = false,
            columns = {'n': 'BIGINT', 's': 'VARCHAR'}) ORDER BY n""")
      .apply(spark, df).collect()
    assert(nh.map(r => (r.getLong(0), r.getString(1))).toSeq == Seq((10L, "a"), (20L, "b")))
    // skip over a glob path would misread per-file semantics → guided
    val eg = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv('$dir/*.csv', skip = 1)").apply(spark, df))
    assert(eg.getMessage.contains("per file"))
    // compression: values agreeing with extension-based decode pass...
    assert(SqlStage("s",
      s"SELECT count(*) AS n FROM read_csv('$dir/pre.csv', skip = 2, compression = 'none')")
      .apply(spark, df).collect().head.getLong(0) == 3L)
    val gz = s"$dir/data.csv.gz"
    val out = new java.util.zip.GZIPOutputStream(new java.io.FileOutputStream(gz))
    out.write("id,v\n5,50\n".getBytes("UTF-8")); out.close()
    assert(SqlStage("s",
      s"SELECT * FROM read_csv('$gz', compression = 'gzip')")
      .apply(spark, df).collect().head.getInt(1) == 50)
    // ...a codec the read path can't force is a guided error, not a misread
    val ec = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_csv('$dir/pre.csv', compression = 'gzip')").apply(spark, df))
    assert(ec.getMessage.contains("extension"))
  }

  test("read_json columns/format and read_parquet hive_partitioning options") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 4).toDF("id")
    val dir = Files.createTempDirectory("graft-jsonopts").toString
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/d.jsonl"),
      "{\"a\": 1, \"b\": \"x\"}\n{\"a\": 2, \"b\": \"y\"}\n".getBytes("UTF-8"))
    // columns= pins the schema (DuckDB: columns IS the schema)
    val typed = SqlStage("s",
      s"""SELECT * FROM read_json('$dir/d.jsonl',
            columns = {'a': 'BIGINT', 'b': 'VARCHAR'}) ORDER BY a""").apply(spark, df)
    assert(typed.schema.map(f => (f.name, f.dataType.simpleString)).toSeq ==
      Seq("a" -> "bigint", "b" -> "string"))
    assert(typed.count() == 2)
    // format='array' reads a single top-level JSON array (multiLine)
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/arr.json"),
      "[{\"a\": 1}, {\"a\": 2}, {\"a\": 3}]".getBytes("UTF-8"))
    assert(SqlStage("s",
      s"SELECT count(*) AS n FROM read_json('$dir/arr.json', format = 'array')")
      .apply(spark, df).collect().head.getLong(0) == 3L)
    // records=false (value-per-row) refused, unknown json option guided
    val er = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_json('$dir/d.jsonl', records = false)").apply(spark, df))
    assert(er.getMessage.contains("records"))
    val eu = intercept[DuckDialectException](SqlStage("s",
      s"SELECT * FROM read_json('$dir/d.jsonl', maximum_depth = 3)").apply(spark, df))
    assert(eu.getMessage.contains("maximum_depth"))
    // read_parquet hive_partitioning: true discovers k=..., false doesn't
    spark.range(1, 5).toDF("id").withColumn("k", col("id") % 2)
      .write.partitionBy("k").parquet(s"$dir/part")
    val hp = SqlStage("s",
      s"SELECT * FROM read_parquet('$dir/part', hive_partitioning = true)").apply(spark, df)
    assert(hp.columns.contains("k") && hp.count() == 4)
    val nhp = SqlStage("s",
      s"SELECT * FROM read_parquet('$dir/part', hive_partitioning = false)").apply(spark, df)
    assert(!nhp.columns.contains("k") && nhp.count() == 4)
  }

  test("database-file statements: EXPORT/IMPORT/CHECKPOINT execute (r14); ATTACH guides") {
    def hintOf(sql: String): String =
      intercept[DuckDialectException](
        SqlStage("s", sql).apply(spark, spark.range(1).toDF("id"))).getMessage
    // EXPORT with no session tables writes an empty manifest pair
    val ex = SqlStage("s", "EXPORT DATABASE '/tmp/graft_exp_empty'")
      .apply(spark, spark.range(1).toDF("id"))
    assert(ex.columns.toSeq == Seq("Success"))
    assert(new java.io.File("/tmp/graft_exp_empty/schema.sql").isFile)
    // IMPORT of a non-export directory names the contract
    assert(hintOf("IMPORT DATABASE '/tmp/graft_no_such_dir'")
      .contains("EXPORT DATABASE"))
    assert(hintOf("ATTACH '/tmp/other.db' AS other").contains("read the data files"))
    assert(SqlStage("s", "CHECKPOINT").apply(spark, spark.range(1).toDF("id"))
      .columns.toSeq == Seq("Success"))
  }

  test("FROM-first statements rewrite to standard clause order") {
    import graft.operators.GraftSqlParser.rewriteFromFirst
    assert(rewriteFromFirst("FROM t") == "SELECT * FROM t")
    assert(rewriteFromFirst("FROM t WHERE x > 1") == "SELECT * FROM t WHERE x > 1")
    assert(rewriteFromFirst("FROM t SELECT a, b") == "SELECT a, b FROM t")
    assert(rewriteFromFirst("FROM t SELECT a GROUP BY a ORDER BY a")
      == "SELECT a FROM t GROUP BY a ORDER BY a")
    assert(rewriteFromFirst("FROM t JOIN u ON t.k = u.k SELECT t.a WHERE u.v > 0")
      == "SELECT t.a FROM t JOIN u ON t.k = u.k WHERE u.v > 0")
    // subquery SELECTs are depth>0 — bare form wraps the whole thing
    assert(rewriteFromFirst("FROM (SELECT 1 AS x)") == "SELECT * FROM (SELECT 1 AS x)")
    // non-FROM-first statements are untouched
    assert(rewriteFromFirst("SELECT * FROM t") == "SELECT * FROM t")
    // e2e through a sql stage
    val df = spark.range(1, 5).toDF("id")
    val out = SqlStage("s", "FROM df SELECT COUNT(*) AS n WHERE id >= 2")
      .apply(spark, df).collect()
    assert(out.head.getLong(0) == 3L)
    val bare = SqlStage("s", "FROM df ORDER BY id LIMIT 2").apply(spark, df).collect()
    assert(bare.map(_.getLong(0)).toSeq == Seq(1L, 2L))
  }

  test("SET TimeZone maps to the session timezone; operational settings skip; Spark keys pass") {
    val df = spark.range(1).toDF("id")
    val beforeTz = spark.conf.get("spark.sql.session.timeZone")
    val beforeSp = spark.conf.get("spark.sql.shuffle.partitions")
    try {
      SqlStage("s", "SET TimeZone='America/New_York'").apply(spark, df)
      assert(spark.conf.get("spark.sql.session.timeZone") == "America/New_York")
      // DuckDB operational knobs are acknowledged, not errors
      SqlStage("s", "SET memory_limit='4GB'").apply(spark, df)
      SqlStage("s", "SET threads = 8").apply(spark, df)
      // Spark's own SET still works (not consumed by the DuckDB mapping)
      SqlStage("s", "SET spark.sql.shuffle.partitions=7").apply(spark, df)
      assert(spark.conf.get("spark.sql.shuffle.partitions") == "7")
    } finally {
      spark.conf.set("spark.sql.session.timeZone", beforeTz)
      spark.conf.set("spark.sql.shuffle.partitions", beforeSp)
    }
  }

  test("CREATE TABLE AS registers a session view; batches read it; duplicate guarded") {
    val df = spark.range(1, 6).toDF("id")
    // batch: CTAS then read — DuckDB's last-statement rule
    val out = SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE big3 AS SELECT id FROM df WHERE id >= 3;
         SELECT COUNT(*) AS n FROM big3""").apply(spark, df).collect()
    assert(out.head.getLong(0) == 3L)
    // a LATER stage still sees the table (session-scoped, like DuckDB's
    // per-connection temp catalog)
    assert(SqlStage("s2", "SELECT MAX(id) AS m FROM big3").apply(spark, df)
      .collect().head.getLong(0) == 5L)
    // plain TEMP CREATE on an existing name raises; IF NOT EXISTS is silent
    val e = intercept[DuckDialectException](
      SqlStage("s", "CREATE TEMP TABLE big3 AS SELECT 1 AS x").apply(spark, df))
    assert(e.getMessage.contains("already exists"))
    SqlStage("s", "CREATE TEMP TABLE IF NOT EXISTS big3 AS SELECT 1 AS x").apply(spark, df)
    assert(SqlStage("s", "SELECT MAX(id) AS m FROM big3").apply(spark, df)
      .collect().head.getLong(0) == 5L) // untouched
    // plain (non-TEMP) CREATE TABLE AS is NEVER claimed — Spark's own
    // durable CTAS handles it, and INSERT INTO a REAL catalog table
    // falls through to Spark's native write instead of being shadowed
    // by a temp view (review r9)
    spark.sql("DROP TABLE IF EXISTS real_ctas")
    SqlStage("s", "CREATE TABLE real_ctas AS SELECT id FROM df WHERE id <= 2")
      .apply(spark, df)
    assert(spark.catalog.tableExists("real_ctas") &&
      spark.catalog.getTable("real_ctas").tableType != "TEMPORARY")
    SqlStage("s", "INSERT INTO real_ctas SELECT id FROM df WHERE id = 5")
      .apply(spark, df)
    assert(SqlStage("s", "SELECT COUNT(*) AS n FROM real_ctas").apply(spark, df)
      .collect().head.getLong(0) == 3L) // the native write really landed
    assert(spark.catalog.getTable("real_ctas").tableType != "TEMPORARY")
    spark.sql("DROP TABLE real_ctas")
    // TEMP CREATE colliding with a REAL table name is refused
    spark.sql("CREATE TABLE real_clash AS SELECT 1 AS x")
    val clash = intercept[DuckDialectException](
      SqlStage("s", "CREATE TEMP TABLE real_clash AS SELECT 2 AS y").apply(spark, df))
    assert(clash.getMessage.contains("REAL catalog table"))
    spark.sql("DROP TABLE real_clash")
    // CTAS query keeps the full dialect layer (macro + slice compose)
    SqlStage("s", "CREATE OR REPLACE MACRO first2(s) AS s[1:2]").apply(spark, df)
    assert(SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE sliced AS SELECT first2('hello') AS h;
         SELECT h FROM sliced""").apply(spark, df)
      .collect().head.getString(0) == "he")
    // INSERT INTO appends: positional, VALUES, and BY NAME
    val ins = SqlStage("s",
      """CREATE OR REPLACE TEMP TABLE acc AS SELECT id, id * 2 AS v FROM df WHERE id = 1;
         INSERT INTO acc SELECT id, id * 2 AS v FROM df WHERE id = 2;
         INSERT INTO acc VALUES (9, 90);
         INSERT INTO acc BY NAME SELECT id * 2 AS v, id FROM df WHERE id = 3;
         SELECT id, v FROM acc ORDER BY id""").apply(spark, df).collect()
    assert(ins.map(r => (r.getLong(0), r.getLong(1))).toSeq ==
      Seq((1L, 2L), (2L, 4L), (3L, 6L), (9L, 90L)))
    // unknown target and column-count mismatch raise guided errors
    val ei = intercept[DuckDialectException](
      SqlStage("s", "INSERT INTO nosuch SELECT 1").apply(spark, df))
    assert(ei.getMessage.contains("unknown table"))
    val ec = intercept[DuckDialectException](
      SqlStage("s", "INSERT INTO acc SELECT 1").apply(spark, df))
    assert(ec.getMessage.contains("BY NAME"))
  }

  test("the statement layer composes: macros + CTAS + FROM-first + COPY in ONE batch") {
    import org.apache.spark.sql.functions.col
    val df = spark.range(1, 21).toDF("id")
    val dir = Files.createTempDirectory("graft-compose").toString
    val out = SqlStage("s",
      s"""CREATE OR REPLACE MACRO sq(x) AS x * x;
          CREATE OR REPLACE TEMP TABLE squares AS FROM df SELECT id, sq(id) AS s WHERE id <= 10;
          COPY (FROM squares SELECT id, s WHERE s >= 25) TO '$dir/big.csv' (FORMAT CSV, HEADER);
          FROM read_csv_auto('$dir/big.csv') SELECT COUNT(*) AS n, SUM(s) AS total""")
      .apply(spark, df).collect()
    // ids 5..10 → squares 25..100: 6 rows, sum 25+36+49+64+81+100 = 355
    assert(out.head.getLong(0) == 6L)
    assert(out.head.getAs[Number](1).longValue == 355L)
    // ...and the r10 expression surface composes in one statement:
    // comprehension over a list literal, //, **, a struct literal
    // field, a ->> chain and GLOB, all inside one macro-using SELECT
    val r10 = SqlStage("s",
      """CREATE OR REPLACE MACRO half(x) AS x // 2;
         SELECT list_sum([half(v) FOR v IN [10, 20, 31] IF v > 10]) AS hsum,
                2 ** ({'e': 3}).e AS cube,
                '{"k": {"v": 9}}' -> 'k' ->> 'v' AS jv,
                'report.csv' GLOB '*.csv' AS is_csv
         FROM df LIMIT 1""").apply(spark, df).collect().head
    assert(r10.getAs[Number](0).longValue == 25L) // 20//2 + 31//2 = 10 + 15
    assert(r10.getDouble(1) == 8.0)
    assert(r10.getString(2) == "9")
    assert(r10.getBoolean(3))
  }

  test("CREATE MACRO: body DuckDB-isms still meet the rewrite chain at the call site") {
    val df = spark.range(1).toDF("id")
    // bracket slice inside the macro body — expandMacros runs BEFORE
    // rewriteSlice, so the expansion picks up the DuckSlice rewrite
    SqlStage("s", "CREATE OR REPLACE MACRO mid3(s) AS s[2:4]").apply(spark, df)
    assert(SqlStage("s", "SELECT mid3('abcdef') AS v FROM df").apply(spark, df)
      .collect().head.getString(0) == "bcd")
  }

  test("composed macro fuzz: 400 random macro+dialect batches inline identically (r12)") {
    import spark.implicits._
    // the r11 paren-lambda bug was exactly a grammar hole behind an
    // INTERACTION (VERDICT r11 #7): fuzz compositions of macro
    // definitions whose bodies carry comprehensions, JSON arrows, GLOB,
    // `//`/`**`, slices and nested lambdas, split across batches with
    // semicolon-bearing comments, and assert every batch produces
    // EXACTLY what the hand-inlined SQL produces — a mangle anywhere in
    // maskQuotes / splitStatements / expandMacros / the rewrite chain
    // breaks the equality, not just the no-crash property.
    val df = Seq(
      (1L, "the tiny transform", """{"a": {"b": 3}, "l": [10, 20]}"""),
      (2L, "table scan totals", """{"a": {"b": 7}, "l": [40, 50]}"""),
      (3L, "x", """{"a": {"b": -1}, "l": [0]}"""))
      .toDF("id", "v", "j")
    // (macro body over parameter x, column it applies to)
    val bodies = Seq(
      ("list_sum([length(w) FOR w IN string_split(x, ' ') IF length(w) >= 4])", "v"),
      ("len([upper(w) FOR w IN string_split(x, ' ') IF w LIKE 't%'])", "v"),
      ("CASE WHEN x GLOB '*t*' THEN 1 ELSE 0 END", "v"),
      ("length(x) // 3 + 2 ** 2", "v"),
      ("x[2:4]", "v"),
      ("list_extract(list_transform([x], y -> upper(y)), 1)", "v"),
      ("x -> 'a' ->> 'b'", "j"),
      ("x -> 'l' -> 1", "j"),
      ("x ->> 'a'", "j"),
      ("length(coalesce(x -> 'a' -> 'b', '?')) * 10", "j"),
      // r13 (VERDICT r12 #6): terminal-`->` chains in lambda-ADJACENT
      // positions — a chain as a non-HOF call argument must rewrite
      // (coalesce is not lambda context)...
      ("coalesce(x -> 'a', '{}') ->> 'b'", "j"),
      ("length(coalesce(x -> 'l', '[]')) + (x -> 'a' ->> 'b')::INT", "j"),
      // ...a JSON chain INSIDE a lambda body must rewrite while the
      // lambda arrow itself stays untouched...
      ("list_extract(list_transform([x ->> 'a'], y -> length(y)), 1)", "j"),
      // ...and a CONSTANT-bodied lambda in a known HOF must NOT be
      // claimed as a JSON extraction (the r12 disambiguation)
      ("list_extract(list_transform([x], y -> 'k'), 1)", "v"),
      // r13: MAP literals composed through macro expansion — subscript
      // lookup, computed values, a literal inside a comprehension's
      // lambda body, and a JSON-arrow chain as a map VALUE
      ("array_to_string(MAP {'k': x, 'j': 'z'}['k'], ',')", "v"),
      ("CAST(cardinality(MAP {'a': length(x), 'b': 1}) AS BIGINT)", "v"),
      ("array_to_string(map_values(MAP {'a': length(x), 'b': length(x) * 2}), '-')", "v"),
      ("list_sum([CAST(cardinality(MAP {'k': w}) AS BIGINT) FOR w IN string_split(x, ' ')])", "v"),
      ("array_to_string(MAP {'m': x ->> 'a'}['m'], ',')", "j"),
      // r13 session-4 surface: 1-based scalar subscripts (incl. on a
      // slice result), dot-call chains, SIMILAR TO, DuckDB-semantics
      // regexp_replace with flags and a RAW backslash literal,
      // list_sort modifiers and grade_up indices
      ("string_split(x, ' ')[1]", "v"),
      ("string_split(x, ' ')[-1]", "v"),
      ("(x[2:4])[1]", "v"),
      ("x.upper().len()", "v"),
      ("x.trim().substring(2, 3)", "v"),
      ("CASE WHEN x SIMILAR TO '[a-z ]+' THEN 1 ELSE 0 END", "v"),
      ("regexp_replace(x, 't', 'T', 'g')", "v"),
      ("regexp_replace(x, '\\s+', '_', 'g')", "v"),
      ("regexp_replace(x, '(t)(i)', '\\2\\1')", "v"),
      ("array_to_string(list_sort(string_split(x, ' '), 'DESC'), ',')", "v"),
      ("list_grade_up(string_split(x, ' '))[1]", "v"),
      // fourth-sweep surface: caret exponent (vs lambda arrows and
      // JSON ops in the same body), log10 rename, left/right
      // negatives, list folds, dot-call composed with a fold
      ("CAST(2 ^ (length(x) % 4) AS BIGINT)", "v"),
      ("CAST(round(log(length(x) + 1) * 100) AS BIGINT)", "v"),
      ("left(x, -3) || '~' || right(x, -3)", "v"),
      ("list_reduce([length(x), 2, 3], (a, b) -> a + b)", "v"),
      ("list_median([length(x), 1, 9])", "v"),
      ("array_to_string(array_pop_back(string_split(x, ' ')), '-')", "v"),
      ("x.lower().left(-2)", "v"),
      ("struct_extract(struct_insert({'a': length(x)}, b := 2), 'b')", "v"),
      ("list_sum(generate_subscripts(string_split(x, ' '), 1))", "v"))
    val comments = Seq("-- c; with semicolon\n", "/* block; ; */ ", "")
    val rnd = new scala.util.Random(20260814)
    for (trial <- 1 to 400) {
      val chosen = Seq.fill(1 + rnd.nextInt(3))(bodies(rnd.nextInt(bodies.size)))
      val defs = chosen.zipWithIndex.map { case ((b, _), i) =>
        s"${comments(rnd.nextInt(3))}CREATE OR REPLACE MACRO fz$i(x) AS ($b)"
      }
      val sel = "SELECT id" + chosen.zipWithIndex.map { case ((_, c), i) =>
        s", fz$i($c) AS o$i"
      }.mkString + " FROM df ORDER BY id"
      val batch = defs.mkString(";\n") + ";\n" + comments(rnd.nextInt(3)) + sel
      val inline = "SELECT id" + chosen.zipWithIndex.map { case ((b, c), i) =>
        s", (${b.replaceAll("\\bx\\b", c)}) AS o$i"
      }.mkString + " FROM df ORDER BY id"
      val got = SqlStage("s", batch).apply(spark, df).collect().map(_.toSeq).toSeq
      val want = SqlStage("s", inline).apply(spark, df).collect().map(_.toSeq).toSeq
      assert(got == want, s"trial $trial mangled:\n$batch\nvs\n$inline")
    }
  }

  test("inline agg ORDER BY rewrites: string_agg/array_agg/list/first/last (r13)") {
    // every expected value below is the PROBED duckdb 1.0.0 output on
    // the identical data: 10 rows i=0..9, g=i%3, v = NULL when i%4=0
    // else 'v'||i
    spark.range(10).selectExpr("id AS i", "id % 3 AS g",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE 'v' || id END AS v")
      .createOrReplaceTempView("aot")
    def q(sql: String) = SqlStage("s", sql).apply(spark, df = spark.table("aot"))
    // string_agg two-arg + DESC keys
    assert(q("SELECT g, string_agg(i, ',' ORDER BY i DESC) AS s FROM aot GROUP BY g ORDER BY g")
      .collect().map(_.getString(1)).toSeq == Seq("9,6,3,0", "7,4,1", "8,5,2"))
    // 1-arg form gains DuckDB's default ',' separator; NULL values skipped
    assert(q("SELECT string_agg(v ORDER BY i DESC) AS s FROM aot")
      .collect().head.getString(0) == "v9,v7,v6,v5,v3,v2,v1")
    // DISTINCT + ORDER BY through listagg WITHIN GROUP
    assert(q("SELECT string_agg(DISTINCT g, ',' ORDER BY g DESC) AS s FROM aot")
      .collect().head.getString(0) == "2,1,0")
    // array_agg KEEPS NULL values (the struct wrap preserves them)
    assert(q("SELECT array_agg(v ORDER BY i) AS a FROM aot WHERE g = 0")
      .collect().head.getSeq[String](0) == Seq(null, "v3", "v6", "v9"))
    assert(q("SELECT list(v ORDER BY i DESC) AS a FROM aot WHERE g = 0")
      .collect().head.getSeq[String](0) == Seq("v9", "v6", "v3", null))
    // NULL order keys go LAST in BOTH directions (DuckDB default, probed)
    spark.sql("SELECT * FROM VALUES (1, 'a'), (CAST(NULL AS INT), 'b'), (2, 'c') AS x(k, s)")
      .createOrReplaceTempView("aotn")
    assert(SqlStage("s", "SELECT array_agg(s ORDER BY k) AS a FROM aotn")
      .apply(spark, spark.table("aotn")).collect().head.getSeq[String](0)
      == Seq("a", "c", "b"))
    assert(SqlStage("s", "SELECT array_agg(s ORDER BY k DESC) AS a FROM aotn")
      .apply(spark, spark.table("aotn")).collect().head.getSeq[String](0)
      == Seq("c", "a", "b"))
    // multi-key mixed directions
    assert(q("SELECT array_agg(i ORDER BY g ASC, i DESC) AS a FROM aot")
      .collect().head.getSeq[Long](0) == Seq(9L, 6L, 3L, 0L, 7L, 4L, 1L, 8L, 5L, 2L))
    // first/last → min_by/max_by (probed: first = value at ordering minimum)
    assert(q("SELECT g, first(i ORDER BY i DESC) AS f, last(i ORDER BY i DESC) AS l FROM aot GROUP BY g ORDER BY g")
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq ==
      Seq((9L, 0L), (7L, 1L), (8L, 2L)))
    // multi-key first goes through the sorted-struct head
    assert(q("SELECT first(i ORDER BY g ASC, i DESC) AS f FROM aot")
      .collect().head.getLong(0) == 9L)
    // guided errors: window use, array_agg DISTINCT with ORDER BY
    val e1 = intercept[DuckDialectException](q(
      "SELECT string_agg(i, ',' ORDER BY i) OVER (PARTITION BY g) AS s FROM aot"))
    assert(e1.getMessage.contains("window"))
    val e2 = intercept[DuckDialectException](q(
      "SELECT array_agg(DISTINCT i ORDER BY i) AS a FROM aot"))
    assert(e2.getMessage.contains("DISTINCT"))
    // rewrite is an identity when no inline ORDER BY is present
    val plain = "SELECT string_agg(v, ',') AS s, first(i) AS f FROM aot"
    assert(GraftSqlParser.rewriteAggOrderBy(plain) == plain)
  }

  test("r13 probe-batch aliases: quantiles, product, entropy, series, fdiv/fmod, format, IGNORE NULLS") {
    // expected values are PROBED duckdb 1.0.0 outputs on identical data
    spark.range(10).selectExpr("id AS i", "id % 3 AS g",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE 'v' || id END AS v")
      .createOrReplaceTempView("pbt")
    def one(sql: String) = SqlStage("s", sql).apply(spark, spark.table("pbt"))
      .collect().head
    assert(one("SELECT quantile_cont(i, 0.5) AS m FROM pbt").getDouble(0) == 4.5)
    assert(one("SELECT quantile_cont(i, [0.25, 0.75]) AS m FROM pbt")
      .getSeq[Double](0) == Seq(2.25, 6.75))
    // documented divergence: Spark's PercentileDisc returns DOUBLE
    // where DuckDB keeps the element type — CAST in cross-engine SQL
    assert(one("SELECT quantile_disc(i, 0.5) AS m FROM pbt").getDouble(0) == 4.0)
    assert(one("SELECT quantile(i, 0.3) AS m FROM pbt").getDouble(0) == 2.0)
    val eq = intercept[DuckDialectException](one("SELECT quantile(i, [0.3, 0.7]) AS m FROM pbt"))
    assert(eq.getMessage.contains("LIST of fractions"))
    // product: NULL-skipping, DOUBLE (probed 120.0 / 40.0)
    assert(one("SELECT product(i + 1) AS m FROM pbt WHERE i < 5").getDouble(0) == 120.0)
    assert(one("SELECT product(CASE WHEN i = 2 THEN NULL ELSE i + 1 END) AS m FROM pbt WHERE i < 5")
      .getDouble(0) == 40.0)
    // entropy: Shannon log2 over the value distribution (probed: 4
    // uniform values → 2.0 exactly; the 10-row case only to 1 ulp)
    assert(one("SELECT entropy(i) AS m FROM pbt WHERE i < 4").getDouble(0) == 2.0)
    assert(math.abs(one("SELECT entropy(g) AS m FROM pbt").getDouble(0)
      - 1.5709505944546687) < 1e-12)
    // series: range end-exclusive, generate_series end-inclusive,
    // wrong-direction → [] (probed)
    assert(one("SELECT range(5) AS m").getSeq[Long](0) == Seq(0L, 1L, 2L, 3L, 4L))
    assert(one("SELECT range(5, 2) AS m").getSeq[Long](0).isEmpty)
    assert(one("SELECT range(0, 10, 3) AS m").getSeq[Long](0) == Seq(0L, 3L, 6L, 9L))
    assert(one("SELECT range(5, 0, -2) AS m").getSeq[Long](0) == Seq(5L, 3L, 1L))
    assert(one("SELECT generate_series(1, 3) AS m").getSeq[Long](0) == Seq(1L, 2L, 3L))
    assert(one("SELECT generate_series(4, 1) AS m").getSeq[Long](0).isEmpty)
    assert(one("SELECT generate_series(5, 1, -2) AS m").getSeq[Long](0) == Seq(5L, 3L, 1L))
    // fdiv = true floor; fmod = FLOORED modulo (probed: fmod(-7.5, 2.0)
    // = 0.5, NOT C's -1.5)
    assert(one("SELECT fdiv(7, 2) AS m").getDouble(0) == 3.0)
    assert(one("SELECT fdiv(-7.5, 2.0) AS m").getDouble(0) == -4.0)
    assert(one("SELECT fmod(-7.5, 2.0) AS m").getDouble(0) == 0.5)
    assert(one("SELECT fmod(7.5, 2) AS m").getDouble(0) == 1.5)
    // unicode/ord: first char codepoint, '' → -1 (probed)
    assert(one("SELECT unicode('abc') AS a, unicode('') AS b, ord('€') AS c")
      .toSeq == Seq(97, -1, 8364))
    // list_zip pads with NULLs and pins DuckDB's list_1/list_2 names
    val z = one("SELECT list_zip([1,2,3], ['a','b']) AS m").getSeq[org.apache.spark.sql.Row](0)
    assert(z.size == 3 && z(0).schema.fieldNames.toSeq == Seq("list_1", "list_2") &&
      z(2).isNullAt(1))
    assert(one("SELECT list_sort(list_intersect([1,2,3], [2,3,4])) AS m")
      .getSeq[Int](0) == Seq(2, 3))
    assert(new String(one("SELECT from_base64('aGk=') AS m").getAs[Array[Byte]](0)) == "hi")
    // format: {} auto and {n} positional over a literal (probed)
    assert(one("SELECT format('{} x {}', 1, 'a') AS m").getString(0) == "1 x a")
    assert(one("SELECT format('{1}-{0}', 'a', 'b') AS m").getString(0) == "b-a")
    // fmt specs execute since r17 — the full probe matrix lives in the
    // dedicated "format() fmt specs" test below
    assert(one("SELECT format('{:.2f}', 1.5) AS m").getString(0) == "1.50")
    // IGNORE NULLS moves from inside the call to Spark's position
    val lag = SqlStage("s",
      "SELECT i, lag(v IGNORE NULLS) OVER (ORDER BY i) AS p FROM pbt ORDER BY i LIMIT 6")
      .apply(spark, spark.table("pbt")).collect().map(r =>
        if (r.isNullAt(1)) null else r.getString(1)).toSeq
    assert(lag == Seq(null, null, "v1", "v2", "v3", "v3"))
    val fv = SqlStage("s",
      """SELECT i, first_value(v IGNORE NULLS) OVER (ORDER BY i
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS f FROM pbt ORDER BY i LIMIT 3""")
      .apply(spark, spark.table("pbt")).collect().map(r =>
        if (r.isNullAt(1)) null else r.getString(1)).toSeq
    assert(fv == Seq(null, "v1", "v1"))
  }

  test("window frame EXCLUDE CURRENT ROW rewrites to the subtraction identity (r13)") {
    // every expected row is the PROBED duckdb 1.0.0 output on the same
    // data: i = 0..5, v = NULL when i % 4 = 0 else i * 10
    spark.range(6).selectExpr("id AS i",
      "CASE WHEN id % 4 = 0 THEN NULL ELSE id * 10 END AS v")
      .createOrReplaceTempView("fxt")
    def rows(sql: String) = SqlStage("s", sql).apply(spark, spark.table("fxt"))
      .collect()
    val s1 = rows("""SELECT i, sum(i) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s FROM fxt ORDER BY i""")
      .map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq
    assert(s1 == Seq(1L, 2L, 4L, 6L, 8L, 4L))
    // single-row frame → empty after exclusion: sum NULL, count 0
    val s2 = rows("""SELECT sum(i) OVER (ORDER BY i ROWS BETWEEN CURRENT ROW
      AND CURRENT ROW EXCLUDE CURRENT ROW) AS s, count(*) OVER (ORDER BY i
      ROWS BETWEEN CURRENT ROW AND CURRENT ROW EXCLUDE CURRENT ROW) AS c
      FROM fxt LIMIT 2""")
    assert(s2.forall(r => r.isNullAt(0) && r.getLong(1) == 0L))
    // NULL values: sum skips them, count(v) counts non-null neighbors
    val s3 = rows("""SELECT i, sum(v) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS s, count(v) OVER (ORDER BY i
      ROWS BETWEEN 1 PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS c
      FROM fxt ORDER BY i""").map(r =>
        (if (r.isNullAt(1)) -1L else r.getLong(1), r.getLong(2))).toSeq
    assert(s3 == Seq((10L, 1L), (20L, 1L), (40L, 2L), (20L, 1L), (80L, 2L), (-1L, 0L)))
    // a frame that CANNOT contain the current row: exclusion is a no-op
    val s4 = rows("""SELECT i, sum(i) OVER (ORDER BY i ROWS BETWEEN 2 PRECEDING
      AND 1 PRECEDING EXCLUDE CURRENT ROW) AS s FROM fxt ORDER BY i LIMIT 3""")
      .map(r => if (r.isNullAt(1)) -1L else r.getLong(1)).toSeq
    assert(s4 == Seq(-1L, 0L, 1L))
    // EXCLUDE NO OTHERS is the default — dropped
    val s5 = rows("""SELECT sum(i) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE NO OTHERS) AS s FROM fxt ORDER BY i LIMIT 2""")
      .map(_.getLong(0)).toSeq
    assert(s5 == Seq(1L, 3L))
    // avg: double, NULL on empty (probed [1.0, 1.0, 2.0])
    val s6 = rows("""SELECT avg(i) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS a FROM fxt ORDER BY i LIMIT 3""")
      .map(_.getDouble(0)).toSeq
    assert(s6 == Seq(1.0, 1.0, 2.0))
    // guided error: min stays untranslatable
    val e1 = intercept[DuckDialectException](rows(
      """SELECT min(i) OVER (ORDER BY i ROWS BETWEEN 1 PRECEDING AND 1
         FOLLOWING EXCLUDE CURRENT ROW) AS m FROM fxt"""))
    assert(e1.getMessage.contains("min/max"))
  }

  test("window frame EXCLUDE GROUP/TIES subtract the peer-group window (r13)") {
    // every expected row is the PROBED duckdb 1.0.0 output on the same
    // data: (k, x) with NULLs and a 3-row peer group at k=2
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(StructField("k", IntegerType), StructField("x", IntegerType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(Row(1, 10), Row(2, null), Row(2, 20),
        Row(2, 25), Row(3, 30), Row(4, null), Row(4, 40))), schema)
      .createOrReplaceTempView("fxg")
    def rows(sql: String) = SqlStage("s", sql).apply(spark, spark.table("fxg"))
      .collect()
    def longs(sql: String) = rows(sql).map(r =>
      if (r.isNullAt(0)) -1L else r.getLong(0)).toSeq
    val order = "ORDER BY k, x NULLS FIRST"
    // RANGE frame, EXCLUDE GROUP: frame minus the whole peer group
    assert(longs(s"""SELECT sum(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE GROUP) AS s FROM fxg $order""")
      == Seq(45L, 40L, 40L, 40L, 85L, 30L, 30L))
    assert(longs(s"""SELECT count(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE GROUP) AS c FROM fxg $order""")
      == Seq(2L, 2L, 2L, 2L, 3L, 1L, 1L))
    assert(longs(s"""SELECT count(*) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE GROUP) AS c FROM fxg $order""")
      == Seq(3L, 2L, 2L, 2L, 5L, 1L, 1L))
    // EXCLUDE TIES keeps the current row
    assert(longs(s"""SELECT sum(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE TIES) AS s FROM fxg $order""")
      == Seq(55L, 40L, 60L, 65L, 115L, 30L, 70L))
    assert(longs(s"""SELECT count(*) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE TIES) AS c FROM fxg $order""")
      == Seq(4L, 3L, 3L, 3L, 6L, 2L, 2L))
    val avgs = rows(s"""SELECT avg(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING
      AND 1 FOLLOWING EXCLUDE TIES) AS a FROM fxg $order""")
      .map(r => if (r.isNullAt(0)) -1.0 else r.getDouble(0)).toSeq
    val exp = Seq(55.0 / 3, 20.0, 20.0, 65.0 / 3, 115.0 / 4, 30.0, 35.0)
    assert(avgs.zip(exp).forall { case (a, e) => math.abs(a - e) < 1e-9 })
    // ROWS UNBOUNDED-both fully contains the peer group — allowed
    assert(longs(s"""SELECT sum(x) OVER (ORDER BY k ROWS BETWEEN UNBOUNDED
      PRECEDING AND UNBOUNDED FOLLOWING EXCLUDE GROUP) AS s FROM fxg $order""")
      == Seq(115L, 80L, 80L, 80L, 95L, 85L, 85L))
    // single-point RANGE frame: GROUP empties it, TIES keeps current
    assert(longs(s"""SELECT sum(x) OVER (ORDER BY k, x RANGE BETWEEN CURRENT
      ROW AND CURRENT ROW EXCLUDE GROUP) AS s FROM fxg $order""")
      == Seq(-1L, -1L, -1L, -1L, -1L, -1L, -1L))
    assert(longs(s"""SELECT sum(x) OVER (ORDER BY k, x RANGE BETWEEN CURRENT
      ROW AND CURRENT ROW EXCLUDE TIES) AS s FROM fxg $order""")
      == Seq(10L, -1L, 20L, 25L, 30L, -1L, 40L))
    // narrow ROWS frame only partially contains the peer group — guided
    val e1 = intercept[DuckDialectException](rows(
      """SELECT sum(x) OVER (ORDER BY k ROWS BETWEEN 1 PRECEDING AND 1
         FOLLOWING EXCLUDE GROUP) AS s FROM fxg"""))
    assert(e1.getMessage.contains("partially contain"))
    val e2 = intercept[DuckDialectException](rows(
      """SELECT min(x) OVER (ORDER BY k RANGE BETWEEN 1 PRECEDING AND 1
         FOLLOWING EXCLUDE TIES) AS m FROM fxg"""))
    assert(e2.getMessage.contains("min/max"))
  }

  test("regexp_replace has DuckDB first-match/flags semantics; SIMILAR TO; strpos (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every expected value is the PROBED duckdb 1.0.0 output
    assert(one("SELECT regexp_replace('aaa', 'a', 'b') AS m").getString(0) == "baa")
    assert(one("SELECT regexp_replace('aaa', 'a', 'b', 'g') AS m").getString(0) == "bbb")
    assert(one("SELECT regexp_replace('AaA', 'a', 'b', 'gi') AS m").getString(0) == "bbb")
    assert(one("SELECT regexp_replace('aAa', 'A', 'x', 'i') AS m").getString(0) == "xAa")
    // \1 backrefs (group swap), $ literal, \\ literal backslash
    assert(one(raw"SELECT regexp_replace('ab12cd', '([a-z])([0-9])', '\2\1', 'g') AS m")
      .getString(0) == "a1b2cd")
    assert(one(raw"SELECT regexp_replace('ab', 'b', 'x$$y') AS m").getString(0) == "ax$y")
    assert(one(raw"SELECT regexp_replace('ab', '(b)', 'x\\1y') AS m").getString(0) == raw"ax\1y")
    // default: dot does NOT match newline; 's' makes it; 'l' literal
    assert(one("SELECT regexp_replace('a' || chr(10) || 'b', '.', 'X', 'g') AS m")
      .getString(0) == "X\nX")
    assert(one("SELECT regexp_replace('a' || chr(10) || 'b', '.', 'X', 'gs') AS m")
      .getString(0) == "XXX")
    assert(one("SELECT regexp_replace('a.b', 'a.b', 'X', 'l') AS m").getString(0) == "X")
    // NULLs propagate; unknown option errors like DuckDB
    assert(one("SELECT regexp_replace('ab', 'b', NULL) AS m").isNullAt(0))
    assert(one("SELECT regexp_replace('ab', 'b', 'x', NULL) AS m").isNullAt(0))
    val e = intercept[Exception](one("SELECT regexp_replace('ab', 'b', 'x', 'z') AS m"))
    assert(e.getMessage.contains("Unrecognized Regex option") ||
      Option(e.getCause).exists(_.getMessage.contains("Unrecognized Regex option")))
    // SIMILAR TO = whole-string REGEX match (not %-wildcards)
    assert(one("SELECT 'abc' SIMILAR TO 'a.c' AS m").getBoolean(0))
    assert(!one("SELECT 'abc' SIMILAR TO 'ab' AS m").getBoolean(0))
    assert(!one("SELECT 'abc' SIMILAR TO 'a%' AS m").getBoolean(0))
    assert(one("SELECT 'abc' NOT SIMILAR TO 'ab' AS m").getBoolean(0))
    assert(one(raw"SELECT 'a1' SIMILAR TO 'a\d' AS m").getBoolean(0))
    assert(one("SELECT 'abc' SIMILAR TO '(a|z)bc' AS m").getBoolean(0))
    // strpos = 1-based instr
    assert(one("SELECT strpos('abc', 'b') AS m").getInt(0) == 2)
    assert(one("SELECT strpos('abc', 'q') AS m").getInt(0) == 0)
  }

  test("scalar subscripts, list_sort orders, epoch/intervals, json aggs (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every expected value is the PROBED duckdb 1.0.0 output
    // --- scalar subscript: 1-based, negative-from-end, 0/oob NULL
    assert(one("SELECT ([10,20,30])[1] AS m").getInt(0) == 10)
    assert(one("SELECT ([10,20,30])[-1] AS m").getInt(0) == 30)
    assert(one("SELECT ([10,20,30])[0] AS m").isNullAt(0))
    assert(one("SELECT ([10,20,30])[4] AS m").isNullAt(0))
    assert(one("SELECT (string_split('a b c', ' '))[1] AS m").getString(0) == "a")
    // strings: 1-based char, ''/oob empty
    assert(one("SELECT 'abcd'[2] AS m").getString(0) == "b")
    assert(one("SELECT 'abcd'[-1] AS m").getString(0) == "d")
    assert(one("SELECT 'abcd'[0] AS m").getString(0) == "")
    assert(one("SELECT 'abcd'[9] AS m").getString(0) == "")
    // struct field; map subscright stays LIST-shaped (q144's shape)
    assert(one("SELECT ({'f': 7})['f'] AS m").getInt(0) == 7)
    // list_extract carries the same semantics
    assert(one("SELECT list_extract([10,20], 0) AS m").isNullAt(0))
    assert(one("SELECT array_extract('abc', 2) AS m").getString(0) == "b")
    // --- list_sort: DEFAULT IS NULLS LAST (Spark's sort_array is not)
    def arr(sql: String) = one(sql).getSeq[Any](0).map(v => if (v == null) -1L else v)
    assert(arr("SELECT list_sort([3,1,NULL,2]) AS m") == Seq(1L, 2L, 3L, -1L))
    assert(arr("SELECT list_sort([3,1,NULL,2], 'DESC') AS m") == Seq(3L, 2L, 1L, -1L))
    assert(arr("SELECT list_sort([3,1,NULL,2], 'DESC', 'NULLS FIRST') AS m") == Seq(-1L, 3L, 2L, 1L))
    assert(arr("SELECT list_sort([3,1,NULL,2], 'ASC', 'NULLS LAST') AS m") == Seq(1L, 2L, 3L, -1L))
    // --- epoch: DOUBLE seconds incl. fraction; EXTRACT(epoch FROM …)
    assert(one("SELECT epoch(TIMESTAMP '2024-01-01 00:00:01.5') AS m").getDouble(0) == 1.7040672015e9)
    assert(one("SELECT extract(epoch FROM TIMESTAMP '2024-01-01 00:00:01') AS m").getDouble(0) == 1.704067201e9)
    // --- interval constructors
    assert(one("SELECT CAST(TIMESTAMP '2024-01-02 00:00:00' + to_hours(3) AS STRING) AS m")
      .getString(0).startsWith("2024-01-02 03:00"))
    assert(one("SELECT CAST(DATE '2024-01-01' + to_days(5) AS DATE) AS m")
      .getDate(0).toString == "2024-01-06")
    assert(one("SELECT CAST(DATE '2024-01-01' + to_months(2) AS DATE) AS m")
      .getDate(0).toString == "2024-03-01")
    // --- date_part list form → struct (probed {'year': 2024, 'month': 3})
    val st = one("SELECT date_part(['year','month'], DATE '2024-03-05') AS m").getStruct(0)
    assert(st.getAs[Number]("year").longValue == 2024L && st.getAs[Number]("month").longValue == 3L)
    assert(one("SELECT date_part('year', DATE '2024-03-05') AS m").getAs[Number](0).longValue == 2024L)
    // --- kahan aliases + json aggregates (ordered single-range input)
    assert(one("SELECT fsum(z + 1.5) AS m FROM df").getDouble(0) == 1.5)
    assert(one("SELECT favg(z + 1.5) AS m FROM df").getDouble(0) == 1.5)
    spark.range(3).toDF("i").createOrReplaceTempView("jga")
    assert(SqlStage("s", "SELECT json_group_array(i) AS m FROM jga")
      .apply(spark, spark.table("jga")).collect().head.getString(0) == "[0,1,2]")
    assert(SqlStage("s", "SELECT json_group_object(i, 'v' || i) AS m FROM jga")
      .apply(spark, spark.table("jga")).collect().head.getString(0)
      == """{"0":"v0","1":"v1","2":"v2"}""")
  }

  test("struct_insert/extract, generate_subscripts, sha256, calendar parts (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every expected value is the PROBED duckdb 1.0.0 output
    val st = one("SELECT struct_insert({'a': 1}, b := 2, c := length('xy')) AS m").getStruct(0)
    assert(st.getAs[Number]("a").intValue == 1 && st.getAs[Number]("b").intValue == 2 &&
      st.getAs[Number]("c").intValue == 2)
    // overwrite keeps position, updates value (UpdateFields semantics)
    val ow = one("SELECT struct_insert({'a': 1, 'b': 5}, b := 9) AS m").getStruct(0)
    assert(ow.getAs[Number]("b").intValue == 9)
    assert(one("SELECT struct_extract({'a': 7}, 'a') AS m").getAs[Number](0).intValue == 7)
    // two-param HOF lambdas: DuckDB's index is 1-BASED (probed [1,4])
    assert(one("SELECT list_transform([1,2], (e, i) -> e * i) AS m").getSeq[Int](0) == Seq(1, 4))
    assert(one("SELECT list_filter([10,20,30], (e, i) -> i >= 2) AS m").getSeq[Int](0) == Seq(20, 30))
    assert(one("SELECT list_transform([5,6], e -> e + 1) AS m").getSeq[Int](0) == Seq(6, 7))
    // nested lambda REBINDING the same index name shadows the outer var
    // (ADVICE r13): the inner i shifts exactly once, not twice
    assert(one("SELECT list_transform([[9],[9]], (e, i) -> list_transform(e, (x, i) -> i)) AS m")
      .getSeq[scala.collection.Seq[Int]](0).map(_.toSeq) == Seq(Seq(1), Seq(1)))
    // and an outer-var reference inside a NON-rebinding nested lambda
    // still shifts (bound to the outer index)
    assert(one("SELECT list_transform([[9],[9]], (e, i) -> list_transform(e, x -> i)) AS m")
      .getSeq[scala.collection.Seq[Int]](0).map(_.toSeq) == Seq(Seq(1), Seq(2)))
    assert(one("SELECT generate_subscripts([9,8,7], 1) AS m").getSeq[Int](0) == Seq(1, 2, 3))
    assert(one("SELECT sha256('a') AS m").getString(0)
      == "ca978112ca1bbdcafac231b39a23dc4da786eff8147c4e72b9807785afee48bb")
    assert(one("SELECT century(DATE '2024-03-07') AS m").getLong(0) == 21L)
    assert(one("SELECT decade(DATE '2024-03-07') AS m").getLong(0) == 202L)
    assert(one("SELECT millennium(DATE '2024-03-07') AS m").getLong(0) == 3L)
    // r14 leftovers (probed duckdb 1.0.0)
    assert(one("SELECT list_where([10,20,30], [true,false,true]) AS m")
      .getSeq[Int](0) == Seq(10, 30))
    assert(one("SELECT list_where([10,20], [true]) AS m").getSeq[Int](0) == Seq(10))
    assert(one("SELECT list_select([10,20,30], [3,1]) AS m").getSeq[Int](0) == Seq(30, 10))
    assert(one("SELECT list_select([10,20,30], [4,0,-1,2,2]) AS m")
      .getSeq[Any](0) == Seq(null, null, null, 20, 20))
    assert(one("SELECT array_resize([1,2,3], 5) AS m")
      .getSeq[Any](0) == Seq(1, 2, 3, null, null))
    assert(one("SELECT array_resize([1,2,3], 2) AS m").getSeq[Int](0) == Seq(1, 2))
    assert(one("SELECT array_resize([1,2,3], 0) AS m").getSeq[Int](0) == Seq())
    assert(one("SELECT array_resize([1,2,3], 5, 9) AS m")
      .getSeq[Int](0) == Seq(1, 2, 3, 9, 9))
    assert(one("SELECT nextafter(CAST(1.0 AS DOUBLE), CAST(2.0 AS DOUBLE)) AS m")
      .getDouble(0) == 1.0000000000000002)
    assert(one("SELECT nextafter(CAST(1.0 AS DOUBLE), CAST(0.0 AS DOUBLE)) AS m")
      .getDouble(0) == 0.9999999999999999)
    // gamma/lgamma: Lanczos within round(·, 6) of DuckDB's libm (probed)
    assert(one("SELECT round(gamma(5), 6) AS m").getDouble(0) == 24.0)
    assert(one("SELECT round(gamma(0.5), 6) AS m").getDouble(0) == 1.772454)
    assert(one("SELECT round(gamma(7.5), 6) AS m").getDouble(0) == 1871.254306)
    assert(one("SELECT round(gamma(-0.5), 6) AS m").getDouble(0) == -3.544908)
    assert(one("SELECT round(lgamma(100.5), 6) AS m").getDouble(0) == 361.435540)
    assert(one("SELECT round(lgamma(-0.5), 6) AS m").getDouble(0) == 1.265512)
    val eg = intercept[Exception](one("SELECT gamma(0) AS m"))
    assert(eg.getMessage.contains("gamma") || eg.getCause != null)
  }

  test("caret exponent, log10, left/right negatives, FILTER-over-window, list folds (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // every expected value is the PROBED duckdb 1.0.0 output
    // ^ is EXPONENT (Spark's ^ is XOR — the classic silent wrong)
    assert(one("SELECT 2 ^ 3 AS m").getDouble(0) == 8.0)
    assert(one("SELECT 2 ^ 3 ^ 2 AS m").getDouble(0) == 64.0) // left-assoc
    assert(one("SELECT -2 ^ 2 AS m").getDouble(0) == 4.0)
    assert(one("SELECT 3 * 2 ^ 2 AS m").getDouble(0) == 12.0)
    assert(one("SELECT xor(5, 3) AS m").getAs[Number](0).longValue == 6L)
    // 1-arg log is LOG10 (Spark's is ln); 2-arg log(base, x) agrees
    assert(one("SELECT log(100) AS m").getDouble(0) == 2.0)
    assert(one("SELECT log(2, 8) AS m").getDouble(0) == 3.0)
    // left/right with negative lengths drop from the other end
    assert(one("SELECT left('abcd', -1) AS m").getString(0) == "abc")
    assert(one("SELECT right('abcd', -1) AS m").getString(0) == "bcd")
    assert(one("SELECT left('abcd', 2) AS m").getString(0) == "ab")
    assert(one("SELECT right('abcd', 0) AS m").getString(0) == "")
    assert(one("SELECT right('ab', 5) AS m").getString(0) == "ab")
    // FILTER over a window function rewrites to the CASE-guarded form
    spark.range(4).selectExpr("id AS i").createOrReplaceTempView("fot")
    val fo = SqlStage("s",
      """SELECT i, count(*) FILTER (WHERE i > 0) OVER (ORDER BY i) AS c,
         sum(i) FILTER (WHERE i % 2 = 0) OVER (ORDER BY i) AS s
         FROM fot ORDER BY i""").apply(spark, spark.table("fot")).collect()
    assert(fo.map(_.getLong(1)).toSeq == Seq(0L, 1L, 2L, 3L))
    assert(fo.map(r => if (r.isNullAt(2)) -1L else r.getLong(2)).toSeq == Seq(0L, 0L, 2L, 2L))
    // list folds
    assert(one("SELECT list_reduce([1,2,3], (a, b) -> a + b) AS m")
      .getAs[Number](0).longValue == 6L)
    assert(one("SELECT list_median([1,2,3,10]) AS m").getDouble(0) == 2.5)
    assert(one("SELECT list_median([3,1,2]) AS m").getDouble(0) == 2.0)
    assert(one("SELECT array_pop_back([1,2,3]) AS m").getSeq[Int](0) == Seq(1, 2))
    assert(one("SELECT array_pop_front([1,2,3]) AS m").getSeq[Int](0) == Seq(2, 3))
  }

  test("dot-call chains, histogram, list_grade_up, divide (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // method-call syntax: x.f(a) = f(x, a); chains compose (probed)
    assert(one("SELECT ('abc').upper() AS m").getString(0) == "ABC")
    assert(one("SELECT ('  a ').trim().len() AS m").getAs[Number](0).longValue == 1L)
    assert(one("SELECT 'a,b'.string_split(',').len() AS m").getAs[Number](0).longValue == 2L)
    assert(one("SELECT ([3,1,2]).list_sort() AS m").getSeq[Int](0) == Seq(1, 2, 3))
    // args after the receiver
    assert(one("SELECT ('hello').substring(2, 3) AS m").getString(0) == "ell")
    // histogram: sorted-key map, NULLs skipped (probed {1=1, 2=2})
    spark.sql("SELECT * FROM VALUES (2),(1),(2),(NULL) AS v(x)")
      .createOrReplaceTempView("hgt")
    val h = SqlStage("s", "SELECT histogram(x) AS m FROM hgt")
      .apply(spark, spark.table("hgt")).collect().head.getMap[Int, Long](0)
    assert(h == Map(1 -> 1L, 2 -> 2L))
    val hs = SqlStage("s", "SELECT to_json(histogram(x)) AS m FROM hgt")
      .apply(spark, spark.table("hgt")).collect().head.getString(0)
    assert(hs == """{"1":1,"2":2}""") // keys sorted ascending
    // list_grade_up: 1-based sort indices, NULLs graded FIRST (probed)
    assert(one("SELECT list_grade_up([30,10,20]) AS m").getSeq[Int](0) == Seq(2, 3, 1))
    assert(one("SELECT list_grade_up([30,NULL,20]) AS m").getSeq[Int](0) == Seq(2, 3, 1))
    // divide = the // operator as a function (probed 3 and 3.75)
    assert(one("SELECT divide(7, 2) AS m").getAs[Number](0).longValue == 3L)
    assert(one("SELECT divide(7.5, 2) AS m").getDouble(0) == 3.75)
    // a dot-call that emits a renamed head still gets the native
    // (probed duckdb 1.0.0: 2.0, 'aXb2' (first match only) and 2; DuckDB
    // rejects the bare-literal receiver `'day'.date_diff(...)`, and the
    // parenthesized one leaves its part in a paren group:
    // date_diff(('day'), …))
    assert(one("SELECT (100).log() AS m").getDouble(0) == 2.0)
    assert(one("SELECT ('a1b2').regexp_replace('\\d', 'X') AS m").getString(0) == "aXb2")
    assert(one("SELECT ('day').date_diff(DATE '2024-01-01', DATE '2024-01-03') AS m")
      .getLong(0) == 2L)
  }

  test("rewrite passes are loops: thousands of occurrences neither overflow nor rescan") {
    // one statement of 4000 copies per unit, rewritten on a thread with
    // the JVM-default 1 MB stack whatever the runner's -Xss, must be the
    // unit's own rewrite 4000 times: every unit kind of the rewriter's
    // scaling table (with the head its rewrite writes), plus one whose
    // second splice starts before the first one's resume point
    val units = Seq("c" -> "c", "log(c)" -> "duck_log(",
      "regexp_replace(s, 'a', 'b')" -> "duck_regexp_replace(",
      "format('{} x', c)" -> "graft_fmt_spec(", "{'k': c}" -> "named_struct(",
      "datediff('day', d, e)" -> "graft_date_diff(", "j->>'k'" -> "get_json_object(",
      "c ^ 2" -> "power(", "c // 2" -> "graft_ddiv(", "c ** 2" -> "power(",
      "[c, 1]" -> "array(", "c::INTEGER" -> "duck_iround(", "s.trim()" -> "trim(",
      "j -> 'k'" -> "variant_get(", "(c ** 2) ** 3" -> "power((power(")
    val n = 4000
    @volatile var failure: Throwable = null
    val body: Runnable = () =>
      try units.foreach { case (unit, head) =>
        val item = GraftSqlParser.rewriteAll(s"SELECT $unit FROM t")
          .stripPrefix("SELECT ").stripSuffix(" FROM t")
        assert(item.contains(head), s"unit $unit: $item")
        val out = GraftSqlParser.rewriteAll(Seq.fill(n)(unit).mkString("SELECT ", ", ", " FROM t"))
        assert(out == Seq.fill(n)(item).mkString("SELECT ", ", ", " FROM t"), s"unit $unit")
      } catch { case e: Throwable => failure = e }
    val t = new Thread(null, body, "rewrite-wide", 1L << 20)
    t.start()
    t.join()
    failure match {
      case null =>
      case e: org.scalatest.exceptions.TestFailedException => throw e
      case e => fail(s"rewriteAll threw $e", e)
    }
  }

  test("a double-quoted identifier is one token: no quote, comment or ';' inside it changes state") {
    import GraftSqlParser._
    assert(rewriteAll("""SELECT "it's" AS x, 2 ** 3 AS y FROM t""") ==
      "SELECT `it's` AS x, power(2, 3) AS y FROM t")
    assert(rewriteAll("""SELECT "it's", regexp_replace(s, '\d', 'X') FROM t""") ==
      """SELECT `it's`, duck_regexp_replace(s, '\\d', 'X') FROM t""")
    assert(rewriteAll("""SELECT "a--b", 7 // 2 FROM t""") == "SELECT `a--b`, graft_ddiv(7, 2) FROM t")
    assert(splitStatements("SELECT 1 AS \"a;b\" FROM t") == Seq("SELECT 1 AS \"a;b\" FROM t"))
    assert(rewriteAll("""SELECT "x**y" FROM t""") == "SELECT `x**y` FROM t")
  }

  test("a double-quoted identifier reaches Spark as the column it names") {
    import spark.implicits._
    // DuckDB reads "id" as the column; Spark's default dialect would read
    // it as the string 'id'
    assert(spark.sql(GraftSqlParser.rewriteAll("""SELECT "id" AS x FROM range(2)"""))
      .collect().map(_.getLong(0)).toSeq == Seq(0L, 1L))
    val df = Seq(("Ann", 1, 2)).toDF("first name", "it's", "a`b")
    val out = SqlStage("q", """SELECT "first name" AS n, "it's" + 1 AS a, "a`b" AS b, "a""b" IS NULL AS c FROM (SELECT *, NULL AS `a"b` FROM df)""")
      .apply(spark, df).collect().head
    assert(out.toSeq == Seq("Ann", 2, 2, true))
    // a quoted or CASE operand of an integral `::` cast rounds as DuckDB does
    val cast = SqlStage("q", """SELECT "v"::INTEGER AS a, "t"."v"::INTEGER AS b,
      CASE WHEN v > 0 THEN v END::INTEGER AS c FROM (SELECT 2.5 AS v) t""")
      .apply(spark, df).collect().head
    assert(cast.toSeq == Seq(3, 3, 3))
  }

  test("UPDATE ... FROM and RETURNING execute with DuckDB semantics (r13)") {
    val df = spark.range(1).toDF("z")
    def run(sql: String) = SqlStage("s", sql).apply(spark, df).collect()
    run("""CREATE OR REPLACE TEMP TABLE uft AS
      SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) v(k, x)""")
    run("""CREATE OR REPLACE TEMP TABLE ufs AS
      SELECT * FROM (VALUES (1, 100), (1, 200), (2, 300)) v(k, y)""")
    // joined update; k=1 is over-matched — DuckDB takes an arbitrary
    // match (probed: that run picked 100), so assert MEMBERSHIP there
    val cnt = run("UPDATE uft SET x = ufs.y FROM ufs WHERE uft.k = ufs.k")
    assert(cnt.head.getLong(0) == 2L) // matched target rows
    val after = run("SELECT k, x FROM uft ORDER BY k").map(r => (r.getInt(0), r.getInt(1)))
    assert(Set(100, 200).contains(after(0)._2))
    assert(after(1) == ((2, 300)) && after(2) == ((3, 30)))
    // both-side expressions + an extra predicate (probed: only k=1)
    run("""CREATE OR REPLACE TEMP TABLE uf3 AS
      SELECT * FROM (VALUES (1, 10), (2, 20), (3, 30)) v(k, x)""")
    run("UPDATE uf3 SET x = uf3.x + ufs.y FROM ufs WHERE uf3.k = ufs.k AND ufs.y = 200")
    assert(run("SELECT x FROM uf3 ORDER BY k").map(_.getInt(0)).toSeq == Seq(210, 20, 30))
    // RETURNING: INSERT returns rows-as-inserted, expressions + aliases;
    // UPDATE returns POST-assignment values; DELETE returns OLD rows
    val ins = run("INSERT INTO uf3 VALUES (5, 50), (6, 60) RETURNING k, x * 2 AS d")
    assert(ins.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((5, 100), (6, 120)))
    val upd = run("UPDATE uf3 SET x = x + 1 WHERE k = 5 RETURNING k, x")
    assert(upd.map(r => (r.getInt(0), r.getInt(1))).toSeq == Seq((5, 51)))
    val del = run("DELETE FROM uf3 WHERE k >= 5 RETURNING *")
    assert(del.map(r => (r.getInt(0), r.getInt(1))).toSet == Set((5, 51), (6, 60)))
    assert(run("SELECT count(*) AS n FROM uf3").head.getLong(0) == 3L)
    // guided: RETURNING over an upsert action
    run("CREATE OR REPLACE TEMP TABLE ufp (k INT PRIMARY KEY, x INT)")
    val e = intercept[DuckDialectException](run(
      "INSERT INTO ufp VALUES (1, 1) ON CONFLICT DO NOTHING RETURNING k"))
    assert(e.getMessage.contains("RETURNING with ON CONFLICT"))
  }

  test("date/time probe-batch: time_bucket, boundary date_diff, datesub, small math (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // time_bucket: origin 2000-01-03 (probed: the 7-hour bucket of the
    // origin is itself; pre-origin floors into negative buckets)
    def ts(sql: String) = one(s"SELECT strftime($sql, '%Y-%m-%d %H:%M') AS m").getString(0)
    assert(ts("time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-01-01 10:23:45')")
      == "2024-01-01 10:15")
    assert(ts("time_bucket(INTERVAL '7 hours', TIMESTAMP '2000-01-03 00:00:00')")
      == "2000-01-03 00:00")
    assert(ts("time_bucket(INTERVAL '7 hours', TIMESTAMP '1999-12-31 23:00:00')")
      == "1999-12-31 23:00")
    assert(ts("time_bucket(INTERVAL '2 months', TIMESTAMP '2024-03-15 10:00:00')")
      == "2024-03-01 00:00")
    // DATE inputs bucket their midnight and return DATE (probed)
    assert(one("SELECT time_bucket(INTERVAL '7 days', DATE '2024-03-05') AS m")
      .getDate(0).toString == "2024-03-04")
    assert(one("SELECT time_bucket(INTERVAL '2 months', DATE '2024-02-15') AS m")
      .getDate(0).toString == "2024-01-01")
    // date_diff counts BOUNDARY CROSSINGS; datesub counts COMPLETE units
    assert(one("SELECT date_diff('month', DATE '2024-01-31', DATE '2024-02-01') AS m")
      .getLong(0) == 1L)
    assert(one("SELECT date_diff('hour', TIMESTAMP '2024-01-01 00:59:00', TIMESTAMP '2024-01-01 01:01:00') AS m")
      .getLong(0) == 1L)
    assert(one("SELECT datesub('hour', TIMESTAMP '2024-01-01 00:59:00', TIMESTAMP '2024-01-01 01:01:00') AS m")
      .getLong(0) == 0L)
    assert(one("SELECT date_diff('week', DATE '2024-03-03', DATE '2024-03-04') AS m")
      .getLong(0) == 1L) // Sunday -> Monday crosses the ISO week boundary
    assert(one("SELECT date_diff('month', DATE '2024-03-01', DATE '2024-01-31') AS m")
      .getLong(0) == -2L)
    assert(one("SELECT date_diff('day', TIMESTAMP '2024-01-01 23:00:00', TIMESTAMP '2024-01-02 01:00:00') AS m")
      .getLong(0) == 1L)
    // Spark's own unquoted form stays native (parser-level timestampdiff)
    assert(one("SELECT date_diff(DAY, DATE '2024-01-01', DATE '2024-03-05') AS m")
      .getLong(0) == 64L)
    // dayname/monthname FULL names; isodow Monday=1..Sunday=7
    assert(one("SELECT dayname(DATE '2024-03-05') AS a, monthname(DATE '2024-03-05') AS b")
      .toSeq == Seq("Tuesday", "March"))
    assert(one("SELECT isodow(DATE '2024-03-05') AS a, isodow(DATE '2024-03-10') AS b")
      .toSeq == Seq(2L, 7L))
    assert(one("SELECT epoch_ns(TIMESTAMP '2024-01-01 00:00:01') AS m")
      .getLong(0) == 1704067201000000000L)
    // small math (probed): gcd sign-insensitive, lcm(0, x) = 0, even
    // rounds AWAY from zero to the next even
    assert(one("SELECT greatest_common_divisor(-12, 18) AS a, lcm(4, 6) AS b, " +
      "least_common_multiple(0, 5) AS c").toSeq == Seq(6L, 12L, 0L))
    assert(one("SELECT even(2.5) AS a, even(-2.5) AS b, even(2.0) AS c, even(3) AS d")
      .toSeq == Seq(4.0, -4.0, 2.0, 4.0))
    // 3-arg time_bucket EXECUTES since r14 (probed duckdb 1.0.0):
    // OFFSET form = shift-bucket-unshift
    assert(ts("time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-03-08 10:07:00', INTERVAL '5 minutes')")
      == "2024-03-08 10:05")
    assert(ts("time_bucket(INTERVAL '1 day', TIMESTAMP '2024-03-08 10:00:00', INTERVAL '-3 hours')")
      == "2024-03-07 21:00")
    assert(ts("time_bucket(INTERVAL '1 month', TIMESTAMP '2024-03-08 10:00:00', INTERVAL '10 days')")
      == "2024-02-11 00:00")
    // month offset on a fixed width (calendar shift, clamped)
    assert(ts("time_bucket(INTERVAL '15 minutes', TIMESTAMP '2024-03-08 10:07:00', INTERVAL '1 month')")
      == "2024-03-08 10:00")
    // DATE input keeps DATE, truncating like DuckDB's cast
    assert(one("SELECT time_bucket(INTERVAL '1 day', DATE '2024-03-08', INTERVAL '3 hours') AS m")
      .getDate(0).toString == "2024-03-07")
    // ORIGIN form: fixed widths floor in pure micros from the origin
    // (its time-of-day survives); month widths use month-index
    // arithmetic, origin day/time DISCARDED; ts before origin floors
    assert(ts("time_bucket(INTERVAL '7 days', TIMESTAMP '2024-03-08 10:00:00', TIMESTAMP '2024-01-01 07:30:00')")
      == "2024-03-04 07:30")
    assert(ts("time_bucket(INTERVAL '7 days', TIMESTAMP '2023-12-25 00:00:00', TIMESTAMP '2024-01-04 00:00:00')")
      == "2023-12-21 00:00")
    assert(ts("time_bucket(INTERVAL '1 month', TIMESTAMP '2024-03-08 10:00:00', TIMESTAMP '2000-06-15 07:30:00')")
      == "2024-03-01 00:00")
    // date+date origin stays DATE; ts-origin promotes DATE to TIMESTAMP
    assert(one("SELECT time_bucket(INTERVAL '7 days', DATE '2024-03-08', DATE '2024-01-04') AS m")
      .getDate(0).toString == "2024-03-07")
    assert(one("SELECT time_bucket(INTERVAL '2 months', DATE '2000-01-10', DATE '2000-02-15') AS m")
      .getDate(0).toString == "1999-12-01")
    assert(ts("time_bucket(INTERVAL '7 days', DATE '2024-03-08', TIMESTAMP '2024-01-04 07:30:00')")
      == "2024-03-07 07:30")
    // mad EXECUTES since r14: interpolated median of |x - median|
    assert(one("SELECT mad(x) AS m FROM (VALUES (1.0), (2.0), (4.0), (10.0)) v(x)")
      .getDouble(0) == 1.5)
    assert(one("SELECT mad(x) AS m FROM (VALUES (1.0), (NULL), (4.0)) v(x)")
      .getDouble(0) == 1.5)
    assert(one("SELECT mad(x) AS m FROM (VALUES (CAST(NULL AS DOUBLE))) v(x)")
      .isNullAt(0))
    // guided error: unknown datepart
    val e2 = intercept[DuckDialectException](one(
      "SELECT date_diff('fortnight', DATE '2024-01-01', DATE '2024-03-05') AS m"))
    assert(e2.getMessage.contains("datepart"))
  }

  test("string-similarity natives match probed DuckDB values (r13)") {
    val df = spark.range(1).toDF("z")
    def one(sql: String) = SqlStage("s", sql).apply(spark, df).collect().head
    // all expected values PROBED against duckdb 1.0.0 — the family is
    // byte-based there (hamming('âb','ab') errors though codepoint
    // counts match; damerau('âa','aâ') = 2, not the codepoint 1)
    assert(one("SELECT jaccard('duck', 'luck') AS m").getDouble(0) == 0.6)
    assert(one("SELECT jaccard('aab', 'ab') AS m").getDouble(0) == 1.0) // sets
    assert(one("SELECT jaccard('abcd', 'bc') AS m").getDouble(0) == 0.5)
    assert(one("SELECT hamming('duck', 'luck') AS m").getLong(0) == 1L)
    assert(one("SELECT mismatches('âx', 'ây') AS m").getLong(0) == 1L)
    assert(one("SELECT jaro_similarity('duck', 'luck') AS m").getDouble(0)
      == 0.8333333333333334)
    assert(one("SELECT jaro_winkler_similarity('martha', 'marhta') AS m").getDouble(0)
      == 0.9611111111111111)
    assert(one("SELECT jaro_winkler_similarity('dwayne', 'duane') AS m").getDouble(0)
      == 0.8400000000000001)
    assert(one("SELECT jaro_winkler_similarity('dixon', 'dicksonx') AS m").getDouble(0)
      == 0.8133333333333332)
    // boost only above the 0.7 threshold (probed: unchanged at 0.477)
    assert(one("SELECT jaro_winkler_similarity('abqqqqqq', 'abzzzzzzyyy') AS m")
      .getDouble(0) == 0.4772727272727273)
    // FULL Damerau-Levenshtein, not OSA: CA→ABC is 2
    assert(one("SELECT damerau_levenshtein('CA', 'ABC') AS m").getLong(0) == 2L)
    assert(one("SELECT damerau_levenshtein('ca', 'ac') AS m").getLong(0) == 1L)
    assert(one("SELECT damerau_levenshtein('kitten', 'sitting') AS m").getLong(0) == 3L)
    assert(one("SELECT damerau_levenshtein('âa', 'aâ') AS m").getLong(0) == 2L) // bytes
    assert(one("SELECT damerau_levenshtein('', 'abc') AS m").getLong(0) == 3L)
    assert(one("SELECT strip_accents('âéïõü mühlen') AS m").getString(0) == "aeiou muhlen")
    assert(one("SELECT length(nfc_normalize('é')) AS m").getInt(0) == 1)
    // NULLs propagate; DuckDB's loud edges stay loud
    assert(one("SELECT jaccard(CAST(NULL AS STRING), 'a') AS m").isNullAt(0))
    val e1 = intercept[Exception](one("SELECT hamming('ab', 'abc') AS m"))
    assert(e1.getMessage != null)
    val e2 = intercept[Exception](one("SELECT jaccard('', 'a') AS m"))
    assert(e2.getMessage != null)
  }

  test("upsert model fuzz: 120 random DML ops track an in-memory reference (r13)") {
    // model-based fuzz over the typed-table DML surface: every random
    // statement runs through SqlStage AND a driver-side Map model; the
    // returned Count must equal the model's affected-row count after
    // EVERY op, and the full table must equal the model's state at
    // checkpoints — a drift anywhere in executeInsert (alignment,
    // default fill, conflict resolution, WHERE gating, count
    // semantics) breaks the equality on some sampled sequence.
    val df = spark.range(1).toDF("z")
    def run(sql: String) = SqlStage("s", sql).apply(spark, df)
    run("""CREATE OR REPLACE TEMP TABLE fzups (
           k INTEGER PRIMARY KEY, v VARCHAR, w INTEGER DEFAULT 5)""")
    val model = scala.collection.mutable.Map.empty[Int, (String, Int)]
    val rnd = new scala.util.Random(20260815)
    def rows(n: Int): Seq[(Int, String, Int)] = {
      val ks = rnd.shuffle((0 to 15).toList).take(n)
      ks.map(k => (k, s"s${rnd.nextInt(9)}", rnd.nextInt(20)))
    }
    def vals(rs: Seq[(Int, String, Int)], cols2: Boolean): String =
      rs.map { case (k, v, w) =>
        if (cols2) s"($k, '$v')" else s"($k, '$v', $w)" }.mkString(", ")
    var checks = 0
    for (op <- 1 to 120) {
      val rs = rows(1 + rnd.nextInt(3))
      val (sql, expect: Long) = rnd.nextInt(6) match {
        case 0 => // plain full-width insert over FRESH keys only
          val fresh = rs.filterNot(r => model.contains(r._1))
          fresh.foreach(r => model(r._1) = (r._2, r._3))
          if (fresh.isEmpty) ("", 0L)
          else (s"INSERT INTO fzups VALUES ${vals(fresh, cols2 = false)}", fresh.size.toLong)
        case 1 => // column-list insert, DEFAULT w, fresh keys
          val fresh = rs.filterNot(r => model.contains(r._1))
          fresh.foreach(r => model(r._1) = (r._2, 5))
          if (fresh.isEmpty) ("", 0L)
          else (s"INSERT INTO fzups (k, v) VALUES ${vals(fresh, cols2 = true)}", fresh.size.toLong)
        case 2 => // DO NOTHING: conflicts skipped
          val fresh = rs.filterNot(r => model.contains(r._1))
          fresh.foreach(r => model(r._1) = (r._2, r._3))
          (s"INSERT INTO fzups VALUES ${vals(rs, cols2 = false)} ON CONFLICT DO NOTHING",
            fresh.size.toLong)
        case 3 => // OR REPLACE, partial column list: w keeps OLD or DEFAULT
          rs.foreach { case (k, v, _) =>
            model(k) = (v, model.get(k).map(_._2).getOrElse(5)) }
          (s"INSERT OR REPLACE INTO fzups (k, v) VALUES ${vals(rs, cols2 = true)}",
            rs.size.toLong)
        case 4 => // DO UPDATE with excluded + old-row arithmetic
          rs.foreach { case (k, v, w) =>
            model(k) = model.get(k).map { case (_, ow) => (v, ow + w) }
              .getOrElse((v, w)) }
          (s"INSERT INTO fzups VALUES ${vals(rs, cols2 = false)} ON CONFLICT (k) " +
            "DO UPDATE SET v = excluded.v, w = fzups.w + excluded.w",
            rs.size.toLong)
        case _ => // conditional DO UPDATE: WHERE-false keeps old, uncounted
          val cut = rnd.nextInt(25)
          var n = 0L
          rs.foreach { case (k, v, w) =>
            model.get(k) match {
              case Some((_, ow)) => if (ow < cut) { model(k) = (v, w); n += 1 }
              case None => model(k) = (v, w); n += 1
            } }
          (s"INSERT INTO fzups VALUES ${vals(rs, cols2 = false)} ON CONFLICT (k) " +
            s"DO UPDATE SET v = excluded.v, w = excluded.w WHERE fzups.w < $cut", n)
      }
      if (sql.nonEmpty) {
        val got = run(sql).collect().head.getLong(0)
        assert(got == expect, s"op $op count: got $got want $expect\n$sql")
      }
      if (op % 30 == 0) {
        val got = run("SELECT k, v, w FROM fzups ORDER BY k").collect()
          .map(r => (r.getInt(0), (r.getString(1), r.getInt(2)))).toMap
        assert(got == model.toMap, s"state drift at op $op")
        checks += 1
      }
    }
    assert(checks == 4 && model.nonEmpty)
  }

  test("COPY/read_* option fuzz: comments, quoted delimiters and brace literals (r13)") {
    import org.apache.spark.sql.functions.col
    // VERDICT r12 #6: the r12 statement surface's interaction classes —
    // COPY TO/FROM option lists carrying embedded comments (with
    // semicolons) and QUOTED delimiter characters that double as
    // statement/argument separators (';', ','), composed with read_csv
    // brace-literal column specs and skip — fuzzed as full write→load→
    // read round-trips whose value equality is the assertion.
    val df = spark.range(1, 9).toDF("id")
      .withColumn("v", col("id") * 7)
      .withColumn("s", org.apache.spark.sql.functions.concat(
        org.apache.spark.sql.functions.lit("r"), col("id")))
    val want = (1L to 8L).map(i => (i, i * 7, s"r$i"))
    val delims = Seq("|", ";", ",", "\t", "^")
    val comments = Seq("/* c; with ; semis */ ", "-- line; comment\n", "")
    val rnd = new scala.util.Random(20260814)
    val base = Files.createTempDirectory("graft-copyfuzz").toString
    for (trial <- 1 to 60) {
      val d = delims(rnd.nextInt(delims.size))
      val c1 = comments(rnd.nextInt(3))
      val c2 = comments(rnd.nextInt(3))
      val header = rnd.nextBoolean()
      val p = s"$base/t$trial.csv"
      val dq = if (d == "\t") "\\t" else d
      // write with a quoted delimiter + comment inside the option list
      SqlStage("s",
        s"""COPY (SELECT id, v, s FROM df) TO '$p'
            (FORMAT CSV, ${c1}HEADER $header, DELIMITER '$dq')""").apply(spark, df)
      // load back two ways: COPY FROM into a seeded temp table, and a
      // read_csv leg with a brace-literal columns spec (+ skip when the
      // file has a header row to drop as data)
      val viaCopy = SqlStage("s",
        s"""CREATE OR REPLACE TEMP TABLE fz_t$trial AS
              SELECT CAST(id AS BIGINT) AS id, CAST(v AS BIGINT) AS v,
                     CAST(s AS STRING) AS s FROM df WHERE id < 0;
            ${c2}COPY fz_t$trial FROM '$p' (FORMAT CSV, HEADER $header, DELIMITER '$dq');
            SELECT id, v, s FROM fz_t$trial ORDER BY id""").apply(spark, df)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(viaCopy == want, s"trial $trial COPY FROM (delim '$d' header $header)")
      val readLeg =
        if (header)
          s"""SELECT id, v, s FROM read_csv('$p', delim = '$dq', ${c1}header = false,
                skip = 1, columns = {'id': 'BIGINT', 'v': 'BIGINT', 's': 'VARCHAR'})
              ORDER BY id"""
        else
          s"""SELECT id, v, s FROM read_csv('$p', ${c2}delim = '$dq', header = false,
                columns = {'id': 'BIGINT', 'v': 'BIGINT', 's': 'VARCHAR'})
              ORDER BY id"""
      val viaRead = SqlStage("s", readLeg).apply(spark, df)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
      assert(viaRead == want, s"trial $trial read_csv (delim '$d' header $header)")
    }
  }
  // ---- r15 sweep-7 closures ----
  test("reservoir(n ROWS) executes as a deterministic exact-n sample") {
    def run(sql: String): Set[Long] =
      SqlStage("s", sql).apply(spark, spark.range(500).toDF("id"))
        .collect().map(_.getLong(0)).toSet
    val a = run("SELECT * FROM df USING SAMPLE reservoir(50 ROWS) REPEATABLE (42)")
    val b = run("SELECT * FROM df USING SAMPLE reservoir(50 ROWS) REPEATABLE (42)")
    assert(a.size == 50 && a == b && a.forall(x => x >= 0 && x < 500))
    // size-first spelling draws the same set for the same seed
    val c = run("SELECT * FROM df USING SAMPLE 50 (reservoir, 42)")
    val d = run("SELECT * FROM df USING SAMPLE 50 ROWS (reservoir, 42)")
    assert(c == a && d == a)
    // a different seed draws a different set; unseeded is stable
    val e = run("SELECT * FROM df USING SAMPLE reservoir(50 ROWS) REPEATABLE (7)")
    assert(e != a && e.size == 50)
    assert(run("SELECT * FROM df USING SAMPLE reservoir(50 ROWS)") ==
      run("SELECT * FROM df USING SAMPLE reservoir(50 ROWS)"))
    // draws from the base relation BEFORE the WHERE (r16 correction,
    // probed duckdb 1.0.0: `WHERE p USING SAMPLE reservoir(n ROWS)`
    // returns ≤ n rows — the filter prunes the drawn sample)
    val f = run("SELECT * FROM df WHERE id < 60 USING SAMPLE reservoir(50 ROWS) REPEATABLE (42)")
    assert(f.size < 50 && f.nonEmpty && f.forall(_ < 60), s"n=${f.size}")
    // oversampling the base returns every filtered row
    assert(run("SELECT * FROM df WHERE id < 30 USING SAMPLE reservoir(500 ROWS)").size == 30)
    // plan shape: bounded top-n (per-partition heaps + driver merge),
    // never a global sort — the 100 TB posture of the hash-sample
    val plan = SqlStage("s", "SELECT * FROM df USING SAMPLE reservoir(50 ROWS) REPEATABLE (42)")
      .apply(spark, spark.range(500).toDF("id"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"), plan.take(400))
    assert(!plan.contains("SortExec"), plan.take(400))
  }

  test("USING SAMPLE under aggregation refuses loudly (DuckDB samples first)") {
    // DuckDB probes: SELECT count(*) FROM t USING SAMPLE 5 ROWS = 5 —
    // the block-wrap rewrite would evaluate the aggregate FIRST, so
    // aggregate/DISTINCT/GROUP BY/window blocks refuse with the
    // FROM-subquery form named instead of silently diverging
    val df = spark.range(100).toDF("id")
    for (sql <- Seq(
      "SELECT count(*) AS n FROM df USING SAMPLE 5 ROWS",
      "SELECT count(*) AS n FROM df USING SAMPLE reservoir(5 ROWS)",
      "SELECT round(sum(id), 2) AS s FROM df USING SAMPLE 50%",
      "SELECT id % 2 AS g, count(*) AS n FROM df GROUP BY g USING SAMPLE 10 ROWS",
      "SELECT DISTINCT id % 3 FROM df USING SAMPLE 6 ROWS",
      "SELECT sum(id) OVER () AS w FROM df USING SAMPLE 5 ROWS")) {
      val e = intercept[Exception](SqlStage("s", sql).apply(spark, df).collect())
      assert(e.getMessage.contains("FROM subquery"), s"$sql -> ${e.getMessage.take(120)}")
    }
    // the named workaround executes: sample inside a FROM subquery
    val n = SqlStage("s",
      "SELECT count(*) AS n FROM (SELECT * FROM df USING SAMPLE reservoir(5 ROWS)) t")
      .apply(spark, df).collect().head.getLong(0)
    assert(n == 5L)
    // scalar subqueries in the select list do NOT trigger the guard
    val ok = SqlStage("s",
      "SELECT id, (SELECT count(*) FROM df) AS tot FROM df USING SAMPLE 5 ROWS")
      .apply(spark, df).collect()
    assert(ok.length == 5 && ok.head.getLong(1) == 100L)
    // a leading WITH clause must not hide a top-level DISTINCT; a
    // CTE-internal aggregate stays inert
    val e2 = intercept[Exception](SqlStage("s",
      "WITH c AS (SELECT count(*) AS n FROM df) SELECT DISTINCT id % 3 FROM df USING SAMPLE 6 ROWS")
      .apply(spark, df).collect())
    assert(e2.getMessage.contains("FROM subquery"))
    val cteOk = SqlStage("s",
      "WITH c AS (SELECT count(*) AS n FROM df) SELECT id FROM df USING SAMPLE 5 ROWS")
      .apply(spark, df).collect()
    assert(cteOk.length == 5)
  }

  test("sub-minute millisecond/microsecond and session timezone parts (probed)") {
    assert(one("SELECT millisecond(TIMESTAMP '2024-01-15 13:31:05.123456') AS m").getLong(0) == 5123L)
    assert(one("SELECT microsecond(TIMESTAMP '2024-01-15 13:31:05.123456') AS m").getLong(0) == 5123456L)
    assert(one("SELECT millisecond(TIME '13:30:05.123456') AS m").getLong(0) == 5123L)
    assert(one("SELECT microsecond(make_time(1, 2, 3.254321)) AS m").getLong(0) == 3254321L)
    assert(one("SELECT millisecond(DATE '2024-01-15' ) AS m").getLong(0) == 0L)
    // UTC session: offset 0 at every part
    assert(one("SELECT timezone(TIMESTAMP '2024-01-15 13:30:05') AS m").getLong(0) == 0L)
    assert(one("SELECT timezone_hour(TIMESTAMP '2024-01-15 13:30:05') AS m").getLong(0) == 0L)
    assert(one("SELECT timezone_minute(TIMESTAMP '2024-01-15 13:30:05') AS m").getLong(0) == 0L)
  }

  test("TIME family: literals, make_time, parts, casts (Spark 4.1 TimeType)") {
    assert(one("SELECT CAST(TIME '13:30:05' AS STRING) AS m").getString(0) == "13:30:05")
    assert(one("SELECT hour(TIME '13:30:05') AS m").getInt(0) == 13)
    assert(one("SELECT minute(make_time(13, 30, 5.5)) AS m").getInt(0) == 30)
    assert(one("SELECT second(make_time(1, 2, 3.75)) AS m").getInt(0) == 3)
    // the dialect claims CAST(x AS VARCHAR) spellings (rewriteCastTypeNames)
    assert(SqlStage("s", "SELECT CAST(make_time(1, 2, 3.0) AS VARCHAR) AS m")
      .apply(spark, spark.range(1).toDF("z")).collect().head.getString(0) == "01:02:03")
    assert(SqlStage("s", "SELECT CAST(42 AS VARCHAR) AS m, 1 AS text")
      .apply(spark, spark.range(1).toDF("z")).collect().head.getString(0) == "42")
    // ::VARCHAR spelling too; and aliases named like types stay aliases
    assert(SqlStage("s", "SELECT 42::VARCHAR AS m")
      .apply(spark, spark.range(1).toDF("z")).collect().head.getString(0) == "42")
    assert(one("SELECT strftime(make_timestamptz(2024, 1, 15, 13, 30, 5.5), '%Y-%m-%d %H:%M:%S') AS m")
      .getString(0) == "2024-01-15 13:30:05")
  }

  test("sweep-7 scalar closures match the DuckDB probes") {
    assert(one("SELECT add(7) AS m").getInt(0) == 7)
    assert(one("SELECT subtract(7) AS m").getInt(0) == -7)
    assert(one("SELECT add(2, 3) AS m").getInt(0) == 5)
    // like_escape family: escape may precede ANY char in DuckDB
    assert(!one("SELECT like_escape('abc', 'abc', 'a') AS m").getBoolean(0))
    assert(one("SELECT like_escape('bc', 'abc', 'a') AS m").getBoolean(0))
    assert(one("SELECT like_escape('a%c', 'a\\\\%c', '\\\\') AS m").getBoolean(0))
    assert(!one("SELECT like_escape('axc', 'a\\\\%c', '\\\\') AS m").getBoolean(0))
    assert(one("SELECT ilike_escape('BC', 'abc', 'a') AS m").getBoolean(0))
    assert(one("SELECT not_like_escape('x', 'abc', 'a') AS m").getBoolean(0))
    // DuckDB 1.0.0 (probed): a pattern ending in an unpaired escape errors
    val trailEsc = intercept[Exception](
      one("SELECT like_escape('ab', 'aba', 'a') AS m"))
    assert(trailEsc.getMessage.contains("must not end with escape character"))
    // list_resize: 2-arg NULL pad, 3-arg fill, truncation
    assert(one("SELECT list_resize(array(1, 2, 3), 5, 9) AS m").getSeq[Int](0) == Seq(1, 2, 3, 9, 9))
    assert(one("SELECT list_resize(array(1, 2, 3), 2) AS m").getSeq[Int](0) == Seq(1, 2))
    assert(one("SELECT list_resize(array(1), 3) AS m").getSeq[Any](0) == Seq(1, null, null))
    // cross product (probed: [1,2,3]x[4,5,6] = [-3,6,-3])
    assert(one("SELECT array_cross_product(array(1.0,2.0,3.0), array(4.0,5.0,6.0)) AS m")
      .getSeq[Double](0) == Seq(-3.0, 6.0, -3.0))
    // polymorphic length
    assert(one("SELECT length(array(1,2,3)) AS m").getInt(0) == 3)
    assert(one("SELECT length('abcd') AS m").getInt(0) == 4)
    // bar: eighth blocks + byte-length padding (probed values)
    assert(one("SELECT bar(2.5, 0, 10, 8) AS m").getString(0) == "██  ")
    assert(one("SELECT bar(0, 0, 10, 8) AS m").getString(0) == "        ")
    assert(one("SELECT bar(1, 0, 3, 7) AS m").getString(0) == "██▎")
    assert(one("SELECT bar(1.99, 0, 16, 8) AS m").getString(0) == "▉     ")
    assert(one("SELECT bar(1, 0, 16, 8) AS m").getString(0) == "▌     ")
    assert(one("SELECT bar(5, 10, 0, 8) AS m").getString(0) == "        ")
    assert(one("SELECT bar(3, 0, 10) AS m").getString(0).length == 32)
    assert(one("SELECT epoch_ns(TIMESTAMP '2024-01-15 13:30:05.123456') AS m").getLong(0) == 1705325405123456000L)
  }

  test("json_array/json_object()/json_structure/json_contains (probed)") {
    assert(one("SELECT json_object() AS m").getString(0) == "{}")
    assert(one("SELECT json_array() AS m").getString(0) == "[]")
    assert(one("SELECT json_array(7, 'a', NULL) AS m").getString(0) == "[7,\"a\",null]")
    assert(one("SELECT json_array(array(1, 2)) AS m").getString(0) == "[[1,2]]")
    assert(one("SELECT json_structure('{\"a\": 1, \"b\": [1.5]}') AS m").getString(0)
      == "{\"a\":\"UBIGINT\",\"b\":[\"DOUBLE\"]}")
    assert(one("SELECT json_structure('[1, \"a\"]') AS m").getString(0) == "[\"JSON\"]")
    assert(one("SELECT json_structure('{}') AS m").getString(0) == "\"JSON\"")
    assert(one("SELECT json_structure('[]') AS m").getString(0) == "[\"NULL\"]")
    assert(one("SELECT json_structure('{\"a\": {\"b\": [true]}}') AS m").getString(0)
      == "{\"a\":{\"b\":[\"BOOLEAN\"]}}")
    // r16 refinement pins (each probed on duckdb 1.0.0): NULL coalesces
    // into siblings, integral kinds widen, objects merge by key union.
    assert(one("SELECT json_structure('[1, 2.5]') AS m").getString(0) == "[\"DOUBLE\"]")
    assert(one("SELECT json_structure('[\"a\", null]') AS m").getString(0) == "[\"VARCHAR\"]")
    assert(one("SELECT json_structure('[1, -1]') AS m").getString(0) == "[\"BIGINT\"]")
    assert(one("SELECT json_structure('[1, null]') AS m").getString(0) == "[\"UBIGINT\"]")
    assert(one("SELECT json_structure('[{\"a\":1},{\"a\":2.5}]') AS m").getString(0)
      == "[{\"a\":\"DOUBLE\"}]")
    assert(one("SELECT json_structure('[{\"a\":1,\"c\":3},{\"b\":2,\"a\":9.5}]') AS m").getString(0)
      == "[{\"a\":\"DOUBLE\",\"c\":\"UBIGINT\",\"b\":\"UBIGINT\"}]")
    assert(one("SELECT json_structure('[{\"a\":{\"b\":1}},{\"a\":{\"c\":2.5}}]') AS m").getString(0)
      == "[{\"a\":{\"b\":\"UBIGINT\",\"c\":\"DOUBLE\"}}]")
    assert(one("SELECT json_structure('[[],[1]]') AS m").getString(0) == "[[\"UBIGINT\"]]")
    assert(one("SELECT json_structure('[[1],[2.5]]') AS m").getString(0) == "[[\"DOUBLE\"]]")
    assert(one("SELECT json_structure('[null,{\"a\":1}]') AS m").getString(0)
      == "[{\"a\":\"UBIGINT\"}]")
    assert(one("SELECT json_structure('[{},{\"a\":1}]') AS m").getString(0)
      == "[{\"a\":\"UBIGINT\"}]")
    assert(one("SELECT json_structure('[{}]') AS m").getString(0) == "[\"JSON\"]")
    assert(one("SELECT json_structure('[{\"a\":1},[1]]') AS m").getString(0) == "[\"JSON\"]")
    assert(one("SELECT json_structure('[1, true]') AS m").getString(0) == "[\"JSON\"]")
    assert(one("SELECT json_structure('[null,null,1.5]') AS m").getString(0) == "[\"DOUBLE\"]")
    assert(one("SELECT json_contains('[1,2,3]', '2') AS m").getBoolean(0))
    assert(one("SELECT json_contains('{\"a\":{\"b\":2}}', '{\"b\":2}') AS m").getBoolean(0))
    assert(one("SELECT json_contains('[1,2]', '[2,1]') AS m").getBoolean(0))
    assert(!one("SELECT json_contains('{\"a\":1}', '2') AS m").getBoolean(0))
    assert(!one("SELECT json_contains('[1,2]', '[3]') AS m").getBoolean(0))
    assert(!one("SELECT json_contains('{\"a\":{\"b\":2}}', '{\"b\":3}') AS m").getBoolean(0))
  }

  test("r16 sample semantics: percentage reservoir + pre-WHERE draw (probed)") {
    val df = spark.range(100).toDF("r")
    df.createOrReplaceTempView("rsv_w")
    def q(sql: String) = SqlStage("s", sql).apply(spark, df).collect()
    // exact counts = round-half-up(pct × base count), probed duckdb
    // 1.0.0: 25% of 40 → 10, 10% of 25 → 3 (2.5 up), 50% of 25 → 13
    assert(q("SELECT * FROM (SELECT r FROM rsv_w WHERE r < 40) t USING SAMPLE reservoir(25%)").length == 10)
    assert(q("SELECT * FROM (SELECT r FROM rsv_w WHERE r < 25) t USING SAMPLE reservoir(10%)").length == 3)
    assert(q("SELECT * FROM (SELECT r FROM rsv_w WHERE r < 25) t USING SAMPLE 50% (reservoir, 7)").length == 13)
    // a trailing exact-n sample draws from the base relation BEFORE the
    // WHERE (probed: DuckDB returns a variable ≤ n; graft a
    // deterministic ≤ n) — the old after-WHERE wrap always returned n
    val a = q("SELECT r FROM rsv_w WHERE r < 50 USING SAMPLE reservoir(10 ROWS) REPEATABLE (7) ORDER BY r")
    val b = q("SELECT r FROM rsv_w WHERE r < 50 USING SAMPLE reservoir(10 ROWS) REPEATABLE (7) ORDER BY r")
    assert(a.length > 0 && a.length < 10, s"n=${a.length} — pre-WHERE draw should lose rows to the filter")
    assert(a.map(_.getLong(0)).toSeq == b.map(_.getLong(0)).toSeq)
    // percentage reservoir with a WHERE sizes n from the PRE-filter
    // count (probed), so it equals the explicit-n spelling exactly
    val c = q("SELECT r FROM rsv_w WHERE r < 50 USING SAMPLE reservoir(10%) REPEATABLE (7) ORDER BY r")
    assert(c.map(_.getLong(0)).toSeq == a.map(_.getLong(0)).toSeq)
    // qualified refs survive the relation restructure (derived alias)
    assert(q("SELECT t.r FROM rsv_w t WHERE t.r < 50 USING SAMPLE reservoir(5 ROWS) REPEATABLE (3)").length <= 5)
    // multi-relation FROM + WHERE + exact-n refuses loudly (the sample
    // would need to attach to the pre-filter join result)
    val multi = intercept[Exception](
      q("SELECT * FROM rsv_w a, rsv_w b WHERE a.r = b.r USING SAMPLE 5 ROWS"))
    assert(multi.getMessage.contains("FROM subquery"), multi.getMessage)
    // CTE-scoped percentage reservoir (r18, VERDICT r17 #5): the count
    // re-attaches the statement's own WITH prefix — probed duckdb
    // 1.0.0 on the same shapes: 10% of a 100-row CTE → 10, 50% of a
    // 15-row filtered CTE → 8 (7.5 up), chained-CTE 20% of 25 → 5
    assert(q("WITH c AS (SELECT r FROM rsv_w) SELECT * FROM c USING SAMPLE reservoir(10%)").length == 10)
    assert(q("""WITH c AS (SELECT r FROM rsv_w WHERE r < 15)
                SELECT * FROM c USING SAMPLE reservoir(50%) REPEATABLE (42)""").length == 8)
    assert(q("""WITH a AS (SELECT r FROM rsv_w WHERE r < 25),
                     b AS (SELECT * FROM a USING SAMPLE 20% (reservoir, 7))
                SELECT * FROM b""").length == 5)
    // seeded CTE-scoped draw is deterministic
    val cteA = q("WITH c AS (SELECT r FROM rsv_w) SELECT * FROM c USING SAMPLE reservoir(10%) REPEATABLE (7) ORDER BY r")
    val cteB = q("WITH c AS (SELECT r FROM rsv_w) SELECT * FROM c USING SAMPLE reservoir(10%) REPEATABLE (7) ORDER BY r")
    assert(cteA.map(_.getLong(0)).toSeq == cteB.map(_.getLong(0)).toSeq)
    // a name NOTHING resolves still raises the guided temp-table error
    val cteBad = intercept[Exception](
      q("SELECT * FROM graft_no_such_rel_xyz USING SAMPLE reservoir(10%)"))
    assert(cteBad.getMessage.contains("reservoir"), cteBad.getMessage)
    // SIBLING percentage samples each resolve their own count
    val sib = q("""SELECT (SELECT count(*) FROM (SELECT * FROM rsv_w USING SAMPLE reservoir(10%)))
                   + (SELECT count(*) FROM (SELECT * FROM rsv_w USING SAMPLE reservoir(20%))) AS n""")
    assert(sib.head.getLong(0) == 30L, sib.head.getLong(0))
    // a reservoir(n%) inside a string literal never resolves (maskQuotes)
    val lit = q("SELECT 'USING SAMPLE reservoir(10%)' AS s FROM rsv_w WHERE r = 0")
    assert(lit.head.getString(0) == "USING SAMPLE reservoir(10%)")
    spark.catalog.dropTempView("rsv_w")
  }

  test("named-window EXTENSION references inline (r16, FuzzDiff)") {
    // DuckDB: OVER (w ROWS BETWEEN ...) extends the named definition;
    // Spark's grammar only accepts OVER w / OVER (w) / a full inline
    // spec — the rewrite inlines the definition plus the extension
    val df = spark.range(20).selectExpr("id", "id % 3 AS g")
    df.createOrReplaceTempView("nwx")
    val got = SqlStage("s", """
      SELECT id, g,
             CAST(sum(id) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2,
             row_number() OVER w AS rn
      FROM nwx WINDOW w AS (PARTITION BY g ORDER BY id)""")
      .apply(spark, df).collect().map(r => (r.getLong(0), r.getLong(2), r.getInt(3))).toSet
    assert(got.size == 20)
    // id=3 (g=0): previous row in partition is id=0 → s2 = 3, rn = 2
    val row3 = SqlStage("s", """
      SELECT CAST(sum(id) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
      FROM nwx WINDOW w AS (PARTITION BY g ORDER BY id)
    """).apply(spark, df) // shape only; value asserted via full query below
    assert(row3.columns.sameElements(Array("s2")))
    val v = SqlStage("s", """
      SELECT id, CAST(sum(id) OVER (w ROWS BETWEEN 1 PRECEDING AND CURRENT ROW) AS BIGINT) AS s2
      FROM nwx WINDOW w AS (PARTITION BY g ORDER BY id)""")
      .apply(spark, df).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(v(3L) == 3L && v(0L) == 0L && v(6L) == 9L)
    spark.catalog.dropTempView("nwx")
  }

  test("qualified-star REPLACE resolves over a single matching relation (r16)") {
    spark.range(4).selectExpr("id AS a", "id + 1 AS b")
      .createOrReplaceTempView("qs_t")
    def q(sql: String) = SqlStage("s", sql).apply(spark, spark.range(1).toDF("z"))
    // table-name qualifier and alias qualifier both expand; the
    // qualifier is consumed (bare names resolve in the block)
    assert(q("SELECT qs_t.* REPLACE ((a * 10) AS a) FROM qs_t")
      .collect().map(_.getLong(0)).toSet == Set(0L, 10L, 20L, 30L))
    assert(q("SELECT x.* REPLACE ((b * 2) AS b) FROM qs_t x WHERE x.a < 2")
      .collect().map(_.getLong(1)).toSet == Set(2L, 4L))
    // a NON-matching qualifier keeps the guided error
    val bad = intercept[Exception](
      q("SELECT y.* REPLACE ((a * 10) AS a) FROM qs_t x"))
    assert(bad.getMessage.contains("qualified-star"), bad.getMessage)
    spark.catalog.dropTempView("qs_t")
  }

  test("star REPLACE expands against the FROM table's schema (r16, FuzzDiff)") {
    // previously the expansion was bound to the stage `df` schema, so
    // `SELECT * REPLACE (...) FROM lineitem` refused; the block's single
    // source relation now resolves through the session catalog
    spark.range(6).selectExpr("id AS a", "id * 2 AS b", "CAST(id AS STRING) AS c")
      .createOrReplaceTempView("repl_t")
    val out = SqlStage("s",
      "SELECT * REPLACE ((a % 3) AS a) FROM repl_t WHERE b < 10")
      .apply(spark, spark.range(1).toDF("z"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.collect().map(_.getLong(0)).toSet == Set(0L, 1L, 2L))
    // the stage-df contract still holds for df-sourced stars
    val df2 = spark.range(3).selectExpr("id AS x", "id + 1 AS y")
    val out2 = SqlStage("s", "SELECT * REPLACE ((x * 10) AS x) FROM df")
      .apply(spark, df2)
    assert(out2.columns.toSeq == Seq("x", "y"))
    assert(out2.collect().map(_.getLong(0)).toSet == Set(0L, 10L, 20L))
    spark.catalog.dropTempView("repl_t")
  }

  test("COLUMNS() expands against the FROM table's schema (r16, FuzzDiff)") {
    // same catalog resolution as star REPLACE: COLUMNS over a named
    // table previously matched against the stage-df schema only
    spark.range(5).selectExpr("id AS a_key", "id * 2 AS b_key", "CAST(id AS STRING) AS note")
      .createOrReplaceTempView("colx_t")
    val out = SqlStage("s", "SELECT note, COLUMNS('.*_key') % 3 FROM colx_t")
      .apply(spark, spark.range(1).toDF("z"))
    assert(out.columns.toSeq == Seq("note", "a_key", "b_key"))
    assert(out.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      .contains(("4", 1L, 2L)))
    spark.catalog.dropTempView("colx_t")
  }

  test("mixed-unit INTERVAL RANGE frames normalize to one bound type (r17, FuzzDiff)") {
    // DuckDB accepts RANGE BETWEEN INTERVAL 9 MINUTE PRECEDING AND
    // INTERVAL 2 HOUR FOLLOWING; Spark types each bound by unit and
    // throws SPECIFIED_WINDOW_FRAME_DIFF_TYPES (FuzzDiff r17 seed
    // 1801). The rewrite converts both day-time bounds to SECONDs
    // (year-month pairs to MONTHs) — value-identical.
    import org.apache.spark.sql.functions.col
    val df = spark.sql(
      """SELECT * FROM VALUES
         (1, TIMESTAMP '2024-01-01 00:00:00', 10),
         (2, TIMESTAMP '2024-01-01 00:30:00', 20),
         (3, TIMESTAMP '2024-01-01 02:00:00', 40) t(id, ts, v)""")
    val out = SqlStage("s",
      """SELECT id, CAST(sum(v) OVER (ORDER BY ts
         RANGE BETWEEN INTERVAL 45 MINUTE PRECEDING
         AND INTERVAL 2 HOUR FOLLOWING) AS BIGINT) AS s
         FROM df ORDER BY id""").apply(spark, df).collect()
    // frames: id1 [ts-45m, ts+2h] = 10+20+40; id2 = 10+20+40; id3 = 40
    assert(out.map(r => (r.getInt(0), r.getLong(1))).toSeq ==
      Seq((1, 70L), (2, 70L), (3, 40L)))
    // same-unit pairs stay untouched (native Spark path)
    val same = SqlStage("s",
      """SELECT id, CAST(count(*) OVER (ORDER BY ts
         RANGE BETWEEN INTERVAL 1 HOUR PRECEDING AND CURRENT ROW) AS BIGINT) AS c
         FROM df ORDER BY id""").apply(spark, df).collect()
    assert(same.map(_.getLong(1)).toSeq == Seq(1L, 2L, 1L))
  }

  test("round(DOUBLE) rounds the EXACT binary value like DuckDB (r18, FuzzDiff)") {
    // seed-112 find: round(cume_dist(), 6) read 0.064063 through
    // Spark's shortest-decimal BigDecimal path where DuckDB reads
    // 0.064062 (0.0640625 stores as 0.06406249999…). All pins probed
    // on duckdb 1.0.0.
    val one = spark.range(1).toDF("z")
    def v(sql: String) = SqlStage("s", s"SELECT $sql AS x").apply(spark, one)
      .collect().head.get(0)
    // (a bare `0.0640625 + 0.0` is DECIMAL on BOTH engines and rounds
    // decimal-exact to 0.064063 — the binary-value story is DOUBLE's)
    assert(v("round(CAST(0.0640625 AS DOUBLE), 6)") == 0.064062)
    assert(v("round(41.0 / 640, 6)") == 0.064062) // `/` is DOUBLE division
    assert(v("round(CAST(1.005 AS DOUBLE), 2)") == 1.0)
    assert(v("round(CAST(0.125 AS DOUBLE), 2)") == 0.13) // half AWAY, not half even
    assert(v("round(CAST(2.5 AS DOUBLE), 0)") == 3.0)
    assert(v("round(CAST(-2.5 AS DOUBLE), 0)") == -3.0)
    assert(v("round(CAST(123.456 AS DOUBLE), -1)") == 120.0)
    assert(v("round(1.0e308, 2)") == 1.0e308) // overflow → passthrough
    assert(v("round(CAST(5.0 AS DOUBLE), -400)") == 0.0)
    assert(v("round(CAST(3.33333333 AS DOUBLE))") == 3.0) // 1-arg form
    assert(java.lang.Double.doubleToRawLongBits(
      v("round(CAST('-0.0' AS DOUBLE), 2)").asInstanceOf[Double]) < 0)
    assert(v("round(CAST(2.5 AS FLOAT), 0)") == 3.0f) // FLOAT stays FLOAT
    // ints/decimals keep the native decimal-exact path
    assert(v("round(CAST(2.345 AS DECIMAL(5,3)), 2)").toString == "2.35")
    assert(v("round(15, -1)") == 20)
  }

  test("fractional->integral casts round half-away like DuckDB (r17, FuzzDiff)") {
    // probed duckdb 1.0.0: CAST(2.5 AS BIGINT)=3, CAST(-2.5 AS
    // BIGINT)=-3, CAST(22287.9999 AS BIGINT)=22288, DECIMAL sources
    // round too; Spark's cast truncates toward zero. duck_iround wraps
    // integral-cast sources: round on Double/Float/Decimal, identity
    // elsewhere (strings stay native — documented).
    val one = spark.range(1).toDF("z")
    def row(sql: String) = SqlStage("s", sql).apply(spark, one).collect().head
    val r1 = row("""SELECT CAST(2.5 + 0.0 AS BIGINT) AS a, CAST(0.0 - 2.5 AS BIGINT) AS b,
      CAST(22287.9999 + 0.0 AS BIGINT) AS c, CAST(2.4 + 0.0 AS BIGINT) AS d""")
    assert((r1.getLong(0), r1.getLong(1), r1.getLong(2), r1.getLong(3)) == ((3L, -3L, 22288L, 2L)))
    // DECIMAL source rounds; the :: spelling takes the same path
    val r2 = row("SELECT CAST(CAST(2.5 AS DECIMAL(5,1)) AS BIGINT) AS a, (2.5 + 0.0)::BIGINT AS b")
    assert((r2.getLong(0), r2.getLong(1)) == ((3L, 3L)))
    // integral sources untouched (identity path), TRY_CAST too
    val r3 = row("SELECT CAST(7 AS BIGINT) AS a, TRY_CAST(3.5 + 0.0 AS INT) AS b")
    assert((r3.getLong(0), r3.getInt(1)) == ((7L, 4)))
  }

  test("grouping sets over an EMPTY input emit DuckDB's grand-total rows (r17)") {
    // r16 recorded this as a documented divergence; r17 closes it at
    // the SqlStage layer: a LIMIT-1 emptiness probe (early-exit,
    // near-free on non-empty inputs) swaps in a typed-NULL
    // global-aggregate arm only when the input is provably empty.
    // Every pin below probed against duckdb 1.0.0.
    spark.sql("SELECT CAST(v AS STRING) AS g, v AS h, v AS x FROM VALUES (1) t(v) WHERE false")
      .createOrReplaceTempView("egt")
    val one = spark.range(1).toDF("id")
    def rows(sql: String) = SqlStage("s", sql).apply(spark, one).collect()
    // ROLLUP: exactly one grand-total row, count 0 / sum NULL
    val r1 = rows("SELECT g, count(*) AS n, sum(x) AS s FROM egt GROUP BY ROLLUP (g)")
    assert(r1.map(r => (Option(r.get(0)), r.getLong(1), Option(r.get(2)))).toSeq ==
      Seq((None, 0L, None)))
    // multi-key ROLLUP and CUBE: still ONE row
    assert(rows("SELECT g, h, count(*) AS n FROM egt GROUP BY ROLLUP (g, h)").length == 1)
    assert(rows("SELECT g, h, count(*) AS n FROM egt GROUP BY CUBE (g, h)").length == 1)
    // GROUPING SETS: one row per literal (); none → zero rows
    assert(rows("SELECT g, count(*) AS n FROM egt GROUP BY GROUPING SETS ((g), ())").length == 1)
    assert(rows("SELECT g, h, count(*) AS n FROM egt GROUP BY GROUPING SETS ((g), (h))").isEmpty)
    assert(rows("SELECT count(*) AS n FROM egt GROUP BY GROUPING SETS ((), ())")
      .map(_.getLong(0)).toSeq == Seq(0L, 0L))
    // select expressions evaluate OVER the NULL keys like DuckDB's
    // grand-total row: coalesce(g,'TOT') renders 'TOT'
    val r2 = rows("SELECT coalesce(g, 'TOT') AS tag, count(*) AS n FROM egt GROUP BY ROLLUP (g)")
    assert(r2.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("TOT", 0L)))
    // grouping() = 1 on the grand-total row; HAVING applies to it
    val r3 = rows(
      "SELECT g, CAST(grouping(g) AS BIGINT) AS gg, count(*) AS n FROM egt GROUP BY ROLLUP (g)")
    assert(r3.map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((None, 1L, 0L)))
    assert(rows(
      "SELECT g, count(*) AS n FROM egt GROUP BY ROLLUP (g) HAVING count(*) = 0").length == 1)
    assert(rows(
      "SELECT g, count(*) AS n FROM egt GROUP BY ROLLUP (g) HAVING count(*) > 0").isEmpty)
    // WHERE that filters a NON-empty table to empty takes the arm too
    spark.sql("SELECT CAST(v AS STRING) AS g, v AS x FROM VALUES (1), (2) t(v)")
      .createOrReplaceTempView("egt2")
    val r4 = rows("SELECT g, count(*) AS n FROM egt2 WHERE x > 5 GROUP BY ROLLUP (g)")
    assert(r4.map(r => (Option(r.get(0)), r.getLong(1))).toSeq == Seq((None, 0L)))
    // a NON-empty input keeps the plain grouping-sets plan (probe says
    // non-empty; no arm)
    val r5 = rows("SELECT g, count(*) AS n FROM egt2 GROUP BY ROLLUP (g)")
    assert(r5.length == 3) // 2 keys + grand total
    // mixed GROUP BY g, ROLLUP (h): no pure-empty set — zero rows on
    // both engines (out of the arm's scope by design)
    assert(rows("SELECT g, h, count(*) AS n FROM egt GROUP BY g, ROLLUP (h)").isEmpty)
    // ORDER BY + LIMIT tails survive (ORDER dropped in the arm — at
    // most a few identical rows — LIMIT reapplied)
    val r6 = rows(
      "SELECT g, count(*) AS n FROM egt GROUP BY ROLLUP (g) ORDER BY n LIMIT 3")
    assert(r6.map(r => (Option(r.get(0)), r.getLong(1))).toSeq == Seq((None, 0L)))
    assert(rows(
      "SELECT g, count(*) AS n FROM egt GROUP BY ROLLUP (g) LIMIT 0").isEmpty)
    // repeated output names align by position
    assert(rows("SELECT g, g, count(*) AS n FROM egt GROUP BY ROLLUP (g)")
      .map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(2))).toSeq ==
      Seq((None, None, 0L)))
    assert(rows("SELECT g, count(*) AS n, count(*) AS n FROM egt GROUP BY ROLLUP (g)")
      .map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2))).toSeq ==
      Seq((None, 0L, 0L)))
    spark.catalog.dropTempView("egt")
    spark.catalog.dropTempView("egt2")
  }

  test("CTE-scoped grouping sets over an EMPTY input emit the grand-total row (r18)") {
    // fuzz template 63 found the WITH-wrapped form of the r17
    // divergence: the grand-total row materializes INSIDE the CTE on
    // DuckDB, so an outer window/order query over the CTE still sees
    // it. SqlStage now probes each matching CTE body and splices the
    // aligned arm in. Probed against duckdb 1.0.0.
    spark.sql("SELECT CAST(v AS STRING) AS g, v AS x FROM VALUES (1) t(v) WHERE false")
      .createOrReplaceTempView("egc")
    val one = spark.range(1).toDF("id")
    def rows(sql: String) = SqlStage("s", sql).apply(spark, one).collect()
    // the fuzz shape: grouping-sets CTE + an outer cumulative window
    val r1 = rows(
      """WITH c AS (
           SELECT g, count(*) AS n, CAST(grouping(g) AS BIGINT) AS gg
           FROM egc GROUP BY GROUPING SETS ((g), ()))
         SELECT g, n, gg,
                CAST(sum(n) OVER (ORDER BY gg, g NULLS LAST) AS BIGINT) AS cum
         FROM c ORDER BY gg, g NULLS LAST""")
    assert(r1.map(r => (Option(r.get(0)), r.getLong(1), r.getLong(2), r.getLong(3)))
      .toSeq == Seq((None, 0L, 1L, 0L)))
    // multiple CTEs: only the matching body is swapped; the outer
    // join over a non-empty sibling still sees the grand-total row
    val r2 = rows(
      """WITH tot AS (SELECT count(*) AS n FROM egc GROUP BY ROLLUP (g) HAVING count(*) = 0),
              k AS (SELECT 7 AS v)
         SELECT tot.n, k.v FROM tot CROSS JOIN k""")
    assert(r2.map(r => (r.getLong(0), r.getInt(1))).toSeq == Seq((0L, 7)))
    // NON-empty CTE input keeps the plain plan (no arm)
    spark.sql("SELECT CAST(v AS STRING) AS g, v AS x FROM VALUES (1), (2) t(v)")
      .createOrReplaceTempView("egc2")
    val r3 = rows(
      """WITH c AS (SELECT g, count(*) AS n FROM egc2 GROUP BY ROLLUP (g))
         SELECT count(*) AS rows FROM c""")
    assert(r3.head.getLong(0) == 3L) // 2 keys + grand total
    spark.catalog.dropTempView("egc")
    spark.catalog.dropTempView("egc2")
  }

  test("sweep-8: age matches DuckDB's symbolic subtraction + rendering (probed)") {
    // age returns DuckDB's INTERVAL→VARCHAR rendering directly, so
    // CAST(age(..) AS VARCHAR) is the identity and cross-engine SQL
    // written with the cast stays byte-identical (one SqlStage pin below)
    def age(sql: String): String = one(s"SELECT $sql AS m").getString(0)
    assert(SqlStage("s",
      "SELECT CAST(age(TIMESTAMP '2024-03-31', TIMESTAMP '2024-01-31') AS VARCHAR) AS m")
      .apply(spark, spark.range(1).toDF("z")).collect().head.getString(0) == "2 months")
    // every pin probed against duckdb 1.0.0 this round
    assert(age("age(TIMESTAMP '2024-03-15 13:30:05', TIMESTAMP '2022-01-20 10:00:00')")
      == "2 years 1 month 26 days 03:30:05")
    assert(age("age(TIMESTAMP '2022-01-20 10:00:00', TIMESTAMP '2024-03-15 13:30:05')")
      == "-2 years -1 month -26 days -03:30:05") // age(a,b) = -age(b,a)
    assert(age("age(TIMESTAMP '2024-03-31', TIMESTAMP '2024-01-31')") == "2 months")
    assert(age("age(TIMESTAMP '2024-03-01', TIMESTAMP '2024-01-31')") == "1 month 1 day")
    assert(age("age(TIMESTAMP '2024-03-30', TIMESTAMP '2024-01-31')") == "1 month 30 days")
    assert(age("age(TIMESTAMP '2024-02-29', TIMESTAMP '2023-02-28')") == "1 year 1 day")
    assert(age("age(TIMESTAMP '2024-03-10 05:00:00', TIMESTAMP '2024-03-11 06:30:10.123456')")
      == "-1 day -01:30:10.123456")
    assert(age("age(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-01')") == "00:00:00")
    assert(age("age(TIMESTAMP '2024-01-01 00:00:01', TIMESTAMP '2024-01-01')") == "00:00:01")
    assert(age("age(TIMESTAMP '2024-01-02', TIMESTAMP '2024-01-01 23:00:00')") == "01:00:00")
    assert(age("age(TIMESTAMP '2023-12-31 23:00:00', TIMESTAMP '2024-01-01 01:30:00')")
      == "-02:30:00")
    assert(age("age(TIMESTAMP '2024-03-31 05:00:00', TIMESTAMP '2024-01-31 10:00:00')")
      == "1 month 30 days 19:00:00")
    assert(age("age(TIMESTAMP '2024-03-01 00:00:00', TIMESTAMP '2023-12-31 23:59:59')")
      == "2 months 00:00:01")
    // fraction trimmed of trailing zeros, like DuckDB
    assert(age("age(TIMESTAMP '2024-01-01 00:00:00.5', TIMESTAMP '2024-01-01')") == "00:00:00.5")
    assert(age("age(TIMESTAMP '2024-01-01', TIMESTAMP '2024-01-01 00:00:00.123456')")
      == "-00:00:00.123456")
    // DATE operands cast like DuckDB's implicit TIMESTAMP coercion
    assert(age("age(TIMESTAMP '2025-06-01 12:00:00', DATE '2024-05-30')")
      == "1 year 2 days 12:00:00")
    // NULL propagates; the 1-arg form anchors at now() (probed — NOT
    // Postgres's current_date), so only its shape is asserted here
    assert(one("SELECT age(NULL, TIMESTAMP '2024-01-01') AS m").isNullAt(0))
    assert(one("SELECT age(TIMESTAMP '2024-01-15 13:30:05') AS m").getString(0).nonEmpty)
  }

  test("sweep-8: md5_number is the little-endian SIGNED int128 digest (probed)") {
    def md5n(s: String): String =
      one(s"SELECT md5_number('$s') AS m").getString(0)
    assert(md5n("abc") == "152195979970564155685860391459828531600")
    assert(md5n("b") == "-149750030552373788046256512903076123758") // sign exercised
    assert(md5n("graft") == "78023251690873641090830456044959079527")
    assert(one("SELECT md5_number(NULL) AS m").isNullAt(0))
    // the halves stay numeric (UBIGINT range via DECIMAL(20,0))
    assert(one("SELECT md5_number_lower('abc') AS m").getDecimal(0) != null)
  }

  test("sweep-8: setseed makes random() reproducible; gen_random_uuid/unpivot_list execute") {
    val df = spark.range(1).toDF("z")
    val s2 = spark.newSession()
    // setseed returns NULL like DuckDB, and seeds the session registry
    assert(SqlStage("s", "SELECT setseed(0.42) AS m").apply(s2, df).collect().head.isNullAt(0))
    def draw(): Seq[Double] =
      SqlStage("s", "SELECT random() AS r FROM range(5) ORDER BY r")
        .apply(s2, df).collect().map(_.getDouble(0)).toSeq
    val d1 = draw()
    val d2 = draw()
    assert(d1 == d2) // DuckDB's reseed-then-replay property
    assert(d1.forall(r => r >= 0.0 && r < 1.0))
    // re-seeding with a different value changes the draws
    SqlStage("s", "SELECT setseed(0.9) AS m").apply(s2, df).collect()
    assert(draw() != d1)
    // an UNSEEDED session keeps Spark's nondeterministic rand
    val s3 = spark.newSession()
    val u = SqlStage("s", "SELECT random() AS r").apply(s3, df).collect().head.getDouble(0)
    assert(u >= 0.0 && u < 1.0)
    // range check mirrors DuckDB's error text
    val oob = intercept[Exception](
      SqlStage("s", "SELECT setseed(1.5) AS m").apply(s2, df))
    assert(oob.getMessage.contains("between -1.0 and 1.0"))
    // gen_random_uuid resolves through Spark's uuid
    assert(one("SELECT gen_random_uuid() AS m").getString(0).length == 36)
    // unpivot_list builds a list; the zero-arg form is the empty list
    assert(one("SELECT unpivot_list('a', 'b') AS m").getSeq[String](0) == Seq("a", "b"))
    assert(one("SELECT size(unpivot_list()) AS m").getInt(0) == 0)
  }

  test("sweep-8: the exclusion table raises guided errors, not bare Catalyst failures") {
    val df = spark.range(1).toDF("z")
    // the 13 excluded catalog functions (COVERAGE.md) — each names its
    // rationale/alternative through the fnHints path
    val excluded = Seq(
      "get_bit('x', 3)" -> "BIT",
      "set_bit('x', 3, 1)" -> "BIT",
      "bit_position('x', 'y')" -> "BIT",
      "timetz_byte_comparable('x')" -> "TIMETZ",
      "current_query()" -> "pipeline config",
      "current_schemas(true)" -> "current_database",
      "in_search_path('a', 'b')" -> "search path",
      "stats('abc')" -> "DESCRIBE",
      "vector_type('abc')" -> "EXPLAIN",
      "json_serialize_sql('SELECT 1')" -> "EXPLAIN",
      "json_serialize_plan('SELECT 1')" -> "EXPLAIN",
      "txid_current()" -> "uuid()",
      "alias(42)" -> "string literal")
    excluded.foreach { case (call, marker) =>
      val e = intercept[Exception](
        SqlStage("s", s"SELECT $call AS m").apply(spark, df).collect())
      assert(e.isInstanceOf[graft.functions.expressions.DuckDialectException],
        s"$call should raise a guided error, got ${e.getClass.getName}: ${e.getMessage}")
      assert(e.getMessage.contains(marker), s"$call hint should mention '$marker'")
    }
    // the BIT/TIMETZ typed-probe shapes fail at PARSE with the type named
    val bitCast = intercept[Exception](
      SqlStage("s", "SELECT get_bit('1010'::BIT, 3) AS m").apply(spark, df))
    assert(bitCast.getMessage.contains("no BIT"))
    val tzCast = intercept[Exception](
      SqlStage("s", "SELECT timetz_byte_comparable(TIMETZ '13:30:05+00') AS m").apply(spark, df))
    assert(tzCast.getMessage.contains("no TIMETZ"))
  }

  test("try_strptime with a format LIST takes the first match (probed)") {
    assert(one("SELECT CAST(try_strptime('2024-01-15', array('%d/%m/%Y', '%Y-%m-%d')) AS DATE) AS m")
      .getDate(0).toString == "2024-01-15")
    assert(one("SELECT try_strptime('junk', array('%Y-%m-%d')) AS m").isNullAt(0))
  }

  test("ATTACH mounts an EXPORT-DATABASE directory; DETACH drops it") {
    val dir = Files.createTempDirectory("graftatt").toString
    val df = spark.range(1).toDF("z")
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s2)
    SqlStage("t", s"""
      CREATE OR REPLACE TEMP TABLE att_src AS SELECT id AS k, id * 2 AS v FROM range(5);
      EXPORT DATABASE '$dir' (FORMAT PARQUET);
      DROP TABLE att_src""").apply(s2, s2.range(1).toDF("z"))
    // attach under an alias; alias-qualified reads rewrite onto the views
    val out = SqlStage("t", s"ATTACH '$dir' AS adb; SELECT k, v FROM adb.att_src ORDER BY k")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSeq == (0L to 4L).map(k => (k, k * 2)))
    // double-attach errors like DuckDB; DETACH then re-attach works
    val dup = intercept[Exception](
      SqlStage("t", s"ATTACH '$dir' AS adb").apply(s2, s2.range(1).toDF("z")))
    assert(dup.getMessage.contains("already attached"))
    // ...but the IF NOT EXISTS spelling is a no-op on a duplicate alias
    // (probed duckdb 1.0.0) — re-runnable scripts pass
    SqlStage("t", s"ATTACH IF NOT EXISTS '$dir' AS adb").apply(s2, s2.range(1).toDF("z"))
    assert(SqlStage("t", "SELECT count(*) AS n FROM adb.att_src")
      .apply(s2, s2.range(1).toDF("z")).collect().head.getLong(0) == 5L)
    SqlStage("t", "DETACH adb").apply(s2, s2.range(1).toDF("z"))
    val gone = intercept[Exception](
      SqlStage("t", "SELECT * FROM adb.att_src").apply(s2, s2.range(1).toDF("z")))
    assert(gone != null)
    // DETACH of an unknown alias errors; IF EXISTS ignores it
    val miss = intercept[Exception](
      SqlStage("t", "DETACH adb").apply(s2, s2.range(1).toDF("z")))
    assert(miss.getMessage.contains("no database named"))
    SqlStage("t", "DETACH IF EXISTS adb").apply(s2, s2.range(1).toDF("z"))
    // default alias = basename; .db storage files keep the guided error
    val out2 = SqlStage("t", s"ATTACH '$dir'; SELECT count(*) AS n FROM ${new java.io.File(dir).getName}.att_src")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(out2.head.getLong(0) == 5L)
    val bad = intercept[Exception](
      SqlStage("t", "ATTACH '/tmp/nonexistent_graft.db' AS x").apply(s2, s2.range(1).toDF("z")))
    assert(bad.getMessage.contains("EXPORT DATABASE"))
    assert(df.count() == 1) // base session untouched
    // alias.tbl inside STRING LITERALS never rewrites (maskQuotes)
    val alias = new java.io.File(dir).getName
    val lit = SqlStage("t",
      s"SELECT '$alias.att_src' AS s, count(*) AS n FROM $alias.att_src")
      .apply(s2, s2.range(1).toDF("z")).collect().head
    assert(lit.getString(0) == s"$alias.att_src" && lit.getLong(1) == 5L)
    // one scan rewrites only the attached (alias, table) pairs
    val sql = "SELECT * FROM a.t1 JOIN b . t2 ON 'a.t1' = a.t2, A.T1"
    assert(GraftSqlParser.rewriteAttachedRefs(sql, Map("a" -> Seq("t1"), "b" -> Seq("t2"))) ==
      "SELECT * FROM __graft_att_a__t1 JOIN __graft_att_b__t2 ON 'a.t1' = a.t2, __graft_att_a__t1")
  }

  test("ATTACH/IMPORT consume DuckDB's own EXPORT DATABASE layout (fixture)") {
    // src/test/resources/duckdb_export was produced by duckdb 1.0.0's
    // EXPORT DATABASE (FORMAT CSV): double-quoted column names in
    // schema.sql ("name" VARCHAR), quoted FORMAT / valued HEADER /
    // QUOTE options and ABSOLUTE source paths in load.sql — the
    // remap-by-basename route loads the MOVED directory (the original
    // /tmp path no longer exists)
    val dir = "/root/repo/src/test/resources/duckdb_export"
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s2)
    val out = SqlStage("t",
      s"ATTACH '$dir' AS duck; SELECT name, pop FROM duck.cities ORDER BY city_id")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(out.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("madrid", 3300000L), ("paris", 2100000L), ("berlin", 3700000L)))
    val m = SqlStage("t", "SELECT sum(v) AS s FROM duck.metrics")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(m.head.getDouble(0) == 3.75)
    SqlStage("t", "DETACH duck").apply(s2, s2.range(1).toDF("z"))
    // the IMPORT route consumes the same directory (unprefixed names)
    val s3 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s3)
    val out2 = SqlStage("t",
      s"IMPORT DATABASE '$dir'; SELECT count(*) AS n FROM cities")
      .apply(s3, s3.range(1).toDF("z")).collect()
    assert(out2.head.getLong(0) == 3L)
  }

  /** A DuckDB 1.0.0 EXPORT DATABASE of table `t(a INTEGER, b VARCHAR)`
    * holding (1, 'x'), (2, 'y'), plus `extra` schema.sql lines.
    */
  private def duckExport(extra: String): String = {
    val dir = Files.createTempDirectory("graftduckexp").toString
    def write(f: String, text: String): Unit =
      Files.write(java.nio.file.Paths.get(dir, f), text.getBytes("UTF-8"))
    write("schema.sql", s"CREATE TABLE t(a INTEGER, b VARCHAR);\n$extra\n")
    write("load.sql", s"COPY t FROM '$dir/t.csv' (FORMAT 'csv', quote '\"', " +
      "delimiter ',', header 1);\n")
    write("t.csv", "a,b\n1,x\n2,y\n")
    dir
  }

  test("IMPORT DATABASE skips a DuckDB export's CREATE INDEX, as ATTACH does") {
    val dir = duckExport("CREATE INDEX ti ON t(a);")
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s2)
    val rows = SqlStage("t", s"IMPORT DATABASE '$dir'; SELECT * FROM t ORDER BY a")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(rows.map(r => (r.getInt(0), r.getString(1))).toSeq == Seq((1, "x"), (2, "y")))
    val att = SqlStage("t", s"ATTACH '$dir' AS ix; SELECT count(*) AS n FROM ix.t")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(att.head.getLong(0) == 2L)
  }

  test("ATTACH refuses an export's view before it runs a statement; IMPORT loads it") {
    val dir = duckExport("CREATE VIEW v AS SELECT (a * 10) AS a10 FROM t;")
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s2)
    val e = intercept[DuckDialectException](
      SqlStage("t", s"ATTACH '$dir' AS e; SELECT * FROM e.v")
        .apply(s2, s2.range(1).toDF("z")))
    assert(e.getMessage.contains("view 'v'") && e.getMessage.contains("IMPORT DATABASE"))
    assert(!s2.catalog.listTables().collect().exists(_.name.startsWith("__graft_att_e__")))
    assert(DuckSession.rewriteAttachedRefs(s2, "SELECT * FROM e.t") == "SELECT * FROM e.t")
    val rows = SqlStage("t", s"IMPORT DATABASE '$dir'; SELECT a10 FROM v ORDER BY a10")
      .apply(s2, s2.range(1).toDF("z")).collect()
    assert(rows.map(_.getInt(0)).toSeq == Seq(10, 20))
  }

  test("a half-failed ATTACH drops the views it made; a later EXPORT names neither") {
    val dir = Files.createTempDirectory("grafthalf").toString
    def write(f: String, text: String): Unit =
      Files.write(java.nio.file.Paths.get(dir, f), text.getBytes("UTF-8"))
    write("schema.sql", "CREATE TABLE a(x INTEGER);\nCREATE TABLE b(y INTEGER);\n")
    write("load.sql", Seq("a", "b").map(t =>
      s"COPY $t FROM '$dir/$t.csv' (FORMAT 'csv', header 1);\n").mkString)
    write("a.csv", "x\n1\n") // b.csv is missing
    val s2 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s2)
    def run(sql: String) = SqlStage("t", sql).apply(s2, s2.range(1).toDF("z")).collect()
    intercept[Exception](run(s"ATTACH '$dir' AS h"))
    assert(!s2.catalog.listTables().collect().exists(_.name.startsWith("__graft_att_")))
    val out = Files.createTempDirectory("grafthalfexp").toString
    run(s"CREATE TEMP TABLE half_kept AS SELECT 1 AS k; EXPORT DATABASE '$out'")
    val schema = new String(Files.readAllBytes(java.nio.file.Paths.get(out, "schema.sql")), "UTF-8")
    assert(schema.contains("half_kept") && !schema.contains("__graft_att_"), schema)
  }

  test("DuckDB catalog state stays within its session") {
    val s1 = spark.newSession()
    graft.functions.expressions.GraftFunctions.register(s1)
    val exp1 = Files.createTempDirectory("graftiso").toString
    def run(s: org.apache.spark.sql.SparkSession, sql: String) =
      SqlStage("t", sql).apply(s, s.range(1).toDF("z")).collect()
    run(s1, "CREATE MACRO iso_m(x) AS x + 1")
    run(s1, "SELECT setseed(0.25) AS m")
    run(s1, "CREATE TEMP TABLE iso_pk (k INTEGER PRIMARY KEY)")
    run(s1, "CREATE TEMP TABLE iso_ctas AS SELECT 1 AS x")
    run(s1, s"EXPORT DATABASE '$exp1'")
    run(s1, s"ATTACH '$exp1' AS iso_a")
    def exported(s: org.apache.spark.sql.SparkSession): String = {
      val dir = Files.createTempDirectory("graftiso").toString
      run(s, s"EXPORT DATABASE '$dir'")
      new String(Files.readAllBytes(java.nio.file.Paths.get(dir, "schema.sql")), "UTF-8")
    }
    // (macro, seed, constraints, exported tables, attachment) as s sees them
    def sees(s: org.apache.spark.sql.SparkSession): Seq[Boolean] = Seq(
      DuckSession.expandMacros(s, "SELECT iso_m(1)") != "SELECT iso_m(1)",
      DuckSession.rewriteSeededRandom(s, "SELECT random()") != "SELECT random()",
      DuckSession.tableMeta(s, "iso_pk").exists(_.pk == Seq("k")),
      exported(s).contains("CREATE TABLE iso_ctas("),
      DuckSession.rewriteAttachedRefs(s, "SELECT * FROM iso_a.iso_ctas") ==
        "SELECT * FROM __graft_att_iso_a__iso_ctas")
    assert(sees(s1.newSession()) == Seq.fill(5)(false))
    assert(sees(s1) == Seq.fill(5)(true))
  }

  test("GraftSqlParser names no Spark class; one session registry under operators") {
    val ops = new java.io.File("src/main/scala/graft/operators")
    def text(f: java.io.File) = new String(Files.readAllBytes(f.toPath), "UTF-8")
    assert(!text(new java.io.File(ops, "GraftSqlParser.scala")).contains("org.apache.spark"))
    val registries = ops.listFiles().filter(_.getName.endsWith(".scala")).toSeq
      .map(f => text(f).linesIterator.count(_.contains("WeakHashMap"))).sum
    assert(registries == 1)
  }

  test("icu_collate_* family orders by locale collation (probed batteries)") {
    def order(fn: String, words: Seq[String]): Seq[String] = {
      val vals = words.map(w => s"('$w')").mkString(",")
      spark.sql(s"SELECT x FROM (VALUES $vals) t(x) ORDER BY $fn(x), x")
        .collect().map(_.getString(0)).toSeq
    }
    // German: ä == a at primary strength, so the secondary only breaks
    // ties AFTER later letters compare — ähre < apfel (h < p), über <
    // ufer (b < f); probed against DuckDB's icu_collate_de
    assert(order("icu_collate_de", Seq("zelt", "über", "ufer", "öl", "ober", "ähre", "apfel"))
      == Seq("ähre", "apfel", "ober", "öl", "über", "ufer", "zelt"))
    // Spanish: ñ is a distinct letter after n; ch sorts inside c
    // (post-1994 rules; probed: cama < chico < dardo)
    assert(order("icu_collate_es", Seq("dardo", "chico", "cama", "ñu", "nido", "oso"))
      == Seq("cama", "chico", "dardo", "nido", "ñu", "oso"))
    // Swedish: å ä ö AFTER z
    assert(order("icu_collate_sv", Seq("öra", "ärta", "åka", "zebra", "apa"))
      == Seq("apa", "zebra", "åka", "ärta", "öra"))
    // Czech: ch is a letter between h and i
    assert(order("icu_collate_cs", Seq("ihla", "chata", "hora", "čas", "cena"))
      == Seq("cena", "čas", "hora", "chata", "ihla"))
    // icu_sort_key's named-collator form matches the dedicated alias
    assert(order("icu_collate_de", Seq("öl", "ober", "ost")) ==
      spark.sql("SELECT x FROM (VALUES ('öl'),('ober'),('ost')) t(x) ORDER BY icu_sort_key(x, 'de'), x")
        .collect().map(_.getString(0)).toSeq)
    // keys are deterministic uppercase hex
    assert(one("SELECT icu_collate_en('abc') AS k").getString(0).matches("[0-9A-F]+"))
  }

  test("format() fmt specs (r17): every expected value is a probed duckdb 1.0.0 output") {
    def one(sql: String): String = {
      val r = SqlStage("s", sql).apply(spark, spark.range(1).toDF("i")).collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    def fmt(call: String): String = one(s"SELECT $call AS m")
    // --- float f/e/g: exact-binary HALF_EVEN rounding (NOT Java's %.Nf)
    assert(fmt("format('{:.2f}', 3.14159)") == "3.14")
    assert(fmt("format('{:.2f}', 2.345)") == "2.35")
    assert(fmt("format('{:.1f}', 0.25)") == "0.2") // Java %.1f says 0.3
    assert(fmt("format('{:.0f}', 2.5)") == "2")
    assert(fmt("format('{:.0f}', 1.5)") == "2")
    assert(fmt("format('{:.0f}', 0.5)") == "0")
    assert(fmt("format('{:.1f}', 0.45)") == "0.5") // 0.45 is above the half
    assert(fmt("format('{:.10f}', 0.1)") == "0.1000000000")
    assert(fmt("format('{:.30f}', 0.1)") == "0.100000000000000005551115123126")
    assert(fmt("format('{:f}', 3.0)") == "3.000000")
    assert(fmt("format('{:.2f}', 1e20)") == "100000000000000000000.00")
    // the -0.0 LITERAL parses as negated-decimal +0.0 in both engines;
    // a true IEEE -0.0 (string cast) keeps its sign bit in both
    assert(fmt("format('{:.2f}', -0.0)") == "0.00")
    assert(fmt("format('{:.2f}', CAST('-0.0' AS DOUBLE))") == "-0.00")
    assert(fmt("format('{}', CAST('-0.0' AS DOUBLE))") == "-0.0")
    assert(fmt("format('{:.2f}', -0.004)") == "-0.00") // rounded zero: signed
    assert(fmt("format('{:+.2f}', 0.0)") == "+0.00")
    assert(fmt("format('{:.1e}', 1.25)") == "1.2e+00") // Java %e says 1.3e+00
    assert(fmt("format('{:.1e}', 1.35)") == "1.4e+00") // 1.35 binary is above half
    assert(fmt("format('{:e}', 31415.9265)") == "3.141593e+04")
    assert(fmt("format('{:.1E}', 1.25)") == "1.2E+00")
    assert(fmt("format('{:.0e}', 31415.9)") == "3e+04")
    assert(fmt("format('{:e}', 0.0)") == "0.000000e+00")
    assert(fmt("format('{:e}', 9.999999999e5)") == "1.000000e+06") // carry ripples
    assert(fmt("format('{:e}', 1e300)") == "1.000000e+300") // 3-digit exponent
    assert(fmt("format('{:.18e}', 0.1)") == "1.000000000000000056e-01")
    assert(fmt("format('{:g}', 123456.0)") == "123456")
    assert(fmt("format('{:g}', 1234567.0)") == "1.23457e+06")
    assert(fmt("format('{:g}', 999999.5)") == "1e+06") // rounding flips the form
    assert(fmt("format('{:g}', 999999.4)") == "999999")
    assert(fmt("format('{:g}', 0.0001)") == "0.0001")
    assert(fmt("format('{:g}', 9.9999e-5)") == "9.9999e-05")
    assert(fmt("format('{:g}', 0.0)") == "0")
    assert(fmt("format('{:g}', 100.0)") == "100")
    assert(fmt("format('{:G}', 0.00001)") == "1E-05")
    assert(fmt("format('{:.3g}', 1234.0)") == "1.23e+03")
    // DuckDB's fmt small-value %g position bug, reproduced bug-for-bug
    // (differentially validated on 4,000 random pairs — see fmtGForm)
    assert(fmt("format('{:.1g}', 0.0001)") == "0.01")
    assert(fmt("format('{:.2g}', 0.00012)") == "0.0012")
    assert(fmt("format('{:.1g}', 0.00055)") == "0.06")
    assert(fmt("format('{:.4g}', 0.00012345)") == "0.0001234")
    assert(fmt("format('{:.1g}', 0.12)") == "0.1")
    assert(fmt("format('{:.2g}', 95.0)") == "95")
    assert(fmt("format('{:.17g}', 0.1)") == "0.10000000000000001")
    assert(fmt("format('{:.20g}', 0.1)") == "0.10000000000000000555")
    assert(fmt("format('{:#g}', 100.0)") == "100.000") // '#' keeps zeros
    assert(fmt("format('{:.3}', 3.14159)") == "3.14") // no-type + prec = %g
    assert(fmt("format('{:.3}', 1234.0)") == "1.23e+03")
    // --- float default repr = DuckDB's VARCHAR form (shortest digits)
    assert(fmt("format('{:8}', 2.5)") == "     2.5")
    assert(fmt("format('{:<8}', 2.5)") == "2.5     ")
    assert(fmt("format('{:10}', 100.0)") == "     100.0")
    assert(fmt("format('{:10}', 1e16)") == "     1e+16")
    assert(fmt("format('{}', 1e15)") == "1000000000000000.0")
    assert(fmt("format('{}', 1e16)") == "1e+16")
    assert(fmt("format('{}', 123456789012345678.0)") == "1.2345678901234568e+17")
    assert(fmt("format('{}', 0.0001)") == "0.0001")
    assert(fmt("format('{}', 0.00001)") == "1e-05")
    assert(fmt("format('{}', 1e300)") == "1e+300")
    assert(fmt("format('{}', -0.0)") == "0.0")
    // (an odd integer > 2^53 would be an exact decimal→double TIE, where
    // the two engines' decimal literal casts round differently — that
    // divergence lives in CAST, not in the formatter; pin an exact value)
    assert(fmt("format('{}', 8888888888888888.0)") == "8888888888888888.0")
    // nan/inf lowercase, sign flag applies
    assert(fmt("format('{:f}', CAST('NaN' AS DOUBLE))") == "nan")
    assert(fmt("format('{:f}', CAST('Infinity' AS DOUBLE))") == "inf")
    assert(fmt("format('{:f}', CAST('-Infinity' AS DOUBLE))") == "-inf")
    assert(fmt("format('{:+f}', CAST('Infinity' AS DOUBLE))") == "+inf")
    // --- REAL: typed forms widen exactly; default repr is float-width
    assert(fmt("format('{}', CAST(2.345 AS FLOAT))") == "2.345")
    // string cast: correctly-rounded strtof in both engines (2^24+1 ties
    // even; the DECIMAL-literal cast would tie-round differently across
    // engines — the CAST layer again, not the formatter)
    assert(fmt("format('{}', CAST('16777217' AS FLOAT))") == "16777216.0")
    assert(fmt("format('{}', CAST('16777218' AS FLOAT))") == "16777218.0")
    assert(fmt("format('{}', CAST(1e20 AS FLOAT))") == "1e+20")
    assert(fmt("format('{:10}', CAST(2.345 AS FLOAT))") == "     2.345")
    assert(fmt("format('{:g}', CAST(2.345 AS FLOAT))") == "2.345")
    assert(fmt("format('{:e}', CAST(2.345 AS FLOAT))") == "2.345000e+00")
    assert(fmt("format('{:.1f}', CAST(2.25 AS FLOAT))") == "2.2")
    // --- DECIMAL formats as float (probed: its '{:d}' names type float)
    assert(fmt("format('{:.2f}', CAST(2.345 AS DECIMAL(5,3)))") == "2.35")
    assert(fmt("format('{}', CAST(2.100 AS DECIMAL(5,3)))") == "2.1")
    assert(fmt("format('{}', CAST(42 AS DECIMAL(5,0)))") == "42.0")
    // --- ints: radix, sign-magnitude negatives, '#', grouping
    assert(fmt("format('{:8}', 42)") == "      42")
    assert(fmt("format('{:08}', 42)") == "00000042")
    assert(fmt("format('{:08d}', -42)") == "-0000042")
    assert(fmt("format('{:+08d}', 42)") == "+0000042")
    assert(fmt("format('{: d}', 42)") == " 42")
    assert(fmt("format('{: d}', -42)") == "-42")
    assert(fmt("format('{:=8}', -42)") == "-     42")
    assert(fmt("format('{:*>8}', 42)") == "******42")
    assert(fmt("format('{:*<8d}', -42)") == "-42*****")
    assert(fmt("format('{:x}', 255)") == "ff")
    assert(fmt("format('{:X}', 255)") == "FF")
    assert(fmt("format('{:x}', -255)") == "-ff") // sign-magnitude, not 2's compl
    assert(fmt("format('{:#x}', 255)") == "0xff")
    assert(fmt("format('{:#X}', 255)") == "0XFF")
    assert(fmt("format('{:#x}', -255)") == "-0xff")
    assert(fmt("format('{:#x}', 0)") == "0x0")
    assert(fmt("format('{:+#x}', 255)") == "+0xff")
    assert(fmt("format('{: x}', 255)") == " ff")
    assert(fmt("format('{:o}', 8)") == "10")
    assert(fmt("format('{:o}', -8)") == "-10")
    assert(fmt("format('{:#o}', 8)") == "010")
    assert(fmt("format('{:#o}', 0)") == "0")
    assert(fmt("format('{:b}', 5)") == "101")
    assert(fmt("format('{:#b}', 5)") == "0b101")
    assert(fmt("format('{:,d}', -1234567)") == "-1,234,567")
    assert(fmt("format('{:,10d}', 1234567)") == " 1,234,567") // ',' sits in the SIGN slot
    assert(fmt("format('{:,x}', 4096)") == "4,096") // ',' forces grouped decimal
    assert(fmt("format('{:,b}', 5)") == "5")
    assert(fmt("format('{:,#x}', 4096)") == "4,096") // '#' after ',' is inert
    assert(fmt("format('{:,08d}', 4096)") == "0004,096") // zero-fill AFTER ','
    assert(fmt("format('{:=,8d}', -4096)") == "-  4,096")
    assert(fmt("format('{:*>,8d}', 4096)") == "***4,096")
    assert(fmt("format('{:08.2f}', 3.14159)") == "00003.14")
    // the zero flag overrides any explicit fill/align (sign-aware)
    assert(fmt("format('{:*>08.2f}', -3.14159)") == "-0003.14")
    assert(fmt("format('{:<08.2f}', -3.14159)") == "-0003.14")
    assert(fmt("format('{:5d}', 42)") == "   42")
    // --- strings: width counts codepoints; precision truncates
    assert(fmt("format('{:>8}', 'ab')") == "      ab")
    assert(fmt("format('{:<8}', 'ab')") == "ab      ")
    assert(fmt("format('{:^8}', 'ab')") == "   ab   ")
    assert(fmt("format('{:*^9}', 'ab')") == "***ab****")
    assert(fmt("format('{:.2s}', 'hello')") == "he")
    assert(fmt("format('{:.2}', 'hello')") == "he")
    assert(fmt("format('{:6.2s}', 'hello')") == "he    ")
    assert(fmt("format('{:.0s}', 'ab')") == "")
    assert(fmt("format('{:7}', '日本語')") == "日本語    ")
    assert(fmt("format('{:.3s}', '日本語です')") == "日本語")
    assert(fmt("format('{:,s}', 'ab')") == "ab") // ',' silently ignored for strings
    // --- booleans: string by default, int under an integer type char
    assert(fmt("format('{:8}', true)") == "true    ")
    assert(fmt("format('{:d}', true)") == "1")
    assert(fmt("format('{:^5d}', true)") == "  1  ")
    // --- positional + spec, multiple placeholders, NULL propagation
    assert(fmt("format('{0:.2f} {0}', 2.5)") == "2.50 2.5")
    assert(fmt("format('[{:>6.2f}|{:,d}]', 3.14159, 1234567)") == "[  3.14|1,234,567]")
    assert(fmt("format('{:.2f}', CAST(NULL AS DOUBLE))") == null)
    // --- loud parity errors (each probed as a DuckDB Invalid Input Error)
    def fails(call: String, needle: String): Unit = {
      val e = intercept[Exception](one(s"SELECT $call AS m"))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"$call → ${e.getMessage}")
    }
    fails("format('{:.2f}', 5)", "precision not allowed")
    fails("format('{:f}', 42)", "Invalid type specifier")
    fails("format('{:d}', 2.5)", "Invalid type specifier")
    fails("format('{:,.2f}', 1234567.891)", "Thousand separators are not supported")
    fails("format('{:08}', 'ab')", "requires numeric argument")
    fails("format('{:+s}', 'ab')", "requires numeric argument")
    fails("format('{:d}', DATE '2020-01-01')", "Invalid type specifier")
    fails("format('{:{}}', 42, 8)", "dynamic width")
    fails("format('{:.0g}', 1234.0)", "precision 0")
    fails("format('{:.0}', 1234.0)", "precision 0")
    // sign and ',' are mutually exclusive (both DuckDB "missing '}'" errors)
    fails("format('{:+,d}', 42)", "format")
    fails("format('{:,+d}', 42)", "format")
  }

  test("printf() %-specs (r17): every expected value is a probed duckdb 1.0.0 output") {
    def one(sql: String): String = {
      val r = SqlStage("s", sql).apply(spark, spark.range(1).toDF("i")).collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    def fmt(call: String): String = one(s"SELECT $call AS m")
    // floats share the exact-binary half-even kernels (NOT Java's %.Nf)
    assert(fmt("printf('%.1f', 0.25)") == "0.2") // Spark's own printf says 0.3
    assert(fmt("printf('%.1f', 0.35)") == "0.3")
    assert(fmt("printf('%.0f', 2.5)") == "2")
    assert(fmt("printf('%.2f', 2.345)") == "2.35")
    assert(fmt("printf('%e', 31415.9265)") == "3.141593e+04")
    assert(fmt("printf('%.0e', 2.5)") == "2e+00")
    assert(fmt("printf('%g', 1234567.0)") == "1.23457e+06")
    assert(fmt("printf('%g', 0.0001)") == "0.0001")
    assert(fmt("printf('%.1g', 0.0001)") == "0.01") // the shared small-value %g bug
    assert(fmt("printf('%g', 999999.5)") == "1e+06")
    assert(fmt("printf('%#g', 100.0)") == "100.000")
    assert(fmt("printf('%.30f', 0.1)") == "0.100000000000000005551115123126")
    assert(fmt("printf('% .2f', 2.5)") == " 2.50")
    assert(fmt("printf('%-5.1f|', 2.25)") == "2.2  |")
    // ints: flags, widths, grouping; zero beats '-' (probed)
    assert(fmt("printf('%d', 42)") == "42")
    assert(fmt("printf('%i', 42)") == "42")
    assert(fmt("printf('%5d', -42)") == "  -42")
    assert(fmt("printf('%-5d|', 42)") == "42   |")
    assert(fmt("printf('%05d', -42)") == "-0042")
    assert(fmt("printf('%0-8d|', 42)") == "00000042|")
    assert(fmt("printf('%+d', 42)") == "+42")
    assert(fmt("printf('%,d', 1234567)") == "1,234,567")
    assert(fmt("printf('%+,d', 42)") == "+42") // printf allows sign + grouping
    // unsigned conversions: two's complement at the STORAGE width
    assert(fmt("printf('%x', 255)") == "ff")
    assert(fmt("printf('%x', -255)") == "ffffff01") // 32-bit INT arg
    assert(fmt("printf('%x', CAST(-255 AS BIGINT))") == "ffffffffffffff01")
    assert(fmt("printf('%x', CAST(-255 AS SMALLINT))") == "ffffff01") // promotes to 32
    assert(fmt("printf('%X', CAST(-1 AS BIGINT))") == "FFFFFFFFFFFFFFFF")
    assert(fmt("printf('%u', -255)") == "4294967041")
    assert(fmt("printf('%u', CAST(-255 AS BIGINT))") == "18446744073709551361")
    assert(fmt("printf('%o', -8)") == "37777777770")
    assert(fmt("printf('%b', -5)") == "11111111111111111111111111111011")
    assert(fmt("printf('%#x', 255)") == "0xff")
    assert(fmt("printf('%#o', 8)") == "010")
    assert(fmt("printf('%#b', 5)") == "0b101")
    assert(fmt("printf('%#x', 0)") == "0") // '#' prefixes only nonzero (C)
    assert(fmt("printf('%#2X', 0)") == " 0") // seed-83 fuzz find
    assert(fmt("format('{:#x}', 0)") == "0x0") // while the brace form keeps it
    assert(fmt("printf('%,x', 4096)") == "4,096") // grouping overrides the radix
    // the argument-width CONTRACT holds through dialect rewrites (r18,
    // fuzz templates 62-65): `//` keeps the operands' common integer
    // type (typeof(-30 // 13) = INTEGER, probed) and least/greatest
    // bind DuckDB's BIGINT overload even for narrow ints (probed)
    assert(fmt("printf('%x', (-30 // 13))") == "fffffffe")
    assert(fmt("printf('%x', (CAST(-30 AS BIGINT) // 13))") == "fffffffffffffffe")
    assert(fmt("printf('%x', greatest(-65, -26))") == "ffffffffffffffe6")
    assert(fmt("printf('%x', least(CAST(-2 AS SMALLINT), CAST(-1 AS SMALLINT)))") ==
      "fffffffffffffffe")
    // %c: codepoint; width pads LEFT whatever '-' says (probed quirk)
    assert(fmt("printf('%c', 65)") == "A")
    assert(fmt("printf('%5c|', 65)") == "    A|")
    assert(fmt("printf('%-5c|', 65)") == "    A|")
    // strings: default RIGHT align (unlike the brace form), truncation
    assert(fmt("printf('%s|%s', 'a', 'b')") == "a|b")
    assert(fmt("printf('%10.2s|', 'hello')") == "        he|")
    assert(fmt("printf('%7s|', '日本語')") == "    日本語|")
    assert(fmt("printf('%.1s', 'ab')") == "a")
    // positionals, escapes, bools, NULLs, inert length modifiers
    assert(fmt("printf('%2$s %1$s', 'a', 'b')") == "b a")
    assert(fmt("printf('%%')") == "%")
    assert(fmt("printf('%d', true)") == "1")
    assert(fmt("printf('%x', true)") == "1")
    assert(fmt("printf('%s', true)") == "true")
    assert(fmt("printf('%ld', 42)") == "42")
    assert(fmt("printf('%s', CAST(NULL AS STRING))") == null)
    assert(fmt("printf('%d', 1, 2)") == "1") // excess args fine
    assert(fmt("printf('%.2f', CAST(2.345 AS DECIMAL(5,3)))") == "2.35")
    assert(fmt("printf('%.2f', CAST(2.345 AS FLOAT))") == "2.35")
    // loud parity errors (each a DuckDB Invalid Input Error too)
    def fails(call: String, needle: String): Unit = {
      val e = intercept[Exception](one(s"SELECT $call AS m"))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"$call → ${e.getMessage}")
    }
    fails("printf('%s', 42)", "Invalid type specifier")
    fails("printf('%d', 2.9)", "Invalid type specifier")
    fails("printf('%x', 2.5)", "Invalid type specifier")
    fails("printf('%c', 'A')", "Invalid type specifier")
    fails("printf('%1$s %s', 'a', 'b')", "manual to automatic")
    fails("printf('%d %d', 1)", "out of range")
    fails("printf('%hd', 70000)", "length modifier")
    fails("printf('%a', 1.0)", "conversion")
  }

  test("printf() sign flags, C precision and dynamic '*' (r18): probed duckdb 1.0.0") {
    def one(sql: String): String = {
      val r = SqlStage("s", sql).apply(spark, spark.range(1).toDF("i")).collect().head
      if (r.isNullAt(0)) null else r.getString(0)
    }
    def fmt(call: String): String = one(s"SELECT $call AS m")
    // sign/space flags APPLY to unsigned conversions (ADVICE r17)
    assert(fmt("printf('%+x', 255)") == "+ff")
    assert(fmt("printf('% u', 5)") == " 5")
    assert(fmt("printf('%+o', 8)") == "+10")
    assert(fmt("printf('%+b', 5)") == "+101")
    assert(fmt("printf('%+x', -255)") == "+ffffff01")
    assert(fmt("printf('%#+x', 255)") == "+0xff")
    assert(fmt("printf('%+5x', 255)") == "  +ff")
    assert(fmt("printf('%+05x', 255)") == "+00ff")
    assert(fmt("printf('%+,u', 123456)") == "+123,456")
    // C min-digit precision on integer conversions (ADVICE r17)
    assert(fmt("printf('%.5x', 255)") == "000ff")
    assert(fmt("printf('%.3u', 5)") == "005")
    assert(fmt("printf('%.5d', -42)") == "-00042")
    assert(fmt("printf('%8.5d', -42)") == "  -00042")
    assert(fmt("printf('%-8.5d|', -42)") == "-00042  |")
    assert(fmt("printf('%.5i', 42)") == "00042")
    assert(fmt("printf('%+.5d', 42)") == "+00042")
    assert(fmt("printf('%.2d', 12345)") == "12345")
    assert(fmt("printf('%.2d', true)") == "01")
    // fmt drops the precision when the zero flag is present (NOT C)
    assert(fmt("printf('%08.5d', -42)") == "-0000042")
    assert(fmt("printf('%0.5d', 42)") == "42")
    assert(fmt("printf('%010.5x', 255)") == "00000000ff")
    // extension counts CHARS after grouping; octal '#' merges pre-extension
    assert(fmt("printf('%,.8d', 123456)") == "0123,456")
    assert(fmt("printf('%,.8d', -123456)") == "-0123,456")
    assert(fmt("printf('%,.9x', 4096)") == "00004,096")
    assert(fmt("printf('%#.5o', 8)") == "00010")
    assert(fmt("printf('%#.1o', 8)") == "010")
    assert(fmt("printf('%#.5x', 255)") == "0x000ff")
    assert(fmt("printf('%#.5b', 5)") == "0b00101")
    assert(fmt("printf('%#,.5o', 8)") == "00008")
    assert(fmt("printf('%.0d', 0)") == "0")
    assert(fmt("printf('%.5d', 0)") == "00000")
    assert(fmt("printf('%.17x', CAST(-1 AS BIGINT))") == "0ffffffffffffffff")
    // sign/'#'/zero flags are inert on %s (fmt sprintf, probed)
    assert(fmt("printf('%+s', 'ab')") == "ab")
    assert(fmt("printf('%#s', 'ab')") == "ab")
    assert(fmt("printf('%05s|', 'ab')") == "   ab|")
    // dynamic '*' width/precision consumes sequential arguments
    assert(fmt("printf('%*d|', 6, 42)") == "    42|")
    assert(fmt("printf('%-*d|', 6, 42)") == "42    |")
    assert(fmt("printf('%*d|', -6, 42)") == "42    |") // negative w → left align
    assert(fmt("printf('%0*d|', -6, 42)") == "000042|") // …unless zero flag (fmt quirk)
    assert(fmt("printf('%0*d', 6, 42)") == "000042")
    assert(fmt("printf('%.*f', 2, 1.23456)") == "1.23")
    assert(fmt("printf('%.*d', 5, 42)") == "00042")
    assert(fmt("printf('%.*d', -5, 42)") == "42") // negative p clamps to 0
    assert(fmt("printf('%.*f', -2, 1.5)") == "2")
    assert(fmt("printf('%.*s', -3, 'abcdef')") == "")
    assert(fmt("printf('%5.*s|', -3, 'abcdef')") == "     |")
    assert(fmt("printf('%*.*f|', 10, 2, 1.23456)") == "      1.23|")
    assert(fmt("printf('%*.*d|', -8, 4, 42)") == "0042    |")
    assert(fmt("printf('%*s|', 5, 'ab')") == "   ab|")
    assert(fmt("printf('%*x', 6, 255)") == "    ff")
    assert(fmt("printf('%.*x', 5, 255)") == "000ff")
    assert(fmt("printf('%*c|', 4, 65)") == "   A|")
    assert(fmt("printf('%*c|', -4, 65)") == "   A|") // %c pads left regardless
    assert(fmt("printf('%,*d|', 8, 123456)") == " 123,456|")
    assert(fmt("printf('%+*d', 6, 42)") == "   +42")
    assert(fmt("printf('%.*e', 2, 12345.678)") == "1.23e+04")
    assert(fmt("printf('%*d %*d', 4, 1, 4, 2)") == "   1    2")
    assert(fmt("printf('%*d', true, 42)") == "42") // bool width promotes to 1
    assert(fmt("printf('%*d', CAST(6 AS TINYINT), 42)") == "    42")
    // NULL in a consumed slot → NULL row (DuckDB returns NULL)
    assert(fmt("printf('%*d', CAST(NULL AS INT), 42)") == null)
    assert(fmt("printf('%.*f', CAST(NULL AS INT), 1.5)") == null)
    def fails(call: String, needle: String): Unit = {
      val e = intercept[Exception](one(s"SELECT $call AS m"))
      assert(e.getMessage != null && e.getMessage.contains(needle),
        s"$call → ${e.getMessage}")
    }
    // %g precision clamping to 0 lands in the documented '{:.0g}'
    // TERMINAL (fmt emits unspecified digits — '9.5' from 9.5 but
    // '1000' from 1234.567, probed for printf too): loud guided error,
    // the same disposition as the static '%.0g'
    fails("printf('%.*g', -2, 1234.567)", "precision")
    // loud parity errors (each probed: DuckDB Invalid Input Error too)
    fails("printf('%*d', 6.5, 42)", "width is not integer")
    fails("printf('%*d', '6', 42)", "width is not integer")
    fails("printf('%.*f', 2.5, 1.5)", "precision is not integer")
    fails("printf('%*s|', 5, 42)", "Invalid type specifier")
    fails("printf('%2$*1$d', 6, 42)", "positional")
    fails("printf('%*d', 8)", "out of range")
  }

}
