package graft

import graft.operators.{Pipeline, SqlStage, TransformRegistry}
import java.nio.file.Files
import org.apache.spark.sql.functions._

class PipelineSpec extends SparkSpec {

  private def tmpCsv(name: String, header: String, rows: Seq[String],
                     delim: String = ";"): String = {
    val dir = Files.createTempDirectory("graft").toFile
    val f = new java.io.File(dir, name)
    val w = new java.io.PrintWriter(f)
    w.println(header)
    rows.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  test("phones fixture e2e: source → derive regex classify → sql EXCLUDE → sink (FIXTURES.md §3)") {
    val in = tmpCsv("phones.csv", "telefono",
      Seq("912345678", "612345678", "12345", "698765432"))
    val out = Files.createTempDirectory("graft-out").toString + "/result"
    val yaml =
      """
        |inDelimiter: ";"
        |outDelimiter: ";"
        |filters:
        |  - name: classify
        |    actionType: derive
        |    actionConfig:
        |      columns:
        |        - name: tipo_telefono
        |          expr: "CASE WHEN CAST(telefono AS STRING) RLIKE '^9[0-9]{8}$' THEN 'fijo' WHEN CAST(telefono AS STRING) RLIKE '^6[0-9]{8}$' THEN 'movil' ELSE 'error' END"
        |        - name: aux
        |          expr: "length(CAST(telefono AS STRING))"
        |  - name: project
        |    actionType: sql
        |    code: "SELECT * EXCLUDE(aux) FROM df"
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, in, Some(out))
    assert(res.output.columns.toSeq == Seq("telefono", "tipo_telefono"))
    val got = res.output.collect().map(r => (r.get(0).toString, r.getString(1))).toMap
    assert(got("912345678") == "fijo")
    assert(got("612345678") == "movil")
    assert(got("12345") == "error")
    assert(got("698765432") == "movil")
    // sink round-trip with delimiter
    val back = spark.read.option("header", "true").option("delimiter", ";").csv(out)
    assert(back.count() == 4)
    assert(back.columns.toSeq == Seq("telefono", "tipo_telefono"))
  }

  test("training-data pipeline in YAML: quality filter → PII redact → fingerprint dedup → simhash, all via sql stages") {
    // the extended engine surface (native functions, dedup, scrubbing)
    // composes through the SAME YAML pipeline a reference user writes
    val out = Files.createTempDirectory("graft-tdp").toString + "/result"
    val yaml =
      s"""
        |filters:
        |  - name: quality_filter
        |    actionType: sql
        |    code: "SELECT doc_id, lang, text FROM df WHERE size(split(text, ' ')) >= 5"
        |  - name: pii_redact
        |    actionType: sql
        |    code: "SELECT doc_id, lang, redact_pii(text) AS text FROM df"
        |  - name: dedup_fingerprint
        |    actionType: sql
        |    code: "SELECT MIN(doc_id) AS doc_id, MIN(lang) AS lang, MIN(text) AS text FROM df GROUP BY norm_fingerprint(text)"
        |  - name: signatures
        |    actionType: sql
        |    code: "SELECT doc_id, lang, text, simhash_sig(split(text, ' '), 'xx') AS simhash FROM df"
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", Some(out))
    val rows = res.output.count()
    // every stage ran: dedup count equals the batch fingerprint dedup
    val expected = graft.queries.TextQueries.q38Fingerprint(spark, sf).count()
    assert(rows == expected && rows > 0)
    assert(res.output.columns.toSeq == Seq("doc_id", "lang", "text", "simhash"))
    assert(res.output.filter(col("simhash") =!= 0L).count() == rows)
  }

  test("clean stage in YAML: gopher filter and c4 rebuild match the raw operators") {
    val yaml =
      s"""
        |filters:
        |  - name: gopher_gate
        |    actionType: clean
        |    actionConfig: {method: gopher, text: text, minWords: 30, minStopTypes: 1}
        |  - name: c4_flags
        |    actionType: clean
        |    actionConfig: {method: c4, text: text, flags: true}
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", None)
    val out = res.output
    val docs = Tables.documents(spark, sf)
    val expected = docs.filter(graft.functions.TextFunctions.gopherRules(
      col("text"), minWords = 30, minStopTypes = 1).getField("keep")).count()
    assert(out.count() == expected && expected > 0 && expected < docs.count())
    // audit mode appended the c4 flag columns without dropping rows —
    // method-prefixed so they can never shadow a user column (r9 review)
    assert(Seq("c4_n_lines_kept", "c4_has_lorem", "c4_keep").forall(out.columns.contains))
    // filtering c4 mode replaces the text with the rebuilt page
    val c4 = Pipeline.runYaml(spark,
      s"""
        |filters:
        |  - name: c4_rebuild
        |    actionType: clean
        |    actionConfig: {method: c4, text: text, minLineWords: 3, minLines: 1}
        |""".stripMargin, s"$sf/documents.parquet", None).output
    // the synthetic corpus is one unpunctuated line per doc → no line
    // survives the terminal-punctuation rule → every row drops
    assert(c4.count() == 0)
    // repetition method filters on the Gopher §A1.2 keep conjunction
    val rep = Pipeline.runYaml(spark,
      s"""
        |filters:
        |  - name: rep_gate
        |    actionType: clean
        |    actionConfig: {method: repetition, text: text}
        |""".stripMargin, s"$sf/documents.parquet", None).output
    val expectedRep = docs.filter(graft.functions.TextFunctions
      .repetitionProfile(col("text")).getField("keep")).count()
    assert(rep.count() == expectedRep && expectedRep > 0)
  }

  test("dedup + split as first-class YAML stages: near-dup removal then n-way labels") {
    val yaml =
      s"""
        |filters:
        |  - name: near_dedup
        |    actionType: dedup
        |    actionConfig: {method: minhash, id: doc_id, text: text, threshold: 0.6}
        |  - name: assign_split
        |    actionType: split
        |    actionConfig:
        |      id: doc_id
        |      column: split
        |      weights: {train: 14, val: 1, test: 1}
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", None)
    val out = res.output
    // near-dup removal matches the library operator exactly
    val expected = graft.functions.Dedup.dropNearDuplicates(
      Tables.documents(spark, sf), "doc_id", "text", threshold = 0.6).count()
    assert(out.count() == expected && expected > 0)
    // split labels are a total partition with the right rough shares
    val byLabel = out.groupBy("split").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    assert(byLabel.values.sum == expected)

    // exact-method dedup through YAML equals the sql-stage fingerprint twin
    val yamlExact =
      s"""
        |filters:
        |  - name: fp_dedup
        |    actionType: dedup
        |    actionConfig: {method: fingerprint, id: doc_id, text: text}
        |""".stripMargin
    val exactRows = Pipeline.runYaml(spark, yamlExact, s"$sf/documents.parquet", None).output.count()
    assert(exactRows == graft.queries.TextQueries.q38Fingerprint(spark, sf).count())

    // spans method: text column replaced in place, schema otherwise intact,
    // fully-duplicated docs dropped
    val yamlSpans =
      s"""
        |filters:
        |  - name: span_dedup
        |    actionType: dedup
        |    actionConfig: {method: spans, id: doc_id, text: text, width: 20}
        |""".stripMargin
    val spansOut = Pipeline.runYaml(spark, yamlSpans, s"$sf/documents.parquet", None).output
    assert(spansOut.columns.contains("text") && spansOut.columns.contains("lang"))
    val twin = graft.functions.Dedup.dedupSpans(
      Tables.documents(spark, sf), "doc_id", "text", 20)
      .filter(col("n_kept") > 0)
    assert(spansOut.count() == twin.count())
    // n_chars follows the rewritten text, not the original
    if (spansOut.columns.contains("n_chars"))
      assert(spansOut.filter(col("n_chars") =!= length(col("text"))).count() == 0)

    // spans stage keeps originally-empty docs (not duplicates of anything)
    // and drops only entirely-duplicated non-empty docs (ADVICE r5)
    {
      import spark.implicits._
      val fixture = Seq(
        (1L, "alpha beta gamma", 16L),
        (2L, "alpha beta gamma", 16L), // full duplicate of doc 1 → dropped
        (3L, "", 0L),                  // originally empty → kept
        (4L, "", 0L))                  // second empty doc → also kept
        .toDF("doc_id", "text", "n_chars")
      val cleaned = graft.operators.DedupStage(
        "s", "spans", "doc_id", "text", 0.6, 3, 32, 8, width = 3)
        .apply(spark, fixture)
      val byId = cleaned.collect().map(r =>
        r.getAs[Long]("doc_id") -> ((r.getAs[String]("text"), r.getAs[Long]("n_chars")))).toMap
      assert(byId.keySet == Set(1L, 3L, 4L), s"kept=${byId.keySet}")
      assert(byId(1L) == ("alpha beta gamma", 16L))
      assert(byId(3L) == ("", 0L) && byId(4L) == ("", 0L))
    }

    // lines method: boilerplate lines stripped from every doc, pure-
    // boilerplate docs dropped, empty docs kept (same keep rule as spans)
    {
      import spark.implicits._
      val fixture = Seq(
        (1L, "cookie banner\nreal content one"),
        (2L, "cookie banner\nreal content two"),
        (3L, "cookie banner\nreal content three"),
        (4L, "cookie banner"),          // nothing but boilerplate → dropped
        (5L, ""))                        // originally empty → kept
        .toDF("doc_id", "text")
      val cleaned = graft.operators.DedupStage(
        "l", "lines", "doc_id", "text", 0.6, 3, 32, 8, maxDf = 2)
        .apply(spark, fixture)
      val byId = cleaned.collect().map(r =>
        r.getAs[Long]("doc_id") -> r.getAs[String]("text")).toMap
      assert(byId.keySet == Set(1L, 2L, 3L, 5L), s"kept=${byId.keySet}")
      assert(byId(1L) == "real content one" && byId(5L) == "")
      val yamlLines =
        s"""
          |filters:
          |  - name: line_dedup
          |    actionType: dedup
          |    actionConfig: {method: lines, id: doc_id, text: text, maxDf: 4}
          |""".stripMargin
      val linesOut = Pipeline.runYaml(spark, yamlLines, s"$sf/documents.parquet", None).output
      assert(linesOut.columns.contains("text") && linesOut.count() > 0)
    }

    // vectors method: SemDeDup-style embedding dedup from YAML over the
    // embeddings table — the duplicate-free corpus keeps one rep per
    // near-identical group, matching the Scala operator exactly
    {
      val yamlVec =
        s"""
          |filters:
          |  - name: semantic_dedup
          |    actionType: dedup
          |    actionConfig: {method: vectors, id: vec_id, vec: embedding, threshold: 0.95}
          |""".stripMargin
      val vecOut = Pipeline.runYaml(spark, yamlVec, s"$sf/embeddings.parquet", None).output
      val twin = graft.functions.VectorFunctions.dropNearDupVectors(
        Tables.embeddings(spark, sf), "vec_id", "embedding", 0.95)
      assert(vecOut.count() == twin.count() && vecOut.count() > 0)
    }

    // semdedup dedup stage from YAML: kmeans cluster-then-prune over the
    // embedding column; kept rows match the operator chain called
    // directly (the build is deterministic, so counts agree exactly)
    {
      val yamlSem =
        s"""
          |filters:
          |  - name: sem
          |    actionType: dedup
          |    actionConfig: {method: semdedup, id: vec_id, vec: embedding, threshold: 0.42, clusters: 8}
          |""".stripMargin
      val out = Pipeline.runYaml(spark, yamlSem, s"$sf/embeddings.parquet", None).output
      val emb = Tables.embeddings(spark, sf)
      val corpus = emb.select(col("vec_id"), col("embedding"))
      val idx = graft.functions.VectorFunctions.buildIvf(corpus, nlist = 8, refine = 1)
      val twin = graft.functions.VectorFunctions.semDedup(corpus, idx.centroids, 0.42)
      assert(out.count() == twin.count() && out.count() > 0 &&
        out.count() < emb.count())
      assert(out.columns.toSeq == emb.columns.toSeq)
    }

    // dsir mix stage from YAML: importance-resample toward the English
    // slice; the kept rows match the operator called directly
    {
      val yamlDsir =
        s"""
          |filters:
          |  - name: toward_en
          |    actionType: mix
          |    actionConfig: {method: dsir, id: doc_id, text: text, target: "lang = 'en'", fraction: 0.3}
          |""".stripMargin
      val out = Pipeline.runYaml(spark, yamlDsir, s"$sf/documents.parquet", None).output
      val docs = Tables.documents(spark, sf)
      val twin = graft.functions.Mix.dsirResample(docs,
        docs.filter(col("lang") === "en"), "doc_id", "text", 0.3)
      assert(out.count() == twin.count() && out.count() > 0)
      assert(out.columns.toSeq == docs.columns.toSeq) // original row shape kept
    }

    // score stage + quality mix chained from YAML: rarity columns added,
    // then each language gated to its top half by that score
    {
      val yamlScore =
        s"""
          |filters:
          |  - name: score
          |    actionType: score
          |    actionConfig: {id: doc_id, text: text}
          |  - name: keep_best
          |    actionType: mix
          |    actionConfig: {method: quality, stratum: lang, id: doc_id, score: rarity, fraction: 0.5}
          |""".stripMargin
      val scored = Pipeline.runYaml(spark, yamlScore, s"$sf/documents.parquet", None).output
      assert(Seq("rarity", "cross_entropy", "n_tokens").forall(scored.columns.contains))
      val keptPerLang = scored.groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val allPerLang = Tables.documents(spark, sf).groupBy("lang").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      allPerLang.foreach { case (l, n) =>
        assert(keptPerLang(l) == math.ceil(n * 0.5).toLong, s"$l: ${keptPerLang.get(l)} of $n")
      }
    }

    // the full pretraining data-prep story composed from ONE config:
    // near-dup dedup → DSIR selection toward English → quality scoring →
    // per-lang quality gate → temperature rebalance → token budget →
    // split labels → packing
    {
      // temperature emits (doc_id, copy) multiplicities, so a sql stage
      // derives the unique downstream row key for the id-keyed stages
      val yaml =
        s"""
          |filters:
          |  - name: near_dedup
          |    actionType: dedup
          |    actionConfig: {method: minhash, id: doc_id, text: text, threshold: 0.6}
          |  - name: toward_en
          |    actionType: mix
          |    actionConfig: {method: dsir, id: doc_id, text: text, target: "lang = 'en'", fraction: 0.9}
          |  - name: score
          |    actionType: score
          |    actionConfig: {id: doc_id, text: text}
          |  - name: quality_gate
          |    actionType: mix
          |    actionConfig: {method: quality, stratum: lang, id: doc_id, score: rarity, fraction: 0.8}
          |  - name: flatten
          |    actionType: mix
          |    actionConfig: {method: temperature, stratum: lang, id: doc_id, alpha: 0.5}
          |  - name: copy_key
          |    actionType: sql
          |    code: "SELECT *, doc_id * 1000 + copy AS copy_key FROM df"
          |  - name: en_cap
          |    actionType: mix
          |    actionConfig: {method: budget, stratum: lang, id: copy_key, budgets: {en: 4000}, tokens: n_tokens, fanout: 256}
          |  - name: splits
          |    actionType: split
          |    actionConfig: {id: copy_key, weights: {train: 14, val: 1, test: 1}}
          |  - name: pack
          |    actionType: mix
          |    actionConfig: {method: pack, id: copy_key, seqLen: 256, tokens: n_tokens, shards: 256}
          |""".stripMargin
      val out = Pipeline.runYaml(spark, yaml, s"$sf/documents.parquet", None).output
      val rows = out.collect()
      assert(rows.nonEmpty)
      // all stage outputs present
      Seq("rarity", "cross_entropy", "split", "pack_shard", "pack_offset", "pack_id", "cum_tokens")
        .foreach(c => assert(out.columns.contains(c), s"missing $c"))
      // the en token budget held through the whole chain
      val enTokens = rows.filter(_.getAs[String]("lang") == "en")
        .map(_.getAs[Long]("n_tokens")).sum
      assert(enTokens <= 4000L && enTokens > 0)
      // split labels are a total partition
      assert(rows.map(_.getAs[String]("split")).toSet.subsetOf(Set("train", "val", "test")))
      // per-shard packing is gapless over the surviving rows
      rows.groupBy(_.getAs[Int]("pack_shard")).foreach { case (_, rs) =>
        rs.sortBy(_.getAs[Long]("pack_offset")).foldLeft(0L) { case (expect, r) =>
          assert(r.getAs[Long]("pack_offset") == expect)
          expect + r.getAs[Long]("n_tokens")
        }
      }
    }

    // mix stages: token budget then sequence packing, chained
    val yamlMix =
      s"""
        |filters:
        |  - name: en_budget
        |    actionType: mix
        |    actionConfig: {method: budget, stratum: lang, id: doc_id, budgets: {en: 5000}}
        |  - name: pack
        |    actionType: mix
        |    actionConfig: {method: pack, id: doc_id, seqLen: 256}
        |""".stripMargin
    val mixOut = Pipeline.runYaml(spark, yamlMix, s"$sf/documents.parquet", None).output
    assert(mixOut.columns.contains("pack_id") && mixOut.columns.contains("cum_tokens"))
    import org.apache.spark.sql.functions.{sum => fsum}
    val enTokens = mixOut.filter(col("lang") === "en")
      .agg(fsum(expr("size(split(text, ' '))"))).collect()(0).getLong(0)
    assert(enTokens <= 5000L && enTokens > 3000L, s"enTokens=$enTokens")
  }

  test("inDelimiter/outDelimiter 'TAB' means a tab character (loaders.py:10-13)") {
    val in = tmpCsv("t.txt", "a\tb", Seq("1\tx", "2\ty"), delim = "\t")
    val yaml =
      """
        |inDelimiter: "TAB"
        |outDelimiter: "TAB"
        |filters: []
        |""".stripMargin
    val out = Files.createTempDirectory("graft-tab").toString + "/o"
    val res = Pipeline.runYaml(spark, yaml, in, Some(out))
    assert(res.output.columns.toSeq == Seq("a", "b"))
    assert(res.output.count() == 2)
    val back = spark.read.option("header", "true").option("delimiter", "\t").csv(out)
    assert(back.columns.toSeq == Seq("a", "b") && back.count() == 2)
  }

  test("fullExample shape: derive json col → extract fields → EXCLUDE projection (FIXTURES.md §1)") {
    val in = tmpCsv("ids.csv", "id", (1 to 5).map(_.toString))
    val yaml =
      """
        |inDelimiter: ";"
        |filters:
        |  - name: coords
        |    actionType: derive
        |    actionConfig:
        |      columns:
        |        - {name: lat, expr: "40.340 + rand() * (40.643 - 40.340)"}
        |        - {name: lon, expr: "-3.888 + rand() * (-3.517 - -3.888)"}
        |  - name: simulate_geocode
        |    actionType: derive
        |    actionConfig:
        |      columns:
        |        - {name: geocode, expr: "to_json(named_struct('address', concat('Calle ', id), 'state', 'Madrid'))"}
        |  - name: extract
        |    actionType: derive
        |    actionConfig:
        |      columns:
        |        - {name: address, expr: "get_json_object(geocode, '$.address')"}
        |        - {name: state, expr: "get_json_object(geocode, '$.state')"}
        |  - name: project
        |    actionType: sql
        |    code: "SELECT * EXCLUDE(lat, lon, geocode) FROM df"
        |""".stripMargin
    val res = Pipeline.runYaml(spark, yaml, in, None)
    assert(res.output.columns.toSeq == Seq("id", "address", "state"))
    val rows = res.output.orderBy("id").collect()
    assert(rows.length == 5)
    assert(rows.head.getString(1) == "Calle 1")
    assert(rows.forall(_.getString(2) == "Madrid"))
  }

  test("sampleLines limits exactly once at source (O5 fixed semantics)") {
    val in = tmpCsv("many.csv", "id", (1 to 100).map(_.toString))
    val yaml =
      """
        |inDelimiter: ";"
        |sampleLines: 7
        |filters:
        |  - {name: s, actionType: sql, code: "SELECT * FROM df"}
        |  - {name: s2, actionType: sql, code: "SELECT * FROM df"}
        |""".stripMargin
    assert(Pipeline.runYaml(spark, yaml, in).output.count() == 7)
  }

  test("disabled stages are skipped (O21)") {
    val in = tmpCsv("d.csv", "id", Seq("1", "2"))
    val yaml =
      """
        |inDelimiter: ";"
        |filters:
        |  - {name: bad, actionType: sql, disabled: true, code: "SELECT oops FROM df"}
        |  - {name: ok, actionType: sql, code: "SELECT id FROM df"}
        |""".stripMargin
    assert(Pipeline.runYaml(spark, yaml, in).output.count() == 2)
  }

  test("a lines dedup with maxDf: 3000000000 keeps its documents; disabled: \"yes\" skips a stage") {
    val docs = s"$sf/documents.parquet"
    val yaml =
      """
        |filters:
        |  - {name: bad, actionType: sql, disabled: "yes", code: "SELECT oops FROM df"}
        |  - name: line_dedup
        |    actionType: dedup
        |    actionConfig: {method: lines, id: doc_id, text: text, maxDf: 3000000000}
        |""".stripMargin
    val n = spark.read.parquet(docs).count()
    assert(n > 0 && Pipeline.runYaml(spark, yaml, docs).output.count() == n)
  }

  test("transform stage dispatches to registered whole-frame fn (O15 done properly)") {
    TransformRegistry.register("double_id", df => df.withColumn("id2", col("id") * 2))
    val in = tmpCsv("t.csv", "id", Seq("1", "2", "3"))
    val yaml =
      """
        |inDelimiter: ";"
        |filters:
        |  - {name: t, actionType: transform, code: double_id}
        |""".stripMargin
    val out = Pipeline.runYaml(spark, yaml, in).output
    assert(out.select(sum(col("id2"))).head.getLong(0) == 12L)
  }

  test("EXCLUDE rewrites to native EXCEPT, incl. subqueries and case-insensitive") {
    import graft.operators.GraftSqlParser.rewriteExclude
    assert(rewriteExclude("SELECT * EXCLUDE( a , b ) FROM df") ==
      "SELECT * EXCEPT ( a , b ) FROM df")
    assert(rewriteExclude("SELECT * exclude(x) FROM df") == "SELECT * EXCEPT (x) FROM df")
    assert(rewriteExclude("SELECT * FROM df") == "SELECT * FROM df")
    // all occurrences, not just the first
    assert(rewriteExclude("SELECT * EXCLUDE(a) FROM (SELECT * EXCLUDE(b) FROM df)") ==
      "SELECT * EXCEPT (a) FROM (SELECT * EXCEPT (b) FROM df)")
    // string literals are never rewritten
    assert(rewriteExclude("SELECT '* EXCLUDE(a)' AS note, * EXCLUDE(b) FROM df") ==
      "SELECT '* EXCLUDE(a)' AS note, * EXCEPT (b) FROM df")
    assert(rewriteExclude("SELECT 'it''s * EXCLUDE(x)' FROM df") ==
      "SELECT 'it''s * EXCLUDE(x)' FROM df")
    // end-to-end through a sql stage with a subquery EXCLUDE
    import spark.implicits._
    val df = Seq((1, 2, 3)).toDF("a", "b", "c")
    val out = SqlStage("t", "SELECT * EXCLUDE(c) FROM (SELECT * EXCLUDE(b) FROM df)")
      .apply(spark, df)
    assert(out.columns.toSeq == Seq("a"))
  }

  /** Run `graft.Main in yml out` in a child JVM with `jvmFlags` — the
    * only way to get the session Main builds for itself; in-process,
    * GraftSession.getOrCreate returns TestSpark — and read the output
    * rows back. The test JVM's --add-opens flags are build.sbt's list;
    * the JVM reports each as one `--add-opens=<module/package>=ALL-UNNAMED`.
    */
  private def runMainJvm(in: String, yaml: String, jvmFlags: Seq[String] = Nil): Seq[String] = {
    val opens = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.toArray.map(_.toString).toSeq
      .filter(_.startsWith("--add-opens="))
    assert(opens.nonEmpty)
    val dir = Files.createTempDirectory("graft-main").toFile
    val yml = new java.io.File(dir, "main.yml")
    Files.writeString(yml.toPath, yaml)
    val out = new java.io.File(dir, "out").toString
    val cmd = Seq(s"${sys.props("java.home")}/bin/java", "-Xmx1g") ++ opens ++ jvmFlags ++ Seq(
      "-Dspark.master=local[2]", "-Dspark.ui.enabled=false",
      "-cp", sys.props("java.class.path"), "graft.Main", in, yml.toString, out)
    val log = new java.io.File(dir, "main.log")
    val exit = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start().waitFor()
    assert(exit == 0, Files.readString(log.toPath).takeRight(4000))
    spark.read.option("header", "true").csv(out).collect()
      .map(_.mkString(",")).sorted.toSeq
  }

  test("graft.Main in its own JVM rewrites a sql stage's dialect once: backslash regexes match DuckDB") {
    val in = tmpCsv("regex.csv", "s", Seq("ab12cd", "xy7"))
    val rows = runMainJvm(in,
      """filters:
        |  - name: rx
        |    actionType: sql
        |    code: |
        |      SELECT s, regexp_replace(s, '\d+', 'X') AS r, regexp_matches(s, '\d') AS m FROM df
        |""".stripMargin)
    assert(rows == Seq("ab12cd,abXcd,true", "xy7,xyX,true"))
  }

  test("graft.Main reads its YAML as UTF-8 under an ASCII platform charset: 'España' matches") {
    // a JVM started with LANG unset has an ASCII default charset
    val in = Files.createTempDirectory("graft-es").resolve("es.csv")
    Files.writeString(in, "c\nEspaña\nFrance\n")
    val rows = runMainJvm(in.toString,
      """filters:
        |  - name: es
        |    actionType: sql
        |    code: "SELECT c FROM df WHERE c = 'España'"
        |""".stripMargin, Seq("-Dfile.encoding=US-ASCII"))
    assert(rows == Seq("España"))
  }

  test("graft.Main reads a double-quoted column whose CSV header has a space") {
    val in = Files.createTempDirectory("graft-dq").resolve("people.csv")
    Files.writeString(in, "first name\nAnn\nBo\n")
    val rows = runMainJvm(in.toString,
      """filters:
        |  - name: dq
        |    actionType: sql
        |    code: |
        |      SELECT "first name" AS n FROM df
        |""".stripMargin)
    assert(rows == Seq("Ann", "Bo"))
  }

  test("per-stage checkpoints write parquet and overwrite on re-run (fixes reference re-run duplication)") {
    val in = tmpCsv("ck.csv", "id", (1 to 10).map(_.toString))
    val ckDir = Files.createTempDirectory("graft-ck").toString
    val cfg = graft.model.ConfigLoader.fromYaml(
      """inDelimiter: ";"
        |filters:
        |  - {name: a, actionType: sql, code: "SELECT id, id * 2 AS dbl FROM df"}
        |  - {name: b, actionType: sql, code: "SELECT * FROM df WHERE id <= 5"}
        |""".stripMargin)
    val r1 = Pipeline.run(spark, cfg, in, None, countStages = true, checkpointDir = Some(ckDir))
    assert(r1.stages.map(_.rows) == Seq(Some(10L), Some(5L)))
    assert(new java.io.File(s"$ckDir/stage=0").exists())
    assert(new java.io.File(s"$ckDir/stage=1").exists())
    // re-run against the same checkpoint dir must NOT duplicate rows
    // (the reference INSERTs into leftover filter{i} tables — §2c)
    val r2 = Pipeline.run(spark, cfg, in, None, countStages = true, checkpointDir = Some(ckDir))
    assert(r2.stages.map(_.rows) == Seq(Some(10L), Some(5L)))
    assert(r2.output.count() == 5)
  }

  test("unsupported file format fails fast (O4)") {
    val e = intercept[IllegalArgumentException] {
      graft.sources.Sources.load(spark, "/tmp/nope.xlsx")
    }
    assert(e.getMessage.contains("Unsupported"))
  }

  test("decontaminate stage: bloom/exact drop benchmark texts, minhash drops near-dups") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-decon").toString
    val benchText = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    Seq((1L, benchText),
        (2L, "totally unrelated content right here okay then"),
        (3L, "ALPHA beta gamma delta epsilon zeta eta theta iota kappa"), // normalizes to bench row
        (4L, benchText + " novel")) // near-dup of bench row (J = 8/9)
      .toDF("doc_id", "text").write.parquet(s"$dir/corpus.parquet")
    Seq((100L, benchText))
      .toDF("bench_id", "eval_text").write.parquet(s"$dir/bench.parquet")
    def run(method: String, extra: String = ""): Seq[Long] =
      Pipeline.runYaml(spark,
        s"""filters:
           |  - name: d
           |    actionType: decontaminate
           |    actionConfig: {benchmark: $dir/bench.parquet, method: $method,
           |                   id: doc_id, text: text, benchText: eval_text$extra}
           |""".stripMargin, s"$dir/corpus.parquet", None)
        .output.select("doc_id").collect().map(_.getLong(0)).sorted.toSeq
    assert(run("bloom") == Seq(2L, 4L))  // exact-normalized matches 1,3 dropped
    assert(run("exact") == Seq(2L, 4L))
    assert(run("minhash", ", threshold: 0.5") == Seq(2L)) // 4 is a near-dup too
    // a benchmark missing the named text column fails fast with the columns listed
    val err = intercept[IllegalArgumentException] {
      Pipeline.runYaml(spark,
        s"""filters:
           |  - name: d
           |    actionType: decontaminate
           |    actionConfig: {benchmark: $dir/bench.parquet, benchText: nope}
           |""".stripMargin, s"$dir/corpus.parquet", None).output.count()
    }
    assert(err.getMessage.contains("no column 'nope'"))
  }
  test("substrings dedup stage and perplexity score stage (r13 YAML surface)") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    // substrings: an offset-aligned copied block drops from the copier,
    // the original survives intact, empty docs are kept (spans' rule)
    val fixture = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta", 46L),
      (2L, "pre one two alpha beta gamma delta epsilon zeta post", 52L),
      (3L, "", 0L))
      .toDF("doc_id", "text", "n_chars")
    val cleaned = graft.operators.DedupStage(
      "s", "substrings", "doc_id", "text", 0.6, 3, 32, 8, width = 4)
      .apply(spark, fixture)
    val byId = cleaned.collect().map(r =>
      r.getAs[Long]("doc_id") -> ((r.getAs[String]("text"), r.getAs[Long]("n_chars")))).toMap
    assert(byId.keySet == Set(1L, 2L, 3L), s"kept=${byId.keySet}")
    assert(byId(1L)._1 == "alpha beta gamma delta epsilon zeta eta theta")
    assert(byId(2L) == (("pre one two post", 16L))) // n_chars follows the text
    assert(byId(3L) == (("", 0L)))
    val yamlSub =
      s"""
        |filters:
        |  - name: substr_dedup
        |    actionType: dedup
        |    actionConfig: {method: substrings, id: doc_id, text: text, width: 20}
        |""".stripMargin
    val subOut = graft.operators.Pipeline.runYaml(
      spark, yamlSub, s"$sf/documents.parquet", None).output
    val twin = graft.functions.Dedup.dedupSubstrings(
      Tables.documents(spark, sf), "doc_id", "text", k = 20)
      .filter(col("n_toks") - col("n_removed") > 0)
    assert(subOut.count() == twin.count() && subOut.count() > 0)

    // perplexity score: column appears, equals the direct operator,
    // composes with a quality mix gate; unknown orders fail loudly
    val yamlPpl =
      s"""
        |filters:
        |  - name: lm_score
        |    actionType: score
        |    actionConfig: {method: perplexity, id: doc_id, text: text, order: 3, maxVocab: 24}
        |  - name: keep_fluent
        |    actionType: mix
        |    actionConfig: {method: quality, stratum: lang, id: doc_id, score: "-perplexity", fraction: 0.5}
        |""".stripMargin
    val pplOut = graft.operators.Pipeline.runYaml(
      spark, yamlPpl, s"$sf/documents.parquet", None).output
    assert(pplOut.columns.contains("perplexity"))
    val docs = Tables.documents(spark, sf)
    val half = docs.groupBy(col("lang")).count()
      .agg(sum(ceil(col("count") / 2))).head().getLong(0)
    assert(pplOut.count() == half, s"${pplOut.count()} vs $half")
    val e = intercept[IllegalArgumentException](graft.operators.ScoreStage(
      "bad", "doc_id", "text", method = "perplexity", order = 5).apply(spark, docs))
    assert(e.getMessage.contains("order"))

    // kneser_ney smoothing from YAML equals the direct KN operator
    // bit-for-bit; trigram KN fails loudly (bigram form only)
    val yamlKn =
      s"""
        |filters:
        |  - name: kn_score
        |    actionType: score
        |    actionConfig: {method: perplexity, id: doc_id, text: text, smoothing: kneser_ney, maxVocab: 24}
        |""".stripMargin
    val knOut = graft.operators.Pipeline.runYaml(
      spark, yamlKn, s"$sf/documents.parquet", None).output
    val t = split(col("text"), " ")
    val knDirect = graft.functions.NgramLm.kneserNey(
      graft.functions.NgramLm.trainBigramLm(docs, t, maxVocab = 24, minCount = 2))
    val direct = docs.select(col("doc_id"),
      graft.functions.NgramLm.knPerplexity(docs, knDirect, t).as("p"))
    val joined = knOut.select(col("doc_id"), col("perplexity"))
      .join(direct, "doc_id")
    assert(joined.filter(col("perplexity") =!= col("p")).count() == 0)
    assert(joined.count() == docs.count())
    val eKn = intercept[IllegalArgumentException](graft.operators.ScoreStage(
      "bad", "doc_id", "text", method = "perplexity", order = 3,
      smoothing = "kneser_ney").apply(spark, docs))
    assert(eKn.getMessage.contains("bigram form"))

    // classify: NB scores + argmax prediction from YAML; the prediction
    // column matches the direct operator on the same labeled input
    val yamlCls =
      s"""
        |filters:
        |  - name: lang_model
        |    actionType: score
        |    actionConfig: {method: classify, text: text, label: lang}
        |""".stripMargin
    val clsOut = graft.operators.Pipeline.runYaml(
      spark, yamlCls, s"$sf/documents.parquet", None).output
    assert(clsOut.columns.contains("nb_scores") && clsOut.columns.contains("nb_pred"))
    val m = graft.functions.TextClassifier.trainNaiveBayes(
      docs, col("lang"), split(col("text"), " "))
    val twinPred = docs.select(col("doc_id"),
      graft.functions.TextClassifier.nbPredict(docs, m,
        split(col("text"), " ")).as("p"))
    val agree = clsOut.select(col("doc_id"), col("nb_pred"))
      .join(twinPred, "doc_id")
      .filter(col("nb_pred") === col("p")).count()
    assert(agree == docs.count())
  }
}
