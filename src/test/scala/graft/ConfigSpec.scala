package graft

import graft.model.ConfigLoader
import graft.operators.{CleanStage, DedupStage, DeriveStage, MixStage, RestStage, SplitStage}

class ConfigSpec extends SparkSpec {

  test("parses the reference key set") {
    val cfg = ConfigLoader.fromYaml(
      """
        |inDelimiter: ";"
        |outDelimiter: ";"
        |sampleLines: 10
        |reloadConfigEverySeconds: 5
        |filters:
        |  - name: classify
        |    actionType: derive
        |    filterThreads: 4
        |    actionConfig:
        |      columns:
        |        - {name: tipo, expr: "upper(x)"}
        |  - name: project
        |    actionType: sql
        |    disabled: true
        |    code: "SELECT * FROM df"
        |""".stripMargin)
    assert(cfg.inDelimiter == ";")
    assert(cfg.sampleLines == 10)
    assert(cfg.filters.size == 2)
    assert(cfg.filters.head.filterThreads == 4)
    assert(cfg.filters(1).disabled)
  }

  test("code is accepted under actionConfig too (heals countries.yml misconfig)") {
    val cfg = ConfigLoader.fromYaml(
      """filters:
        |  - name: s
        |    actionType: sql
        |    actionConfig:
        |      code: "SELECT 1"
        |""".stripMargin)
    assert(cfg.filters.head.code.contains("SELECT 1"))
  }

  test("unknown actionType fails fast (O4 semantics)") {
    val e = intercept[IllegalArgumentException] {
      ConfigLoader.fromYaml("filters:\n  - {name: x, actionType: bogus}\n")
    }
    assert(e.getMessage.contains("bogus"))
  }

  test("blank-valued YAML keys fall back to defaults instead of NPE") {
    val cfg = ConfigLoader.fromYaml(
      """
        |inDelimiter:
        |sampleLines:
        |filters:
        |  - name:
        |    actionType: sql
        |    code:
        |    filterThreads:
        |    disabled:
        |    chunkSize:
        |    showSampleOnFinish:
        |""".stripMargin)
    assert(cfg.inDelimiter == "") // absent → delimiter sniff (read_csv_auto parity)
    assert(cfg.sampleLines == 0)
    assert(cfg.filters.head.code.isEmpty)
    assert(cfg.filters.head.filterThreads == 1)
    assert(!cfg.filters.head.disabled && !cfg.filters.head.showSampleOnFinish)
    assert(cfg.filters.head.chunkSize == 10000)
  }

  test("blank split id:/column: and derive filter: keys fall back to defaults instead of NPE") {
    val stages = ConfigLoader.fromYaml(
      """filters:
        |  - name: s
        |    actionType: split
        |    actionConfig:
        |      weights: {train: 16}
        |      id:
        |      column:
        |  - name: d
        |    actionType: derive
        |    actionConfig:
        |      filter:
        |      drop:
        |  - name: dd
        |    actionType: dedup
        |    actionConfig:
        |      k:
        |      maxDf:
        |      threshold:
        |      hashKeys:
        |  - name: r
        |    actionType: rest
        |    actionConfig:
        |      host: "http://localhost:1"
        |      maxRetries:
        |      logHttpRequests:
        |      postBody:
        |""".stripMargin).filters
    val split = SplitStage.fromConfig(stages.head)
    assert(split.idCol == "doc_id")
    assert(split.outCol == "split")
    val derive = DeriveStage.fromConfig(stages(1))
    assert(derive.filterExpr.isEmpty && derive.dropCols.isEmpty)
    val dedup = DedupStage.fromConfig(stages(2))
    assert(dedup.k == 3 && dedup.maxDf == 4L && dedup.threshold == 0.6 && !dedup.hashKeys)
    val rest = RestStage.fromConfig(spark, stages(3)).cfg
    assert(rest.maxRetries == 0 && !rest.logRequests && rest.postBody.isEmpty)
  }

  test("reloadConfigEvery (the key the reference examples use) aliases reloadConfigEverySeconds") {
    val cfg = graft.model.ConfigLoader.fromYaml(
      "reloadConfigEvery: 7\nfilters: []\n")
    assert(cfg.reloadConfigEverySeconds == 7)
    // canonical key wins when both are present
    val both = graft.model.ConfigLoader.fromYaml(
      "reloadConfigEvery: 7\nreloadConfigEverySeconds: 3\nfilters: []\n")
    assert(both.reloadConfigEverySeconds == 3)
  }

  test("defaults match the reference") {
    val cfg = ConfigLoader.fromYaml("filters:\n  - {name: x, actionType: sql, code: s}\n")
    // undeclared inDelimiter → "" = sniff, the reference's read_csv_auto
    // autodetect (countries.yml ships a ';' CSV and declares nothing)
    assert(cfg.inDelimiter == "")
    assert(cfg.outDelimiter == ",")
    assert(cfg.sampleLines == 0)
    assert(cfg.filters.head.filterThreads == 1)   // filefilter.py:198
    assert(cfg.filters.head.chunkSize == 10000)   // filefilter.py:312
  }

  /** The stages of a one-filter config whose `actionConfig` holds `kv`. */
  private def stage(action: String, kv: String) = ConfigLoader.fromYaml(
    s"filters:\n  - name: s\n    actionType: $action\n    actionConfig:\n" +
      s"      host: h\n      $kv\n").filters.head

  test("one option reader: each type's valid forms read alike in every stage") {
    def dedup(kv: String) = DedupStage.fromConfig(stage("dedup", kv))
    def clean(kv: String) = CleanStage.fromConfig(stage("clean", kv))
    def rest(kv: String) = RestStage.fromConfig(spark, stage("rest", kv)).cfg
    def mix(kv: String) = MixStage.fromConfig(stage("mix", s"budgets: {en: 1}\n      $kv"))
    val rows: Seq[(String, () => Any, Any)] = Seq(
      // integers: a YAML integer, an integral float or a string holding one
      ("k: 5", () => dedup("k: 5").k, 5),
      ("k: 2.0", () => dedup("k: 2.0").k, 2),
      ("k: \"7\"", () => dedup("k: \"7\"").k, 7),
      ("maxDf: 3000000000", () => dedup("maxDf: 3000000000").maxDf, 3000000000L),
      ("maxRetries: 2.0", () => rest("maxRetries: 2.0").maxRetries, 2),
      ("timeoutMillis: \"1500\"", () => rest("timeoutMillis: \"1500\"").timeoutMillis, 1500L),
      ("shards: 16.0", () => mix("shards: 16.0").shards, 16),
      ("budgets: {en: 3000000000}", () => MixStage.fromConfig(
        stage("mix", "budgets: {en: 3000000000}")).budgets, Map("en" -> 3000000000L)),
      ("weights: {train: 14, val: 2.0}", () => SplitStage.fromConfig(
        stage("split", "weights: {train: 14, val: 2.0}")).weights, Seq("train" -> 14, "val" -> 2)),
      // doubles: any number or numeric string
      ("threshold: 1", () => dedup("threshold: 1").threshold, 1.0),
      ("threshold: \"0.75\"", () => dedup("threshold: \"0.75\"").threshold, 0.75),
      // booleans: a YAML boolean or true/false/yes/no in any case
      ("flags: \"yes\"", () => clean("flags: \"yes\"").flags, true),
      ("flags: \"False\"", () => clean("flags: \"False\"").flags, false),
      ("hashKeys: YES", () => dedup("hashKeys: YES").hashKeys, true),
      ("logHttpRequests: \"no\"", () => rest("logHttpRequests: \"no\"").logRequests, false),
      ("urlencodeParams: \"yes\"", () => rest("queryParams: {q: x}\n      urlencodeParams: \"yes\"")
        .urlencodeParams, Set("q")),
      // strings: the value's toString; lists and maps element by element
      ("id: 7", () => dedup("id: 7").idCol, "7"),
      ("drop: [a, 1]", () => DeriveStage.fromConfig(stage("derive", "drop: [a, 1]")).dropCols,
        Seq("a", "1")),
      ("postBody: {n: 1}", () => rest("postBody: {n: 1}").postBody, Map("n" -> "1")))
    rows.foreach { case (yaml, read, want) => assert(read() == want, yaml) }
    // the per-filter and top-level keys read by the same rules
    val cfg = ConfigLoader.fromYaml(
      "sampleLines: 1e3\nfilters:\n  - {name: s, actionType: sql, code: x, " +
        "disabled: \"yes\", filterThreads: 4.0, showSampleOnFinish: No}\n")
    assert(cfg.sampleLines == 1000L)
    assert(cfg.filters.head.disabled && cfg.filters.head.filterThreads == 4)
    assert(!cfg.filters.head.showSampleOnFinish)
  }

  test("one option reader: a malformed value throws naming the stage, key, value and type") {
    def dedup(kv: String) = DedupStage.fromConfig(stage("dedup", kv))
    val rows: Seq[(String, () => Any, Seq[String])] = Seq(
      ("k: 3.5", () => dedup("k: 3.5"), Seq("dedup stage 's'", "k", "3.5", "integer")),
      ("k: 3000000000", () => dedup("k: 3000000000"), Seq("dedup stage 's'", "k", "3000000000", "Int range")),
      ("maxDf: four", () => dedup("maxDf: four"), Seq("dedup stage 's'", "maxDf", "four", "Long range")),
      ("threshold: high", () => dedup("threshold: high"), Seq("dedup stage 's'", "threshold", "high", "a number")),
      ("flags: maybe", () => CleanStage.fromConfig(stage("clean", "flags: maybe")),
        Seq("clean stage 's'", "flags", "maybe", "true/false/yes/no")),
      ("maxRetries: 2.5", () => RestStage.fromConfig(spark, stage("rest", "maxRetries: 2.5")),
        Seq("rest stage 's'", "maxRetries", "2.5", "integer")),
      ("postBody: x", () => RestStage.fromConfig(spark, stage("rest", "postBody: x")),
        Seq("rest stage 's'", "postBody", "x", "a map")),
      ("weights: {train: 15.5}", () => SplitStage.fromConfig(stage("split", "weights: {train: 15.5}")),
        Seq("split stage 's'", "weights.train", "15.5", "integer")),
      ("drop: x", () => DeriveStage.fromConfig(stage("derive", "drop: x")),
        Seq("derive stage 's'", "drop", "x", "a list")),
      ("filterThreads: \"four\"", () => ConfigLoader.fromYaml(
        "filters:\n  - {name: s, actionType: sql, filterThreads: \"four\"}\n"),
        Seq("filters[0]", "filterThreads", "four", "integer")),
      ("disabled: maybe", () => ConfigLoader.fromYaml(
        "filters:\n  - {name: s, actionType: sql, disabled: maybe}\n"),
        Seq("filters[0]", "disabled", "maybe", "true/false/yes/no")),
      ("sampleLines: 1.5", () => ConfigLoader.fromYaml("sampleLines: 1.5\n"),
        Seq("top level", "sampleLines", "1.5", "integer")))
    rows.foreach { case (yaml, read, parts) =>
      val e = intercept[IllegalArgumentException](read())
      parts.foreach(p => assert(e.getMessage.contains(p), s"$yaml: ${e.getMessage}"))
    }
  }

  test("one option reader: Stages and RestStage parse no YAML value by hand") {
    val forbidden = Seq("flatMap(Option(_))", ".toString.toInt", ".toString.toLong",
      ".toString.toDouble", ".toString.toBoolean", "cfg.actionConfig.get")
    val hits = for {
      f <- Seq("Stages.scala", "RestStage.scala")
      src = java.nio.file.Files.readString(java.nio.file.Paths.get("src/main/scala/graft/operators", f))
      p <- forbidden if src.contains(p)
    } yield s"$f: $p"
    assert(hits.isEmpty)
  }
}
