package graft

import graft.model.ConfigLoader
import org.scalatest.funsuite.AnyFunSuite

class ConfigSpec extends AnyFunSuite {

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
        |""".stripMargin)
    assert(cfg.inDelimiter == "") // absent → delimiter sniff (read_csv_auto parity)
    assert(cfg.sampleLines == 0)
    assert(cfg.filters.head.code.isEmpty)
    assert(cfg.filters.head.filterThreads == 1)
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
        |""".stripMargin).filters
    val split = graft.operators.SplitStage.fromConfig(stages.head)
    assert(split.idCol == "doc_id")
    assert(split.outCol == "split")
    assert(graft.operators.DeriveStage.fromConfig(stages(1)).filterExpr.isEmpty)
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
}
