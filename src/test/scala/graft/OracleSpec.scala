package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The behaviour lock: every query gate matches the DuckDB oracle, and
  * so does the differential fuzzer's fixed query set. `graft.Verify`
  * runs the gates at sf0.01 and `graft.tools.FuzzDiff` seed 1 runs 150
  * generated queries at sf0.001, each in its own JVM (the session it
  * builds for itself, as `graft.Main`'s PipelineSpec case does); then
  * `tools/check.py` replays each one's oracle SQL in DuckDB and compares
  * cell by cell.
  */
class OracleSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.01"
  private val gates = 171
  private val fuzzQueries = 150

  /** Exit code and combined output of `cmd`, run from the project root. */
  private def run(cmd: Seq[String], log: File): (Int, String) = {
    val exit = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start().waitFor()
    (exit, Files.readString(log.toPath))
  }

  /** Runs `mainClass sfDir out args` in a child JVM, then `tools/check.py`
    * on the layout it wrote to `out`, and hands both logs to `check`.
    */
  private def dumpAndCheck(mainClass: String, sfDir: String, args: Seq[String])(
      check: (String, String) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-oracle").toFile
    try {
      val python = scala.util.Try(run(Seq("python3", "-c", "import duckdb, pandas"),
        new File(dir, "python.log")))
      assert(python.isSuccess, "python3 is not installed: tools/check.py needs it")
      assert(python.get._1 == 0,
        s"python3 cannot import duckdb and pandas, which tools/check.py needs:\n${python.get._2}")
      // the test JVM's --add-opens and -Dspark.* flags are build.sbt's
      val jvmFlags = java.lang.management.ManagementFactory.getRuntimeMXBean
        .getInputArguments.toArray.map(_.toString).toSeq
        .filter(a => a.startsWith("--add-opens=") || a.startsWith("-Dspark."))
      val out = new File(dir, "out").toString
      val (exit, log) = run(
        Seq(s"${sys.props("java.home")}/bin/java", "-Xmx3g") ++ jvmFlags ++
          Seq("-cp", sys.props("java.class.path"), mainClass, sfDir, out) ++ args,
        new File(dir, "main.log"))
      assert(exit == 0, log.takeRight(4000))
      val (checkExit, checkLog) = run(Seq("python3", "tools/check.py", sfDir, out),
        new File(dir, "check.log"))
      val failures = checkLog.linesIterator.filter(_.startsWith("FAIL")).mkString("\n")
      assert(checkExit == 0, s"$failures\n${checkLog.takeRight(400)}")
      check(log, checkLog)
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }

  test(s"graft.Verify at sf0.01: all $gates gates match the DuckDB oracle (tools/check.py)") {
    dumpAndCheck("graft.Verify", sfDir, Nil) { (_, checkLog) =>
      assert(checkLog.contains(s"\n$gates ok, 0 failed"), checkLog.takeRight(400))
    }
  }

  test(s"graft.tools.FuzzDiff seed 1 at sf0.001: $fuzzQueries ok, 0 failed, 0 threw") {
    // the sf0.001 tables committed with the benchmark
    dumpAndCheck("graft.tools.FuzzDiff", "perfbench/data/sf0.001", Seq("1", s"$fuzzQueries")) {
      (log, checkLog) =>
        assert(log.contains(s"wrote $fuzzQueries queries (seed=1), 0 threw"), log.takeRight(4000))
        assert(checkLog.contains(s"\n$fuzzQueries ok, 0 failed"), checkLog.takeRight(400))
    }
  }
}
