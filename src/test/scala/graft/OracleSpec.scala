package graft

import java.io.File
import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite

/** The behaviour lock: every query gate matches the DuckDB oracle.
  * `graft.Verify` runs the gates at sf0.01 in its own JVM (the session it
  * builds for itself, as `graft.Main`'s PipelineSpec case does), then
  * `tools/check.py` replays each gate's oracle SQL in DuckDB and compares
  * cell by cell.
  */
class OracleSpec extends AnyFunSuite {
  private val sfDir = "/root/testdata/sf0.01"
  private val gates = 171

  /** Exit code and combined output of `cmd`, run from the project root. */
  private def run(cmd: Seq[String], log: File): (Int, String) = {
    val exit = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start().waitFor()
    (exit, Files.readString(log.toPath))
  }

  test(s"graft.Verify at sf0.01: all $gates gates match the DuckDB oracle (tools/check.py)") {
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
      val (verifyExit, verifyLog) = run(
        Seq(s"${sys.props("java.home")}/bin/java", "-Xmx3g") ++ jvmFlags ++
          Seq("-cp", sys.props("java.class.path"), "graft.Verify", sfDir, out),
        new File(dir, "verify.log"))
      assert(verifyExit == 0, verifyLog.takeRight(4000))
      val (checkExit, checkLog) = run(Seq("python3", "tools/check.py", sfDir, out),
        new File(dir, "check.log"))
      val failures = checkLog.linesIterator.filter(_.startsWith("FAIL")).mkString("\n")
      assert(checkLog.contains(s"\n$gates ok, 0 failed") && checkExit == 0,
        s"$failures\n${checkLog.takeRight(400)}")
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
