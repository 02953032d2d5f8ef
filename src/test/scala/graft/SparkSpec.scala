package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM, forked by sbt). */
object TestSpark {
  lazy val spark: SparkSession = {
    // local[4, 4]: 4 threads, task maxFailures 4 — task RETRIES are
    // live so the side-effect chaos tests (RestStageSpec) exercise
    // real re-execution; speculation is ON for the same reason (the
    // raised multiplier keeps spurious speculative duplicates out of
    // sub-second test tasks)
    val s = GraftSession.builder("local[4, 4]", Some(4))
      .config("spark.speculation", "true")
      .config("spark.speculation.multiplier", "5")
      .config("spark.speculation.interval", "1s")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    graft.functions.expressions.GraftFunctions.register(s)
    s
  }
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = TestSpark.spark
  val sf: String = "/root/testdata/sf0.001"

  /** Jobs started from this thread while `body` runs. */
  protected def jobsIn(body: => Unit): Int = {
    val group = s"spark-spec-${System.nanoTime()}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.properties != null && j.properties.getProperty("spark.jobGroup.id") == group)
          jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    spark.sparkContext.setJobGroup(group, getClass.getSimpleName)
    try {
      body
      // job-start events post async to the listener bus
      org.apache.spark.sql.GraftColumnBridge.drainListenerBus(spark.sparkContext)
    } finally {
      spark.sparkContext.clearJobGroup()
      spark.sparkContext.removeSparkListener(listener)
    }
    jobs.get
  }
}
