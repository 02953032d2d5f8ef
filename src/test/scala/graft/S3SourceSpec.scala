package graft

import graft.sources.Sources
import java.net.URI
import java.nio.file.Files
import org.apache.hadoop.fs.RawLocalFileSystem

/** In-JVM stub filesystem for the `s3a` scheme: resolves
  * `s3a://graft-test-bucket/<abs path>` straight to the local disk, the
  * standard hadoop-fs trick for testing object-store code paths without
  * a network or the hadoop-aws jar. RawLocalFileSystem ignores the
  * authority when mapping to java.io.File, so only getUri needs
  * overriding for checkPath to accept the bucket.
  */
class S3aStubFileSystem extends RawLocalFileSystem {
  override def getUri: URI = URI.create("s3a://graft-test-bucket")
}

/** O3 (Sources.scala s3→s3a rewrite) — VERDICT r2 #7: the S3 source
  * path finally has coverage: scheme rewrite, read through the s3a
  * FileSystem dispatch, sampleLines, the CSV sink, and parquet.
  */
class S3SourceSpec extends SparkSpec {

  private val hconf = spark.sparkContext.hadoopConfiguration
  hconf.set("fs.s3a.impl", classOf[S3aStubFileSystem].getName)
  hconf.set("fs.s3a.impl.disable.cache", "true")
  // Spark wires the S3A zero-rename committer for s3a writes by default;
  // it lives in hadoop-aws, absent here — fall back to the file committer
  hconf.set("mapreduce.outputcommitter.factory.scheme.s3a", "")

  private def localCsv(rows: Seq[String]): String = {
    val dir = Files.createTempDirectory("graft-s3").toFile
    val f = new java.io.File(dir, "data.csv")
    val w = new java.io.PrintWriter(f)
    w.println("id,name")
    rows.foreach(w.println)
    w.close()
    f.getAbsolutePath
  }

  test("s3:// input is rewritten to s3a:// and read through the S3A dispatch") {
    val local = localCsv(Seq("1,ana", "2,luis", "3,eva"))
    val df = Sources.load(spark, s"s3://graft-test-bucket$local")
    assert(df.count() == 3)
    assert(df.columns.toSeq == Seq("id", "name"))
    assert(df.filter(df("id") === 2).head().getString(1) == "luis")
  }

  test("an s3a:// CSV's schema is memoized by its snapshot: a new header reads as new columns") {
    val local = localCsv(Seq("1,ana", "2,luis"))
    val s3 = s"s3a://graft-test-bucket$local"
    assert(Sources.load(spark, s3).columns.toSeq == Seq("id", "name"))
    assert(jobsIn(Sources.load(spark, s3)) == 0)
    Files.writeString(java.nio.file.Paths.get(local), "id,name,lang\n1,ana,es\n2,luis,pt\n")
    val df = Sources.load(spark, s3)
    assert(df.columns.toSeq == Seq("id", "name", "lang"))
    assert(df.filter(df("id") === 2).head().getString(2) == "pt")
  }

  test("sampleLines applies exactly once on an s3 source (O5)") {
    val local = localCsv((1 to 50).map(i => s"$i,n$i"))
    val df = Sources.load(spark, s"s3://graft-test-bucket$local", sampleLines = 7L)
    assert(df.count() == 7)
  }

  test("s3 parquet round-trip: write local, read via s3a; csv sink to s3a") {
    val dir = Files.createTempDirectory("graft-s3p").toString
    spark.range(10).toDF("n").write.parquet(s"$dir/t.parquet")
    val viaS3 = Sources.load(spark, s"s3://graft-test-bucket$dir/t.parquet")
    assert(viaS3.count() == 10)
    // sink through the stub too
    Sources.writeCsv(viaS3, s"s3a://graft-test-bucket$dir/out", outDelimiter = ";")
    val back = spark.read.option("header", "true").option("delimiter", ";")
      .csv(s"$dir/out")
    assert(back.count() == 10)
  }

  test("unsupported extension on s3 fails fast with the format message (O4)") {
    val e = intercept[IllegalArgumentException](
      Sources.load(spark, "s3://graft-test-bucket/tmp/data.xlsx"))
    assert(e.getMessage.contains("Unsupported file format"))
  }
}
