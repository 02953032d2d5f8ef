package graft

import graft.sources.Sources
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType,
  TimestampNTZType, TimestampType}

/** JSONL + parquet sink coverage: lossless roundtrips, schema-first
  * reads, partitioned writes whose downstream scans actually prune
  * (asserted on the plan, not assumed).
  */
class SourcesSpec extends SparkSpec {

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).resolve("out").toString

  test("jsonl roundtrip is lossless and line-splittable") {
    val docs = Tables.documents(spark, sf).select("doc_id", "lang", "text")
    val path = tmp("jsonl")
    Sources.writeJsonl(docs, path)
    val back = Sources.loadJsonl(spark, path)
    assert(back.count() == docs.count())
    // values survive, not just counts
    val a = docs.orderBy("doc_id").collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val b = back.select("doc_id", "lang", "text").orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    assert(a.sameElements(b))
  }

  test("jsonl schema-first read skips inference and casts as declared") {
    val path = tmp("jsonl_schema")
    Sources.writeJsonl(Tables.documents(spark, sf).select("doc_id", "lang"), path)
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("lang", StringType)))
    val back = Sources.loadJsonl(spark, path, Some(schema))
    assert(back.schema == schema)
    assert(back.count() == Tables.documents(spark, sf).count())
  }

  test("load() dispatches .jsonl and still rejects unknown extensions") {
    val path = tmp("jsonl_ext") + ".jsonl"
    Sources.writeJsonl(Tables.documents(spark, sf).select("doc_id"), path)
    assert(Sources.load(spark, path).count() > 0)
    val e = intercept[IllegalArgumentException](Sources.load(spark, "x.avro"))
    assert(e.getMessage.contains("Unsupported"))
  }

  private def write(path: String, text: String): Unit =
    java.nio.file.Files.writeString(java.nio.file.Paths.get(path), text)

  test("a warm load of an unchanged CSV reuses its schema: zero jobs, the same rows") {
    val path = tmp("memo_csv") + ".csv"
    write(path, "id,name\n1,ana\n2,luis\n")
    var first: DataFrame = null
    assert(jobsIn { first = Sources.load(spark, path) } >= 1)
    val rows = first.collect().toSeq
    var second: DataFrame = null
    assert(jobsIn { second = Sources.load(spark, path) } == 0)
    assert(second.schema == first.schema)
    assert(second.collect().toSeq == rows)
  }

  test("a rewritten CSV, another delimiter or another session conf infers the schema again") {
    val path = tmp("memo_csv_rw") + ".csv"
    write(path, "id,name\n1,ana\n2,luis\n")
    assert(Sources.load(spark, path).schema("id").dataType == IntegerType)
    write(path, "id,name,lang\n1,ana,es\n2,luis,pt\n")
    assert(Sources.load(spark, path).columns.toSeq == Seq("id", "name", "lang"))
    write(path, "id,name,lang\nx1,ana,es\nx2,luis,pt\n")
    assert(Sources.load(spark, path).schema("id").dataType == StringType)
    assert(Sources.load(spark, path, inDelimiter = ";").columns.toSeq == Seq("id,name,lang"))
    assert(Sources.load(spark, path).columns.toSeq == Seq("id", "name", "lang"))

    val ts = tmp("memo_csv_ts") + ".csv"
    write(ts, "id,at\n1,2024-01-02 03:04:05\n")
    assert(Sources.load(spark, ts).schema("at").dataType == TimestampType)
    spark.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    try assert(Sources.load(spark, ts).schema("at").dataType == TimestampNTZType)
    finally spark.conf.unset("spark.sql.timestampType")
    assert(Sources.load(spark, ts).schema("at").dataType == TimestampType)
  }

  test("orc sink → source round-trips with partitioning") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = Seq((1L, "en", "alpha"), (2L, "fr", "beta"), (3L, "en", "gamma"))
      .toDF("id", "lang", "text")
    val out = java.nio.file.Files.createTempDirectory("graft-orc").toString + "/data.orc"
    graft.sources.Sources.writeOrc(df, out, partitionBy = Seq("lang"))
    val back = graft.sources.Sources.load(spark, out)
    assert(back.count() == 3)
    assert(back.filter(col("lang") === "en").select("text")
      .collect().map(_.getString(0)).toSet == Set("alpha", "gamma"))
  }

  test("partitioned parquet write prunes partitions on read (plan-asserted)") {
    val path = tmp("part_parquet")
    Sources.writeParquet(Tables.documents(spark, sf).select("doc_id", "lang", "text"),
      path, partitionBy = Seq("lang"))
    val scan = spark.read.parquet(path).filter(col("lang") === "en")
    val plan = scan.queryExecution.explainString(
      org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    assert(plan.contains("PartitionFilters") &&
      plan.matches("(?s).*PartitionFilters: \\[.*lang.*\\].*"), plan)
    // pruned read returns exactly the en slice
    val expected = Tables.documents(spark, sf).filter(col("lang") === "en").count()
    assert(scan.count() == expected && expected > 0)
  }

  test("parquet sink honors the zstd codec") {
    val path = tmp("zstd_parquet")
    Sources.writeParquet(Tables.documents(spark, sf).select("doc_id", "text"), path)
    val files = new java.io.File(path).listFiles().filter(_.getName.endsWith(".parquet"))
    assert(files.nonEmpty && files.forall(_.getName.contains(".zstd.")))
    assert(spark.read.parquet(path).count() == Tables.documents(spark, sf).count())
  }
}
