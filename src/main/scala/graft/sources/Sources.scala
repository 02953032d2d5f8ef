package graft.sources

import graft.Memo
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** File sources/sinks — reference O1-O6 (/root/reference/Database.py:64-92,
  * /root/reference/filefilter.py:374-379), re-expressed as Spark readers
  * so scans are distributed, column-pruned and predicate-pushed.
  */
object Sources {

  /** `TAB`/`tab` mean a tab character (reference loaders.py:10-13,
    * "use TAB or tab por tabs" in the example YAML comments).
    */
  private def normDelim(d: String): String =
    if (d.equalsIgnoreCase("TAB")) "\t" else d

  /** Delimiter sniff for configs that declare none — the reference loads
    * those with DuckDB's `read_csv_auto`, which autodetects (Database.py
    * loadTable; examples/countries ships a ';' CSV with no inDelimiter).
    * One driver-side header-line read through the Hadoop FS (works for
    * local and s3a), then the candidate splitting the header into the
    * most fields wins; ties fall back to ','.
    */
  def sniffDelimiter(spark: SparkSession, path: String): String = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val fs = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val file =
      if (fs.getFileStatus(hp).isDirectory)
        fs.listStatus(hp).filter(_.isFile).map(_.getPath)
          .find(p => !p.getName.startsWith("_") && !p.getName.startsWith("."))
          .getOrElse(hp)
      else hp
    val in = fs.open(file)
    val header =
      try {
        val br = new java.io.BufferedReader(
          new java.io.InputStreamReader(in, java.nio.charset.StandardCharsets.UTF_8))
        Option(br.readLine()).getOrElse("")
      } finally in.close()
    Seq(",", ";", "\t", "|").maxBy(d =>
      header.split(java.util.regex.Pattern.quote(d), -1).length)
  }

  /** Load a tabular file by extension. CSV/TSV/TXT get header + schema
    * inference with the configured delimiter (Database.py:77-78); parquet
    * is native (Database.py:79-80); `s3://` becomes `s3a://` and is read
    * through the Hadoop S3A connector with the default credential chain —
    * the Spark analog of the reference's httpfs + CREDENTIAL_CHAIN secret
    * (Database.py:72-75). Unknown extensions fail fast (Database.py:81-82).
    * `sampleLines > 0` limits rows exactly once at the source (the
    * reference leaks its LIMIT into later cursors — SURVEY §2 O5).
    * Every format reads through [[Memo.read]]: a load of an input whose
    * snapshot, reader options and session conf are unchanged reuses the
    * inferred schema and runs no job.
    */
  def load(spark: SparkSession, path: String, inDelimiter: String = ",",
           sampleLines: Long = 0L): DataFrame = {
    val p = if (path.startsWith("s3://")) "s3a://" + path.stripPrefix("s3://") else path
    val lower = p.toLowerCase
    val df =
      if (lower.endsWith(".parquet")) Memo.read(spark, p, "parquet")
      else if (lower.endsWith(".csv") || lower.endsWith(".txt") || lower.endsWith(".tsv")) {
        val eff = if (inDelimiter.isEmpty) sniffDelimiter(spark, p) else inDelimiter
        val delim = if (lower.endsWith(".tsv") && eff == ",") "\t"
                    else normDelim(eff)
        Memo.read(spark, p, "csv",
          Map("header" -> "true", "inferSchema" -> "true", "delimiter" -> delim))
      } else if (lower.endsWith(".jsonl") || lower.endsWith(".json"))
        loadJsonl(spark, p)
      else if (lower.endsWith(".orc")) Memo.read(spark, p, "orc")
      else
        throw new IllegalArgumentException(
          s"Unsupported file format: $path (supported: .csv .txt .tsv .parquet .orc .jsonl .json)")
    if (sampleLines > 0L) df.limit(sampleLines.toInt) else df
  }

  /** JSON-Lines source (one JSON object per line — the interchange
    * format of LLM training-data pipelines; an extension over the
    * reference's csv/tsv/txt/parquet set). `multiLine` stays false so
    * every line parses independently and the scan is SPLITTABLE — a
    * 100 TB corpus reads with full parallelism even inside single huge
    * files (gzip members excepted: .gz is stream-compressed and
    * per-file parallel only — prefer zstd/uncompressed at scale).
    * Supply `schema` in production: without it Spark runs a full
    * inference pass over the data (twice the I/O) the first time a
    * snapshot is read ([[Memo.read]]), and a drifting field silently
    * widens the type.
    */
  def loadJsonl(spark: SparkSession, path: String,
                schema: Option[StructType] = None): DataFrame =
    schema.fold(Memo.read(spark, path, "json"))(spark.read.schema(_).json(path))

  /** JSONL sink; `compression` ∈ none/gzip/bzip2/deflate. */
  def writeJsonl(df: DataFrame, path: String,
                 compression: String = "none"): Unit =
    df.write.mode("overwrite").option("compression", compression).json(path)

  /** ORC sink (same partition/codec shape as the parquet sink — some
    * lakehouse deployments standardize on ORC).
    */
  def writeOrc(df: DataFrame, path: String,
               partitionBy: Seq[String] = Nil,
               compression: String = "zstd"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
  }

  /** Parquet sink with hive-style partitioning and codec — the
    * production sink for pipeline stages at scale: downstream scans of
    * a `partitionBy` column prune whole directories (PartitionFilters,
    * no file I/O at all), and zstd is the modern size/speed tradeoff.
    */
  def writeParquet(df: DataFrame, path: String,
                   partitionBy: Seq[String] = Nil,
                   compression: String = "zstd"): Unit = {
    val w = df.write.mode("overwrite").option("compression", compression)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).parquet(path)
  }

  /** Sorted-layout parquet — the SCAN-PRUNING knob, complementing
    * [[writeBucketed]]'s join knob: range-partition by the sort
    * columns, sort within each partition, and write with a per-file
    * row cap. Every parquet file (and row group) then carries a TIGHT,
    * non-overlapping min/max range on the sort columns, so a selective
    * filter on them skips whole files/row groups at the footer — the
    * Z-order-lite data-clustering move for predicate-heavy 100 TB
    * scans (a time- or key-ordered layout turns `WHERE ts BETWEEN ...`
    * from a full scan into a handful of files). `files` sizes the
    * range partitioning (≈ target file count); `maxRecordsPerFile`
    * additionally bounds any one file. PartitionSpec proves the
    * written files' per-file key ranges are pairwise DISJOINT, the
    * property footer pruning keys on.
    */
  def writeSorted(df: DataFrame, path: String, sortCols: Seq[String],
                  files: Int = 0, maxRecordsPerFile: Long = 0,
                  compression: String = "zstd"): Unit = {
    require(sortCols.nonEmpty, "sortCols required")
    val cols = sortCols.map(df.col)
    val ranged =
      if (files > 0) df.repartitionByRange(files, cols: _*)
      else df.repartitionByRange(cols: _*)
    val w = ranged.sortWithinPartitions(cols: _*)
      .write.mode("overwrite").option("compression", compression)
    (if (maxRecordsPerFile > 0) w.option("maxRecordsPerFile", maxRecordsPerFile)
     else w).parquet(path)
  }

  /** Bucketed parquet table — the co-located-join knob SCALE.md
    * documents for the q03 shape: two fact tables bucketed (and
    * sort-bucketed) on their join key the SAME way join with NO
    * exchange on either side (Spark trusts the bucketing's
    * hash-partitioning; PartitionSpec proves the exchange disappears).
    * At 100 TB this converts every repeated lineitem⋈orders-style join
    * from two full shuffles into a zero-shuffle sort-merge — paid once
    * at write time, amortized over every downstream join on that key.
    *
    * Bucketing requires a catalog table (`saveAsTable` + `path`
    * option) — plain `.parquet(path)` files carry no bucketing
    * metadata Spark will trust.
    */
  def writeBucketed(df: DataFrame, table: String, path: String,
                    bucketCols: Seq[String], buckets: Int,
                    sorted: Boolean = true): Unit = {
    require(bucketCols.nonEmpty && buckets > 0, "bucketCols + positive buckets")
    val w = df.write.mode("overwrite")
      .option("path", path)
      .bucketBy(buckets, bucketCols.head, bucketCols.tail: _*)
    (if (sorted) w.sortBy(bucketCols.head, bucketCols.tail: _*) else w)
      .format("parquet").saveAsTable(table)
  }

  /** Directory of raw media files as a DataFrame of opaque binary
    * payloads (path, modificationTime, length, content) — the input
    * shape for the multimodal operators ([[graft.operators.MediaColumns]]).
    * Spark's binaryFile source splits by file, so decode parallelism is
    * per-file; `pathGlobFilter` bounds the scan (e.g. "*.png").
    */
  def loadBinary(spark: SparkSession, dir: String,
                 glob: Option[String] = None): DataFrame = {
    val r = spark.read.format("binaryFile")
    glob.foreach(g => r.option("pathGlobFilter", g))
    r.load(dir)
  }

  /** CSV sink with delimiter + header — reference COPY TO
    * (filefilter.py:374-379). `singleFile` coalesces to one partition for
    * byte-level parity with the reference's single output file; leave it
    * false at scale so the write stays parallel.
    */
  def writeCsv(df: DataFrame, path: String, outDelimiter: String = ",",
               singleFile: Boolean = false): Unit = {
    val out = if (singleFile) df.coalesce(1) else df
    out.write
      .option("header", "true")
      .option("delimiter", normDelim(outDelimiter))
      .mode("overwrite")
      .csv(path)
  }
}
