package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType
import scala.util.control.NonFatal

/** The engine's one cache contract: every in-JVM memo and every
  * persisted tmpdir artifact is keyed on (path, [[snapshot]]). An
  * in-place rewrite of an input changes its snapshot, so no memo can
  * serve a result for inputs that have changed; a memo entry made at
  * an older snapshot is replaced, not kept beside the new one.
  *
  * Schemas and the relations built on them follow one key rule: the
  * input's snapshot, the format and reader options, and the session's
  * whole SQL conf (`sessionState.conf.getAllConfs`), since inference
  * reads the conf. A path with no readable snapshot (missing, a glob,
  * an unreachable store) is never served from a memo: it is inferred
  * on every read. [[relation]] (the parquet gates) and
  * [[graft.sources.Sources.load]] (every pipeline source) read through
  * [[read]].
  */
object Memo {
  /** File-metadata snapshot id for `path` — zero Spark jobs. A
    * directory (multi-file parquet, a partitioned table) folds the
    * (count, relative names, total length, max mtime) of every file
    * below it, since a file rewritten in place changes no directory's
    * entries; a plain file uses (length, mtime). Accepts the `file:`
    * URIs that `DataFrame.inputFiles` returns. At 100 TB this slot is
    * the catalog table-version string.
    */
  def snapshot(path: String): String = {
    val f = localFile(path)
    if (f.isDirectory) folded(leaves(f, ""))
    else s"f|len=${f.length()}|mt=${f.lastModified()}"
  }

  private def localFile(path: String): java.io.File =
    if (path.startsWith("file:")) new java.io.File(java.net.URI.create(path))
    else new java.io.File(path)

  private def leaves(dir: java.io.File, prefix: String): Seq[(String, Long, Long)] =
    Option(dir.listFiles()).fold(Seq.empty[(String, Long, Long)])(_.toSeq.flatMap { c =>
      if (c.isDirectory) leaves(c, s"$prefix${c.getName}/")
      else Seq((prefix + c.getName, c.length(), c.lastModified()))
    })

  private def folded(files: Seq[(String, Long, Long)]): String =
    s"dir|n=${files.length}|names=${files.map(_._1).sorted.mkString("/").hashCode}|" +
      s"len=${files.map(_._2).sum}|mt=${files.foldLeft(0L)((m, c) => math.max(m, c._3))}"

  /** [[snapshot]] of an input that has one: an existing local path, or
    * a path of another scheme (`s3a://`) read through its Hadoop
    * FileSystem, as [[graft.sources.Sources.sniffDelimiter]] reads it.
    * None for a missing path, a glob or an unreachable store: no memo
    * serves such an input.
    */
  private def readableSnapshot(spark: SparkSession, path: String): Option[String] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    if (Option(hp.toUri.getScheme).forall(_ == "file"))
      Option.when(localFile(path).exists())(snapshot(path))
    else
      try {
        val fs = hp.getFileSystem(spark.sessionState.newHadoopConf())
        val st = fs.getFileStatus(hp)
        if (!st.isDirectory) Some(s"f|len=${st.getLen}|mt=${st.getModificationTime}")
        else {
          val root = st.getPath.toUri.getPath.stripSuffix("/") + "/"
          val it = fs.listFiles(hp, true)
          val files = Seq.newBuilder[(String, Long, Long)]
          while (it.hasNext) {
            val c = it.next()
            files += ((c.getPath.toUri.getPath.stripPrefix(root), c.getLen, c.getModificationTime))
          }
          Some(folded(files.result()))
        }
      } catch { case NonFatal(_) => None }
  }

  /** `path` qualified by its snapshot: the cache-key form of an input. */
  def versioned(path: String): String = s"$path|${snapshot(path)}"

  /** `m(key)` if it was made at `stamp`, else `make`, which replaces
    * the entry. Atomic per key, so concurrent callers share one value.
    */
  private[graft] def fresh[K, S, V](m: ConcurrentHashMap[K, (S, V)], key: K,
                                    stamp: S)(make: => V): V =
    m.compute(key, (_, old) => if (old != null && old._1 == stamp) old else (stamp, make))._2

  /** What an inferred schema is a function of, besides the reader: the
    * input's snapshot and every SQL conf the session sets (inference
    * reads many, e.g. `spark.sql.timestampType`,
    * `spark.sql.parquet.binaryAsString`). None when the input has no
    * readable snapshot.
    */
  private type Stamp = (String, Map[String, String])

  private def stamp(spark: SparkSession, path: String): Option[Stamp] =
    readableSnapshot(spark, path).map(_ -> spark.sessionState.conf.getAllConfs)

  /** Scan relations, one map per live session (weak-keyed so a stopped
    * session's entries are collectable). `spark.read.parquet` builds a
    * fresh FileIndex, reads the parquet footer and analyzes the
    * relation on every call; DataFrames are immutable plan wrappers, so
    * every query of a session shares one instance and its
    * already-analyzed scan subtree. Sessions keep their own DataFrames,
    * and with them their own temp-view semantics (Bench's q131 isolation).
    */
  private val relations =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (Stamp, DataFrame)]]()

  /** The one schema memo, shared by every session: each inferred schema,
    * keyed on (format, reader options, path) and stamped with
    * [[stamp]]. Sessions with equal confs share an input's inference
    * (the Bench per-stream session overhead); a rewritten input or a
    * changed conf infers again and replaces the entry.
    */
  private val schemas =
    new ConcurrentHashMap[(String, Map[String, String], String), (Stamp, StructType)]()

  /** `spark.read.format(format).options(options).load(path)`, with the
    * schema from [[schemas]] when one was inferred at this stamp, so the
    * load runs no inference job. On a miss the reader infers once and
    * that DataFrame is returned. An input without a snapshot is
    * inferred on every call.
    */
  def read(spark: SparkSession, path: String, format: String,
           options: Map[String, String] = Map.empty): DataFrame =
    read(spark, path, format, options, stamp(spark, path))

  private def read(spark: SparkSession, path: String, format: String,
                   options: Map[String, String], st: Option[Stamp]): DataFrame = {
    val reader = spark.read.format(format).options(options)
    st.fold(reader.load(path)) { s =>
      var inferred: DataFrame = null
      val known = fresh(schemas, (format, options, path), s) {
        inferred = reader.load(path); inferred.schema
      }
      if (inferred != null) inferred else reader.schema(known).load(path)
    }
  }

  /** The memoized parquet relation at `path` for this session, under
    * the same stamp as its schema.
    */
  def relation(spark: SparkSession, path: String): DataFrame = {
    val perSession = relations.synchronized {
      relations.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, (Stamp, DataFrame)]())
    }
    stamp(spark, path) match {
      case None => read(spark, path, "parquet", Map.empty, None)
      case st @ Some(s) => fresh(perSession, path, s)(read(spark, path, "parquet", Map.empty, st))
    }
  }

  private val writers = new ConcurrentHashMap[String, Object]()

  /** The persisted artifact for `key`: `java.io.tmpdir/graft_<kind>_<tag>`,
    * tag = the first 12 hex digits of md5(key). `build(path)` writes it
    * on first use; the artifact is complete once `<path>/<marker>/_SUCCESS`
    * exists (`marker` is the subdirectory the build writes last, "" for
    * the root). One writer per path at a time, so concurrent streams
    * never race a half-written artifact. Callers put every input in the
    * key through [[versioned]], so a rewritten input builds a new
    * artifact; deleting artifacts is always safe.
    */
  def persisted(kind: String, key: String, marker: String)(build: String => Unit): String = {
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest(key.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
    val path = s"${sys.props("java.io.tmpdir")}/graft_${kind}_$tag"
    val done = new java.io.File(new java.io.File(path, marker), "_SUCCESS")
    if (!done.exists()) writers.computeIfAbsent(path, _ => new Object).synchronized {
      if (!done.exists()) build(path)
    }
    path
  }
}
