package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** The engine's one cache contract: every in-JVM memo and every
  * persisted tmpdir artifact is keyed on (path, [[snapshot]]). An
  * in-place rewrite of an input changes its snapshot, so no memo can
  * serve a result for inputs that have changed; a memo entry made at
  * an older snapshot is replaced, not kept beside the new one.
  */
object Memo {
  /** File-metadata snapshot id for `path` — zero Spark jobs. A
    * directory (multi-file parquet) folds its children's (count, names,
    * total length, max mtime); a plain file uses (length, mtime).
    * Accepts the `file:` URIs that `DataFrame.inputFiles` returns. At
    * 100 TB this slot is the catalog table-version string.
    */
  def snapshot(path: String): String = {
    val f =
      if (path.startsWith("file:")) new java.io.File(java.net.URI.create(path))
      else new java.io.File(path)
    if (f.isDirectory) {
      val fs = Option(f.listFiles()).getOrElse(Array.empty[java.io.File])
      s"dir|n=${fs.length}|names=${fs.map(_.getName).sorted.mkString("/").hashCode}|" +
        s"len=${fs.map(_.length()).sum}|" +
        s"mt=${fs.foldLeft(0L)((m, c) => math.max(m, c.lastModified()))}"
    } else s"f|len=${f.length()}|mt=${f.lastModified()}"
  }

  /** `path` qualified by its snapshot: the cache-key form of an input. */
  def versioned(path: String): String = s"$path|${snapshot(path)}"

  /** `m(key)` if it was made at snapshot `snap`, else `make`, which
    * replaces the entry. Atomic per key, so concurrent callers share
    * one value.
    */
  private[graft] def fresh[V](m: ConcurrentHashMap[String, (String, V)], key: String,
                              snap: String)(make: => V): V =
    m.compute(key, (_, old) => if (old != null && old._1 == snap) old else (snap, make))._2

  /** Scan relations, one map per live session (weak-keyed so a stopped
    * session's entries are collectable). `spark.read.parquet` builds a
    * fresh FileIndex, reads the parquet footer and analyzes the
    * relation on every call; DataFrames are immutable plan wrappers, so
    * every query of a session shares one instance and its
    * already-analyzed scan subtree. Sessions keep their own DataFrames,
    * and with them their own temp-view semantics (Bench's q131 isolation).
    */
  private val relations =
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[String, (String, DataFrame)]]()

  /** Cross-session schemas: inference (the footer read) is a pure
    * function of the file snapshot, so only the first session to touch
    * a snapshot pays it; later sessions skip the footer with
    * `read.schema(...)` (the Bench per-stream session overhead).
    */
  private val schemas = new ConcurrentHashMap[String, (String, StructType)]()

  /** The memoized parquet relation at `path` for this session. */
  def relation(spark: SparkSession, path: String): DataFrame = {
    val perSession = relations.synchronized {
      relations.computeIfAbsent(spark, _ => new ConcurrentHashMap[String, (String, DataFrame)]())
    }
    val snap = snapshot(path)
    fresh(perSession, path, snap) {
      val known = schemas.get(path)
      if (known != null && known._1 == snap) spark.read.schema(known._2).parquet(path)
      else {
        val df = spark.read.parquet(path)
        schemas.put(path, (snap, df.schema))
        df
      }
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
