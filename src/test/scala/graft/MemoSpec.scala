package graft

import graft.functions.{VectorFunctions => VF}
import graft.sources.Sources
import org.apache.spark.sql.functions._

/** [[Memo]]: relations, fingerprints and persisted artifacts re-key
  * when an input is rewritten in place (the in-process rewrite pattern),
  * and a memo hit runs no Spark job.
  */
class MemoSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  private def writeEmb(path: String, vecs: Seq[(Long, Array[Float])]): Unit =
    vecs.toDF("vec_id", "embedding").repartition(1).write.mode("overwrite").parquet(path)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => r.getLong(0) -> r.getLong(1)).toSet

  test("Memo.relation and Tables.t serve a rewritten parquet's new schema and rows") {
    val dir = tmpDir("memo_relation")
    val path = s"$dir/things.parquet"
    spark.range(3).toDF("id").repartition(1).write.mode("overwrite").parquet(path)
    val first = Memo.relation(spark, path)
    assert(first.count() == 3L)
    assert(Tables.t(spark, dir, "things") eq first)
    (0 until 7).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .repartition(1).write.mode("overwrite").parquet(path)
    val second = Memo.relation(spark, path)
    assert(second.columns.toSeq == Seq("id", "name"), "stale schema after a rewrite")
    assert(second.count() == 7L, "stale rows after a rewrite")
    assert(Tables.t(spark, dir, "things").columns.toSeq == Seq("id", "name"))
    // an unchanged snapshot still memoizes: the same instance comes back
    assert(Memo.relation(spark, path) eq second)
    assert(Tables.t(spark, dir, "things") eq second)
  }

  test("the schema memo keys on the session's conf: binaryAsString in a new session") {
    val path = s"${tmpDir("memo_conf")}/d.parquet"
    val copy = s"""import duckdb; duckdb.connect().execute("COPY (SELECT 'hi'::BLOB AS b) TO '$path'")"""
    assert(scala.sys.process.Process(Seq("python3", "-c", copy)).! == 0)
    assert(Memo.relation(spark, path).schema.simpleString == "struct<b:binary>")
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.parquet.binaryAsString", "true")
    assert(s2.read.parquet(path).schema.simpleString == "struct<b:string>")
    val served = Memo.relation(s2, path)
    assert(served.schema.simpleString == "struct<b:string>", "schema inferred under another conf")
    assert(served.head().getString(0) == "hi")
  }

  test("a file rewritten in place below a partition directory re-keys the directory") {
    val dir = java.nio.file.Paths.get(tmpDir("memo_nested"), "t.csv")
    val f = dir.resolve("k=1").resolve("a.csv")
    java.nio.file.Files.createDirectories(f.getParent)
    java.nio.file.Files.writeString(f, "id,name\n1,ana\n")
    val before = Memo.snapshot(dir.toString)
    assert(Sources.load(spark, dir.toString).columns.toSeq == Seq("id", "name", "k"))
    // an in-place write changes the file, not the entries of k=1
    java.nio.file.Files.writeString(f, "id,name,lang\n1,ana,es\n")
    assert(Memo.snapshot(dir.toString) != before)
    assert(Sources.load(spark, dir.toString).columns.toSeq == Seq("id", "name", "lang", "k"))
  }

  test("exact-reference artifacts rebuild when only a non-leading vector component changes") {
    val dir = tmpDir("memo_exact")
    val path = s"$dir/embeddings.parquet"
    // same ids and the same component 1 in both versions; the rewrite
    // moves vector 1's component 2 from 0.1 to 10, so it leaves vector
    // 0's neighbourhood and joins vector 3's
    def corpus(v1c2: Float): Seq[(Long, Array[Float])] = Seq(
      0L -> Array(1f, 0.1f, 0f, 0f), 1L -> Array(1f, v1c2, 0f, 0.01f),
      2L -> Array(0f, 0f, 1f, 0f), 3L -> Array(0f, 1f, 0f, 0f))
    def check(): Set[(Long, Long)] = {
      val emb = spark.read.parquet(path)
      val served = pairs(VF.exactNearDupPairsCached(emb, "vec_id", "embedding", 0.45, dir))
      assert(served == pairs(VF.exactNearDupPairs(emb, "vec_id", "embedding", 0.45)),
        "the exact-pairs artifact is stale")
      val q = emb.filter(col("vec_id") < 2)
      val approx = VF.bruteForceTopK(q, emb, 2)
      val cached = VF.topKRecallAuditCached(approx, q, emb, 2, 0.5, dir).collect().toSeq
      assert(cached == VF.topKRecallAudit(approx, q, emb, 2, 0.5).collect().toSeq,
        "the exact top-k artifact is stale")
      served
    }
    writeEmb(path, corpus(0.1f))
    val before = check()
    writeEmb(path, corpus(10f))
    val after = check()
    assert(before != after)
  }

  test("persisted-index keys change when the corpus is rewritten with the same row count") {
    val dir = tmpDir("memo_index")
    val path = s"$dir/embeddings.parquet"
    val base = spark.read.parquet(s"$sf/embeddings.parquet")
    base.repartition(1).write.mode("overwrite").parquet(path)
    val key1 = graft.queries.VectorQueries.indexKey(dir, "sq8")
    graft.queries.VectorQueries.q168SqPersisted(spark, dir).collect()
    base.withColumn("embedding", reverse(col("embedding")))
      .repartition(1).write.mode("overwrite").parquet(path)
    assert(spark.read.parquet(path).count() == base.count())
    val key2 = graft.queries.VectorQueries.indexKey(dir, "sq8")
    assert(key1 != key2, "a same-count rewrite must re-key the persisted index")
    graft.queries.VectorQueries.q168SqPersisted(spark, dir).collect()
    // the second run built its own artifact instead of probing the first
    for (k <- Seq(key1, key2))
      Memo.persisted("sq_index", k, "encoded")(_ => fail(s"no artifact for $k"))
  }

  test("a memo hit for a relation or a fingerprint runs zero Spark jobs") {
    val path = s"$sf/embeddings.parquet"
    val emb = Memo.relation(spark, path)
    val fp = VF.contentFp(emb, "vec_id", "embedding", "memo-spec-hit")
    assert(jobsIn {
      assert(Memo.relation(spark, path) eq emb)
      assert(VF.contentFp(emb, "vec_id", "embedding", "memo-spec-hit") == fp)
    } == 0)
    // the listener does see the job a fingerprint miss runs
    assert(jobsIn(VF.contentFp(emb, "vec_id", "embedding", "memo-spec-miss")) >= 1)
  }
}
