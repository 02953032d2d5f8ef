package graft.operators

import graft.model.StageConfig
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.util.LongAccumulator
import scala.jdk.CollectionConverters._

/** A pipeline stage: DataFrame => DataFrame, the Spark re-expression of
  * the reference's filter list (SURVEY.md §7 design stance). Stages stay
  * lazy — the whole pipeline is one Catalyst plan unless checkpointed.
  */
trait Stage extends Serializable {
  def name: String
  def apply(spark: SparkSession, df: DataFrame): DataFrame
}

/** `sql` stage (reference O12, filefilter.py:340-342): the current
  * pipeline state is exposed as view `df`, the user's SQL replaces it.
  * The DuckDB-dialect text (e.g. the `SELECT * EXCLUDE(a, b)` star
  * modifier of examples/fullExample/fullExample.yml:100-104, rewritten to
  * Spark-native `* EXCEPT (a, b)`) is rewritten exactly once, here, by
  * [[GraftSqlParser.rewriteAll]] before `spark.sql`; the session's own
  * parser is Spark's stock one.
  *
  * Concurrency: `df` (and the read-function / CTAS views this stage
  * registers) live in the SESSION temp-view catalog, so concurrent pipelines must
  * run in separate sessions (`spark.newSession()` — shared
  * SparkContext, isolated catalogs, the standard multi-tenant Spark
  * shape; graft.Bench streams do exactly this). Two pipelines sharing
  * one session race on the `df` name and can resolve each other's
  * relations.
  */
final case class SqlStage(name: String, code: String) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame = {
    df.createOrReplaceTempView("df")
    // dialect functions (string_split, strftime, …); idempotent per session
    graft.functions.expressions.GraftFunctions.register(spark)
    // Multi-statement batches (DuckDB sql stages carry `CREATE MACRO
    // ...; SELECT ...` through the verbatim passthrough): CREATE MACRO
    // statements register into the session macro registry and leave the
    // pipeline state untouched (DDL returns no relation); every other
    // statement runs as its own stage over the ORIGINAL stage input —
    // `df` names the stage input in EVERY statement (DuckDB's view of
    // the batch: the `df` relation doesn't mutate between statements;
    // share intermediate results via CREATE TEMP TABLE AS instead) —
    // and the stage's output is the LAST such statement's result,
    // DuckDB's last-statement rule.
    def runBatch(stmts: Seq[String]): DataFrame = stmts.foldLeft(df) { (out, st) =>
      if (GraftSqlParser.isCreateMacroStatement(st)) {
        GraftSqlParser.registerMacro(spark, st)
        out
      } else SqlStage(name, st).apply(spark, df)
    }
    val stmts = GraftSqlParser.splitStatements(code)
    if (stmts.lengthCompare(1) > 0) return runBatch(stmts)
    // single statement: use the comment-stripped form splitStatements
    // produced, so a leading `--`/`/* */` comment can't defeat the
    // head-anchored detectors below (r12 fuzz; Spark itself accepts
    // leading comments, but the regexes anchor at ^\s*)
    val code1 = stmts.headOption.getOrElse(code)
    if (GraftSqlParser.isCreateMacroStatement(code1)) {
      GraftSqlParser.registerMacro(spark, code1)
      return df
    }
    // DuckDB SET statements: map/acknowledge before Spark's own SET can
    // silently swallow them (TimeZone would otherwise set a meaningless
    // conf key and change nothing)
    if (GraftSqlParser.applyDuckSet(spark, code1)) return df
    // Macro call sites expand FIRST, so a macro body carrying its own
    // DuckDB-isms still meets the full rewrite chain below; then
    // read_* table functions become session temp views (file readers
    // need the session, so they rewrite here, not in rewriteAll).
    val code2 = GraftSqlParser.rewriteAttachedRefs(spark,
      GraftSqlParser.rewriteReadFns(spark,
        GraftSqlParser.expandMacros(spark, code1)))
    // COPY ... TO statement: write one file at the target path and
    // return DuckDB's `Count` relation; a (query) source recurses
    // through this stage so it keeps the full dialect layer. COPY ...
    // FROM (r12) appends the file into the named temp view / table.
    GraftSqlParser.copyTarget(code2).foreach { spec =>
      if (spec.from) return GraftSqlParser.executeCopyFrom(spark, spec)
      val src = spec.sourceSql match {
        case Some(q) => SqlStage(name, q).apply(spark, df)
        case None =>
          val t = spec.sourceTable.get
          if (t.equalsIgnoreCase("df")) df else spark.table(t)
      }
      return GraftSqlParser.executeCopy(spark, src, spec)
    }
    // CREATE [OR REPLACE] TEMP TABLE ... AS query (CTAS): register the
    // query as a session temp view (lazy where DuckDB materializes —
    // result-identical for deterministic pipeline queries); the
    // pipeline state passes through unchanged, DDL-style, so a
    // `CREATE TEMP TABLE t AS ...; SELECT ... FROM t` batch works.
    // Plain CREATE TABLE AS is Spark's own durable CTAS and is NEVER
    // claimed (review r9: interception silently downgraded it).
    // INSERT INTO a session TEMP view: re-register the view as the
    // union of its current relation and the query (positional,
    // count-checked, or BY NAME) — the append half of the CTAS
    // surface. A REAL catalog table falls through to Spark's native
    // INSERT INTO, which actually writes it (review r9: the union
    // flow would shadow the table with a temp view and lose the
    // write).
    def isTempView(t: String): Boolean =
      spark.catalog.tableExists(t) &&
        scala.util.Try(spark.catalog.getTable(t)).toOption
          .exists(_.tableType == "TEMPORARY")
    // the session temp table `t` names; None for a REAL catalog table,
    // which each statement leaves to Spark or refuses in its own words
    def tempTable(verb: String, t: String): Option[DataFrame] = {
      if (!spark.catalog.tableExists(t))
        throw new graft.functions.expressions.DuckDialectException(
          s"sql stage '$name': $verb unknown table '$t' — create it first " +
            "with CREATE TEMP TABLE ... AS in an earlier statement/stage")
      if (isTempView(t)) Some(spark.table(t)) else None
    }
    // DuckDB `RETURNING` (r13): split the projection off the DML text —
    // the statement then returns the AFFECTED rows (post-assignment for
    // UPDATE, old values for DELETE) instead of the Count relation
    val (dmlCode, returning) = GraftSqlParser.stripReturning(code2)
    def returningRelation(rows: DataFrame, exprs: String): DataFrame = {
      // counter-suffixed so a same-named USER view is never clobbered
      // (ADVICE r13); the projection checkpoints so the scratch view can
      // drop immediately
      val v = s"__graft_returning_${SqlStage.dmlSeq.incrementAndGet()}"
      rows.localCheckpoint().createOrReplaceTempView(v)
      val out = SqlStage(name, s"SELECT $exprs FROM $v").apply(spark, df)
        .localCheckpoint()
      spark.catalog.dropTempView(v)
      out
    }
    GraftSqlParser.insertSpec(dmlCode).foreach { spec =>
      if (tempTable("INSERT INTO", spec.table).isDefined)
        return executeInsert(spark, df, spec, returning, returningRelation)
      // real catalog table: Spark's native INSERT INTO handles the plain
      // positional form below; the DuckDB extras have no native shape
      if (spec.cols.isDefined || spec.action.isDefined || spec.byName)
        throw new graft.functions.expressions.DuckDialectException(
          s"sql stage '$name': INSERT INTO catalog table '${spec.table}' with BY NAME / " +
            "a column list / ON CONFLICT is not claimed — Spark's file-backed " +
            "INSERT has no upsert; route through a temp table and rewrite the " +
            "catalog table from it")
    }
    // UPDATE / DELETE against a session TEMP table (r13): DuckDB
    // mutates in place; the Spark re-expression re-registers the view
    // as the mutated relation, LOCALCHECKPOINTED — plan depth stays
    // constant across repeated statements (the COPY FROM treatment,
    // ADVICE r12 #3) and the returned `Count` always equals the rows
    // the surviving view reflects. Assignments are SIMULTANEOUS (every
    // RHS reads the old row — `SET a = b, b = a` swaps; probed) because
    // the projection evaluates over the pre-update relation. The
    // predicate and RHS expressions recurse through this stage, so
    // they keep the full dialect layer. A REAL catalog table gets a
    // guided error: Spark has no in-place DML for file-backed tables —
    // rebuild via CTAS + Sources sinks instead.
    def mutableTempTable(verb: String, t: String): DataFrame =
      tempTable(verb, t).getOrElse(
        throw new graft.functions.expressions.DuckDialectException(
          s"sql stage '$name': $verb targets catalog table '$t' — Spark has " +
            "no in-place DML for file-backed tables; rebuild it (CREATE TEMP " +
            "TABLE AS / Sources sinks) or run the mutation before the write"))
    // The predicate evaluates EXACTLY ONCE, onto a snapshotted match flag
    // `m` (ADVICE r13): a non-deterministic predicate (rand(), uuid())
    // must not let the count, the RETURNING set and the surviving view
    // disagree — all three derive from one snapshot.
    def matchSnapshot(t: String, cur: DataFrame, pred: Option[String],
                      m: String): SqlStage.Snapshot =
      new SqlStage.Snapshot(spark, pred match {
        case Some(p) =>
          SqlStage(name, s"SELECT *, COALESCE(($p), FALSE) AS $m FROM $t").apply(spark, df)
        case None => cur.withColumn(m, lit(true))
      }, m)
    GraftSqlParser.deleteTarget(dmlCode).foreach { case (t, predOpt) =>
      val cur = mutableTempTable("DELETE FROM", t)
      val m = s"__graft_m_${SqlStage.dmlSeq.incrementAndGet()}"
      val tagged = matchSnapshot(t, cur, predOpt, m)
      // RETURNING for DELETE carries the OLD rows (probed)
      val affected = returning.map(_ => tagged.df.where(col(m)).drop(m))
      SqlStage.registerRebuilt(spark, t, tagged.df.where(!col(m)).drop(m))
      returning.foreach(exprs => return returningRelation(affected.get, exprs))
      return GraftSqlParser.countRelation(spark, tagged.matched)
    }
    GraftSqlParser.updateTarget(dmlCode).foreach { spec =>
      val cur = mutableTempTable("UPDATE", spec.table)
      val have = cur.columns.map(_.toLowerCase).toSet
      spec.assigns.foreach { case (c, _) =>
        if (!have.contains(c.toLowerCase))
          throw new graft.functions.expressions.DuckDialectException(
            s"sql stage '$name': UPDATE ${spec.table} assigns unknown column " +
              s"'$c' (table has ${cur.columns.mkString(", ")})")
      }
      spec.from.foreach { fromList =>
        return executeUpdateFrom(spark, df, cur, spec, fromList, returning,
          returningRelation)
      }
      // Snapshot 1: the WHERE predicate's match flag
      val seqNo = SqlStage.dmlSeq.incrementAndGet()
      val m = s"__graft_m_$seqNo"
      val tagged = matchSnapshot(spec.table, cur, spec.where, m).df
      // Snapshot 2: every assignment RHS evaluates once per row, guarded
      // by the MATERIALIZED flag (an RHS that would error on
      // non-matching rows never sees them — DuckDB's behavior), then
      // snapshots itself so a non-deterministic RHS yields one value
      // shared by the surviving view and the RETURNING rows.
      // Assignments stay SIMULTANEOUS: every RHS reads the pre-update
      // row.
      val tv = s"__graft_dml_$seqNo"
      tagged.createOrReplaceTempView(tv)
      val assignsIdx = spec.assigns.zipWithIndex
      val rhsItems = assignsIdx.map { case ((_, e), i) =>
        s"CASE WHEN $m THEN ($e) END AS __graft_u_${i}_$seqNo"
      }
      val snapshot = new SqlStage.Snapshot(spark, SqlStage(name,
        s"SELECT *, ${rhsItems.mkString(", ")} FROM $tv").apply(spark, df), m)
      val snap = snapshot.df
      spark.catalog.dropTempView(tv)
      val idxByLower = assignsIdx.map { case ((ce, i)) => ce._1.toLowerCase -> i }.toMap
      def uCol(i: Int): Column = col(s"__graft_u_${i}_$seqNo")
      val updatedCols = cur.columns.map { c =>
        idxByLower.get(c.toLowerCase) match {
          case Some(i) => when(col(m), uCol(i)).otherwise(col(c)).as(c)
          case None => col(c)
        }
      }
      // DuckDB keeps the column's declared type, ROUNDING fractional →
      // integral assignments (2.7 → 3, probed); Spark's cast truncates,
      // so round first where that divergence bites
      val updated = recastTo(cur, snap.select(updatedCols.toIndexedSeq: _*))
      // RETURNING carries the POST-assignment rows (probed; the
      // snapshot is already materialized — returningRelation adds its
      // own checkpoint)
      val affected = returning.map { _ =>
        val cols = cur.columns.map { c =>
          idxByLower.get(c.toLowerCase).map(i => uCol(i).as(c)).getOrElse(col(c))
        }
        recastTo(cur, snap.where(col(m)).select(cols.toIndexedSeq: _*))
      }
      val n = snapshot.matched
      SqlStage.registerRebuilt(spark, spec.table, updated)
      returning.foreach(exprs => return returningRelation(affected.get, exprs))
      return GraftSqlParser.countRelation(spark, n)
    }
    // TRUNCATE [TABLE] t: DuckDB removes every row and returns the
    // Count relation (probed) — the DELETE-all shape
    GraftSqlParser.truncateTarget(code2).foreach { t =>
      val cur = mutableTempTable("TRUNCATE", t)
      val n = cur.count()
      SqlStage.registerRebuilt(spark, t, cur.limit(0))
      return GraftSqlParser.countRelation(spark, n)
    }
    // EXPORT / IMPORT DATABASE + CHECKPOINT (r14, VERDICT r13 missing
    // #5): EXPORT writes every session TABLE as one data file plus
    // DuckDB-compatible schema.sql/load.sql; IMPORT runs those scripts
    // back through this stage (CREATE TABLE maps onto the session
    // temp-table route, so a DuckDB-produced directory imports too);
    // CHECKPOINT is the no-op acknowledgment (no WAL here) returning
    // DuckDB's empty Success relation. ATTACH (r15) mounts an
    // EXPORT-DATABASE directory as alias-prefixed temp views —
    // rewriteAttachedRefs (in code2 above) points later statements'
    // alias.tbl at them; DETACH drops them. Only a .db storage file
    // keeps the guided error.
    GraftSqlParser.attachTarget(code2).foreach { case (dir, alias, ifNotExists) =>
      return GraftSqlParser.executeAttach(spark, dir, alias,
        st => SqlStage(name, st).apply(spark, df), ifNotExists)
    }
    GraftSqlParser.detachTarget(code2).foreach { case (alias, ifExists) =>
      return GraftSqlParser.executeDetach(spark, alias, ifExists)
    }
    GraftSqlParser.exportDatabaseTarget(code2).foreach { case (dir, fmt) =>
      return GraftSqlParser.executeExportDatabase(spark, dir, fmt)
    }
    GraftSqlParser.importDatabaseTarget(code2).foreach { dir =>
      val p = java.nio.file.Paths.get(dir)
      def readSql(f: String): String = {
        val fp = p.resolve(f)
        if (!java.nio.file.Files.isRegularFile(fp))
          throw new graft.functions.expressions.DuckDialectException(
            s"sql stage '$name': IMPORT DATABASE '$dir' — missing $f (the " +
              "directory must come from EXPORT DATABASE)")
        new String(java.nio.file.Files.readAllBytes(fp), "UTF-8")
      }
      // DuckDB's load.sql records ABSOLUTE source paths — remap onto
      // the import directory so a moved/copied export still loads (r15;
      // the attach route shares the helper). DuckDB returns the LAST
      // load statement's Count relation: the batch rule.
      return runBatch((GraftSqlParser.splitStatements(readSql("schema.sql")) ++
        GraftSqlParser.splitStatements(readSql("load.sql"))).map { st =>
        GraftSqlParser.remapCopySourceToDir(st
          .replaceAll("(?is)^\\s*CREATE\\s+TABLE\\b", "CREATE TEMP TABLE")
          .replaceAll("(?is)^\\s*CREATE\\s+VIEW\\b", "CREATE TEMP VIEW"), dir)
      }.filter(_.trim.nonEmpty))
    }
    if (GraftSqlParser.isCheckpointStatement(code2))
      return GraftSqlParser.successRelation(spark)
    // DROP TABLE on a session TEMP view: DuckDB's DROP TABLE drops temp
    // tables; Spark's insists on DROP VIEW for them — claim exactly the
    // temp-view case and leave real catalog tables to Spark's native
    // DROP TABLE below
    GraftSqlParser.dropTableTarget(code2).foreach { case (_, t) =>
      if (isTempView(t)) {
        spark.catalog.dropTempView(t)
        GraftSqlParser.dropTableMeta(spark, t)
        GraftSqlParser.dropSessionTable(spark, t)
        return df
      } // else fall through: Spark's DROP TABLE [IF EXISTS] handles it
    }
    // ALTER TABLE over a session TEMP table (r13): re-register the view
    // under the altered shape — DDL-style input passthrough (the CTAS
    // convention; DuckDB returns an empty Success relation, probed).
    // ADD COLUMN's DEFAULT and SET DATA TYPE's USING expression recurse
    // through this stage, so they keep the full dialect layer; DuckDB
    // type names map via duckTypeToSpark, and fractional → integral
    // retypes ROUND like DuckDB's cast (the UPDATE treatment).
    // Only session TEMP views are claimed — a real catalog table falls
    // through to Spark's own ALTER TABLE untouched.
    for ((atbl, specOpt) <- GraftSqlParser.alterTarget(code2);
         cur <- tempTable("ALTER TABLE", atbl)) {
      val spec = specOpt.getOrElse(
        throw new graft.functions.expressions.DuckDialectException(
          s"sql stage '$name': ALTER TABLE $atbl: unclaimed alteration — claimed " +
            "forms: RENAME [COLUMN] a TO b, RENAME TO t, ADD [COLUMN] c type " +
            "[DEFAULT lit], DROP [COLUMN] c, ALTER [COLUMN] c [SET DATA] TYPE t " +
            "[USING expr]; rebuild via CREATE OR REPLACE TEMP TABLE for the rest"))
      val cols = cur.columns
      def requireCol(c: String): Unit =
        if (!cols.exists(_.equalsIgnoreCase(c)))
          throw new graft.functions.expressions.DuckDialectException(
            s"sql stage '$name': ALTER TABLE ${spec.table}: unknown column '$c' " +
              s"(table has ${cols.mkString(", ")})")
      def requireFree(c: String): Unit =
        if (cols.exists(_.equalsIgnoreCase(c)))
          throw new graft.functions.expressions.DuckDialectException(
            s"sql stage '$name': ALTER TABLE ${spec.table}: column '$c' already " +
              "exists (DuckDB errors here too)")
      val meta = GraftSqlParser.tableMeta(spark, atbl)
      spec match {
        case GraftSqlParser.AlterRenameColumn(t, from, to) =>
          requireCol(from); requireFree(to)
          cur.withColumnRenamed(from, to).createOrReplaceTempView(t)
          meta.foreach { mm =>
            val fl = from.toLowerCase
            GraftSqlParser.putTableMeta(spark, t, GraftSqlParser.TableMeta(
              mm.pk.map(k => if (k.equalsIgnoreCase(from)) to else k),
              mm.defaults.map { case (k, v) => (if (k == fl) to.toLowerCase else k) -> v },
              mm.notNull.map(k => if (k == fl) to.toLowerCase else k)))
          }
        case GraftSqlParser.AlterAddColumn(t, c, ty, dOpt) =>
          requireFree(c)
          val tt = SqlStage.sparkType(ty)
          val added = dOpt match {
            case Some(d) =>
              val withD = SqlStage(name, s"SELECT *, ($d) AS $c FROM $t")
                .apply(spark, df)
              withD.withColumn(c, SqlStage.roundingCast(col(c), withD.schema(c).dataType, tt))
            case None => cur.withColumn(c, lit(null).cast(tt))
          }
          added.createOrReplaceTempView(t)
          // DuckDB keeps the DEFAULT for future inserts
          dOpt.foreach { d =>
            val mm = meta.getOrElse(GraftSqlParser.TableMeta(Nil, Map.empty, Set.empty))
            GraftSqlParser.putTableMeta(spark, t,
              mm.copy(defaults = mm.defaults + (c.toLowerCase -> d)))
          }
        case GraftSqlParser.AlterDropColumn(t, c) =>
          requireCol(c)
          if (cols.length == 1)
            throw new graft.functions.expressions.DuckDialectException(
              s"sql stage '$name': ALTER TABLE $t: cannot drop the only column")
          if (meta.exists(_.pk.exists(_.equalsIgnoreCase(c))))
            throw new graft.functions.expressions.DuckDialectException(
              s"sql stage '$name': ALTER TABLE $t: cannot drop column '$c' — " +
                "it is part of the PRIMARY KEY (DuckDB refuses too)")
          cur.drop(cols.find(_.equalsIgnoreCase(c)).get).createOrReplaceTempView(t)
          meta.foreach(mm => GraftSqlParser.putTableMeta(spark, t, mm.copy(
            defaults = mm.defaults - c.toLowerCase,
            notNull = mm.notNull - c.toLowerCase)))
        case GraftSqlParser.AlterRenameTable(t, to) =>
          if (spark.catalog.tableExists(to))
            throw new graft.functions.expressions.DuckDialectException(
              s"sql stage '$name': ALTER TABLE $t RENAME TO $to: '$to' already exists")
          cur.createOrReplaceTempView(to)
          spark.catalog.dropTempView(t)
          GraftSqlParser.renameTableMeta(spark, t, to)
          GraftSqlParser.renameSessionTable(spark, t, to)
        case GraftSqlParser.AlterSetType(t, c, ty, usingOpt) =>
          requireCol(c)
          val tt = SqlStage.sparkType(ty)
          val items = cols.map { cc =>
            if (cc.equalsIgnoreCase(c)) s"(${usingOpt.getOrElse(cc)}) AS $cc" else cc
          }
          val projected = SqlStage(name,
            s"SELECT ${items.mkString(", ")} FROM $t").apply(spark, df)
          projected.withColumn(cols.find(_.equalsIgnoreCase(c)).get,
              SqlStage.roundingCast(col(c), projected.schema(c).dataType, tt))
            .createOrReplaceTempView(t)
      }
      return df
    }
    // CREATE TEMP TABLE, as a query (CTAS) or typed: register the view
    // unless IF NOT EXISTS finds the name taken, then record its
    // constraints (`meta`; None drops a replaced typed table's old ones)
    def createTempTable(t: String, orReplace: Boolean, ifNotExists: Boolean,
                        meta: Option[GraftSqlParser.TableMeta])(view: => DataFrame): DataFrame = {
      val exists = spark.catalog.tableExists(t)
      if (exists && !isTempView(t))
        throw new graft.functions.expressions.DuckDialectException(
          s"sql stage '$name': CREATE TEMP TABLE '$t' collides with a REAL " +
            "catalog table of that name — a temp view would shadow it; pick " +
            "another name or drop the table")
      if (!orReplace && !ifNotExists && exists)
        throw new graft.functions.expressions.DuckDialectException(
          s"sql stage '$name': temp table '$t' already exists in this session " +
            "— use CREATE OR REPLACE TEMP TABLE, or CREATE TEMP TABLE IF NOT EXISTS")
      if (!(ifNotExists && exists)) {
        view.createOrReplaceTempView(t)
        meta match {
          case Some(mm) => GraftSqlParser.putTableMeta(spark, t, mm)
          case None => GraftSqlParser.dropTableMeta(spark, t)
        }
        GraftSqlParser.registerSessionTable(spark, t)
      }
      df
    }
    // a CTAS table declares no constraints; the query keeps the full
    // dialect layer
    GraftSqlParser.ctasTarget(code2).foreach { case (orReplace, ifNotExists, tname, q) =>
      return createTempTable(tname, orReplace, ifNotExists, None)(
        SqlStage(name, q).apply(spark, df))
    }
    // typed CREATE TEMP TABLE (column definitions, r13): an EMPTY view
    // with the declared schema, whose constraint metadata (PRIMARY KEY,
    // DEFAULT, NOT NULL) later INSERTs check — DuckDB's upsert surface
    // resolves ON CONFLICT against it
    GraftSqlParser.createTableDefTarget(code2).foreach { ct =>
      val meta = GraftSqlParser.TableMeta(
        ct.pk,
        ct.cols.collect { case c if c.default.isDefined =>
          c.name.toLowerCase -> c.default.get }.toMap,
        ct.cols.collect { case c if c.notNull => c.name.toLowerCase }.toSet)
      return createTempTable(ct.name, ct.orReplace, ct.ifNotExists, Some(meta)) {
        val schema = StructType(ct.cols.map(c =>
          StructField(c.name, SqlStage.sparkType(c.typeName))))
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
      }
    }
    // UNION [ALL] BY NAME (r10): run each side through this stage (full
    // dialect layer, `df` = the stage input), merge with Dataset
    // .unionByName(allowMissingColumns = true) — DuckDB's name-matched
    // union with NULL fill — dedup after non-ALL boundaries, then apply
    // the whole-union ORDER BY/LIMIT tail
    GraftSqlParser.unionByNameTarget(code2).foreach { u =>
      var cur = SqlStage(name, u.sides.head).apply(spark, df)
      u.sides.tail.zip(u.alls).foreach { case (side, all) =>
        cur = cur.unionByName(SqlStage(name, side).apply(spark, df),
          allowMissingColumns = true)
        if (!all) cur = cur.dropDuplicates()
      }
      if (u.tail.nonEmpty) {
        cur.createOrReplaceTempView("graft_ubn")
        cur = spark.sql(GraftSqlParser.rewriteAll(
          "SELECT * FROM graft_ubn " + u.tail))
      }
      return cur
    }
    // ASOF JOIN is auto-rewritten by rewriteAll; POSITIONAL JOIN (and
    // any ASOF shape the rewrite threw on never reaches here) would
    // silently parse as a table alias + inner join — reject what's left
    // AFTER the rewrites, naming the Spark equivalent
    // PIVOT/UNPIVOT statement forms first: they need the session (pivot
    // value discovery) and produce plain SELECTs for the text rewrites;
    // the discovery/schema-probe SQL goes through the same rewrite
    // chain so a dialect-bearing pivot source still works
    // SUMMARIZE statement: produce the per-column stats relation
    // directly (one single-pass aggregate over the target — no SQL
    // equivalent to splice). A bare target names `df` (the default) or
    // a table; a query target (`SUMMARIZE SELECT ...`) recurses through
    // this stage so it keeps the full dialect layer.
    def describedRelation(target: String): DataFrame =
      if (target.isEmpty || target.equalsIgnoreCase("df")) df
      else if (raw"(?is)^\s*(SELECT|WITH|FROM)\b".r.findFirstIn(target).isDefined)
        SqlStage(name, target).apply(spark, df)
      else spark.table(target)
    GraftSqlParser.summarizeTarget(code2).foreach { target =>
      return GraftSqlParser.summarize(describedRelation(target))
    }
    // DESCRIBE/SHOW statement: DuckDB's six-column schema relation
    // (pure driver-side metadata — zero jobs) over the same targets;
    // Spark's own DESCRIBE TABLE / SHOW TABLES forms never match
    // (describeTarget) and keep their native shape.
    GraftSqlParser.describeTarget(code2).foreach { target =>
      return GraftSqlParser.describe(describedRelation(target))
    }
    // percentage reservoir resolves here (needs the session to count
    // the base relation — r16); the spec then collapses to the exact-n
    // reservoir(n ROWS) text the pure rewrites below execute
    val code3 = GraftSqlParser.resolvePercentReservoir(spark, code2,
      st => SqlStage(name, st).apply(spark, df))
    // star-REPLACE expands against the ACTUAL source table's schema
    // when the block reads one resolvable relation (r16); the stage
    // `df` contract stays the fallback
    val resolveRel: String => Option[Seq[String]] = t =>
      if (t.equalsIgnoreCase("df")) None
      else scala.util.Try(spark.table(t).columns.toSeq).toOption
    // grouping-alias shadowing check also needs the stage-input `df`
    // schema (its FROM spelling is the literal name `df`)
    val grpResolve: String => Option[Seq[String]] = t =>
      if (t.equalsIgnoreCase("df")) Some(df.columns.toSeq) else resolveRel(t)
    val dfCols = df.columns.toSeq
    val rewriteDialect: String => String = s => GraftSqlParser.rewriteAll(
      GraftSqlParser.rewriteColumns(
        GraftSqlParser.rewriteReplace(s, dfCols, resolveRel), dfCols, resolveRel),
      grpResolve)
    val rewritten = GraftSqlParser.rewriteSeededRandom(spark, rewriteDialect(
      GraftSqlParser.rewritePivotStatement(spark,
        GraftSqlParser.rewriteUnpivotStatement(code3), rewriteDialect)))
    graft.functions.expressions.DuckDialect.rejectSilentTraps(
      GraftSqlParser.maskQuotes(rewritten))
    // deep/unbounded WITH RECURSIVE: warn about the one-job-per-level
    // cost model and name the iterative operators — never blocks
    GraftSqlParser.warnDeepRecursion(rewritten)
    // empty-input grouping-sets parity (r17; CTE bodies r18, fuzz
    // template 63): DuckDB emits grand-total row(s) even over an empty
    // input where Spark emits none. A site is the whole statement or a
    // top-level CTE body. One LIMIT-1 probe per site decides
    // (early-exit — near-free on non-empty inputs, the only case at
    // scale); a provably-empty input gets the typed-NULL
    // global-aggregate arm, renamed+cast to the plain site's exact
    // schema, registered as a temp view and spliced over the site's
    // span. Any failure anywhere falls back silently to the plain
    // statement (the pre-r17 Spark behavior).
    val sites = GraftSqlParser.emptyGroupingSetsCteSites(rewritten)
    if (sites.nonEmpty) {
      val views = scala.collection.mutable.ListBuffer.empty[String]
      scala.util.Try {
        val repls = sites.flatMap { case (bs, be, spec) =>
          val plain = spark.sql(rewritten.substring(bs, be))
          if (spark.sql(spec.probeSql).isEmpty) {
            val types = spec.groupingExprs.map(e =>
              e -> spark.sql(spec.typeProbe(e)).schema.head.dataType.sql).toMap
            val arm = spark.sql(spec.buildArm(types))
            val aligned = arm.select(arm.columns.zip(plain.schema.fields).map {
              case (c, f) => col(s"`${c.replace("`", "``")}`").cast(f.dataType).as(f.name)
            }.toSeq: _*)
            val vn = "graft_empty_gs_" +
              java.util.UUID.randomUUID().toString.replace("-", "")
            aligned.createOrReplaceTempView(vn)
            views += vn
            Some((bs, be, s"SELECT * FROM $vn"))
          } else None
        }
        if (repls.isEmpty) None
        else {
          val spliced = repls.sortBy(-_._1).foldLeft(rewritten) {
            case (acc, (bs, be, r)) => acc.substring(0, bs) + r + acc.substring(be)
          }
          // analysis is eager in spark.sql, so the views can be dropped
          // as soon as the DataFrame exists
          val out = GraftSqlParser.withDialectHint(code)(spark.sql(spliced))
          views.foreach(spark.catalog.dropTempView(_))
          Some(out)
        }
      } match {
        case scala.util.Success(Some(out)) => return out
        case _ => views.foreach(v =>
          scala.util.Try(spark.catalog.dropTempView(v)))
      }
    }
    try GraftSqlParser.withDialectHint(code)(spark.sql(rewritten))
    catch {
      case e: org.apache.spark.sql.AnalysisException =>
        // unresolved DuckDB function / table function → name the Spark
        // equivalent instead of surfacing a bare UNRESOLVED_ROUTINE
        graft.functions.expressions.DuckDialect.fnHintFor(e.getMessage) match {
          case Some(hint) => throw new graft.functions.expressions.DuckDialectException(
            s"sql stage '$name': $hint", e)
          case None => throw e
        }
    }
  }

  /** Cast `out` back to `target`'s declared column types, ROUNDING
    * fractional → integral like DuckDB's cast (the UPDATE treatment;
    * Spark's cast truncates).
    */
  private def recastTo(target: DataFrame, out: DataFrame): DataFrame =
    target.schema.fields.foldLeft(out) { (acc, f) =>
      val nt = acc.schema(f.name).dataType
      if (nt == f.dataType) acc
      else acc.withColumn(f.name, SqlStage.roundingCast(col(f.name), nt, f.dataType))
    }

  /** Execute a joined `UPDATE t SET ... FROM tables WHERE cond` (r13)
    * against a session TEMP table. The Spark re-expression: tag the
    * target with a row id (stable within the checkpointed snapshot),
    * compute ONE match row per target id with `any_value` over each
    * assignment RHS (DuckDB also takes an arbitrary match when several
    * from-rows qualify — probed), LEFT JOIN the matches back, and keep
    * the old value where no match. Count = matched target rows
    * (DuckDB's). Scale shape: one join on the from-predicate + one
    * id-keyed join — the same plan a hand-written rebuild would get.
    */
  private def executeUpdateFrom(spark: SparkSession, df: DataFrame,
      cur: DataFrame, spec: GraftSqlParser.UpdateSpec, fromList: String,
      returning: Option[String],
      returningRelation: (DataFrame, String) => DataFrame): DataFrame = {
    val t = spec.table
    val rid = "__graft_rid"
    val tagged = cur.withColumn(rid, monotonically_increasing_id()).localCheckpoint()
    tagged.createOrReplaceTempView(t)
    val aliases = spec.assigns.zipWithIndex.map { case ((c, e), ix) =>
      (c.toLowerCase, e, s"__graft_a$ix")
    }
    val mView = "__graft_upd_m"
    val matchSql = s"SELECT $t.$rid AS $rid, " +
      aliases.map { case (_, e, a) => s"any_value($e) AS $a" }.mkString(", ") +
      s" FROM $t, $fromList" +
      spec.where.map(p => s" WHERE ($p)").getOrElse("") +
      s" GROUP BY $t.$rid"
    val matches = SqlStage(name, matchSql).apply(spark, df).localCheckpoint()
    val n = matches.count()
    matches.createOrReplaceTempView(mView)
    val aliasByCol = aliases.map { case (c, _, a) => c -> a }.toMap
    val items = cur.columns.map { c =>
      aliasByCol.get(c.toLowerCase) match {
        case Some(a) =>
          s"CASE WHEN m.$rid IS NOT NULL THEN m.$a ELSE t.$c END AS $c"
        case None => s"t.$c"
      }
    }
    val rebuilt = recastTo(cur, SqlStage(name,
      s"SELECT ${items.mkString(", ")} FROM $t t LEFT JOIN $mView m ON t.$rid = m.$rid")
      .apply(spark, df))
    val affected = returning.map { _ =>
      recastTo(cur, SqlStage(name,
        s"SELECT ${items.mkString(", ")} FROM $t t JOIN $mView m ON t.$rid = m.$rid")
        .apply(spark, df)).localCheckpoint()
    }
    SqlStage.registerRebuilt(spark, t, rebuilt)
    returning.map(exprs => returningRelation(affected.get, exprs))
      .getOrElse(GraftSqlParser.countRelation(spark, n))
  }

  /** Execute a parsed [[GraftSqlParser.InsertSpec]] against a session
    * TEMP table and return DuckDB's `Count` relation (inserted +
    * actually-updated rows — conflict-skipped rows and WHERE-false
    * updates don't count; probed). Enforces the table's declared
    * constraints ([[GraftSqlParser.TableMeta]]): NOT NULL, PRIMARY KEY
    * uniqueness (against the table AND within the batch — DuckDB errors
    * on in-batch duplicate keys even under DO NOTHING, probed), and
    * fills unlisted columns from declared DEFAULTs (NULL otherwise).
    * `ON CONFLICT` resolves against the declared PRIMARY KEY; SET/WHERE
    * expressions read the OLD row bare (or table-qualified) and the
    * incoming row as `excluded.c`, both recursed through this stage so
    * they keep the dialect layer. The re-registered view is
    * localCheckpointed — constant plan depth across repeated statements
    * (the UPDATE/DELETE treatment).
    */
  private def executeInsert(spark: SparkSession, df: DataFrame,
                            spec: GraftSqlParser.InsertSpec,
                            returning: Option[String] = None,
                            returningRelation: (DataFrame, String) => DataFrame
                              = (r, _) => r): DataFrame = {
    import graft.functions.expressions.DuckDialectException
    val t = spec.table
    def fail(msg: String): Nothing =
      throw new DuckDialectException(s"sql stage '$name': INSERT INTO $t: $msg")
    val cur = spark.table(t)
    val meta = GraftSqlParser.tableMeta(spark, t)
    val defaults = meta.map(_.defaults).getOrElse(Map.empty[String, String])
    val pk = meta.map(_.pk).getOrElse(Nil)
    val pkLower = pk.map(_.toLowerCase).toSet
    val add0 = SqlStage(name, spec.query).apply(spark, df)
    // ---- align incoming columns to the table's column set (canonical
    // spelling; positional, explicit column list, or BY NAME)
    val provided: Seq[String] = spec.cols match {
      case Some(list) =>
        list.find(c => !cur.columns.exists(_.equalsIgnoreCase(c))).foreach(c =>
          fail(s"unknown column '$c' (table has ${cur.columns.mkString(", ")})"))
        if (list.map(_.toLowerCase).distinct.size != list.size)
          fail("duplicate column in the column list")
        if (add0.columns.length != list.size)
          fail(s"the column list names ${list.size} columns but the query " +
            s"produces ${add0.columns.length}")
        list.map(c => cur.columns.find(_.equalsIgnoreCase(c)).get)
      case None if spec.byName =>
        add0.columns.find(c => !cur.columns.exists(_.equalsIgnoreCase(c))).foreach(c =>
          fail(s"BY NAME column '$c' is not in the table " +
            s"(${cur.columns.mkString(", ")})"))
        add0.columns.toSeq.map(c => cur.columns.find(_.equalsIgnoreCase(c)).get)
      case None =>
        if (add0.columns.length != cur.columns.length)
          fail(s"the table has ${cur.columns.length} columns but the query " +
            s"produces ${add0.columns.length} — match them or use " +
            "INSERT INTO ... BY NAME")
        cur.columns.toSeq
    }
    val renamed = add0.toDF(provided: _*)
    val providedLower = provided.map(_.toLowerCase).toSet
    // ---- fill unlisted columns: declared DEFAULT (dialect-evaluated) or NULL
    val insView = s"__graft_ins_$t"
    val aligned0 =
      if (providedLower.size == cur.columns.length)
        renamed.select(cur.columns.map(col).toIndexedSeq: _*)
      else {
        renamed.createOrReplaceTempView(insView)
        val items = cur.columns.map { c =>
          if (providedLower.contains(c.toLowerCase)) c
          else defaults.get(c.toLowerCase) match {
            case Some(d) => s"($d) AS $c"
            case None => s"NULL AS $c"
          }
        }
        SqlStage(name, s"SELECT ${items.mkString(", ")} FROM $insView")
          .apply(spark, df)
      }
    // one-shot snapshot (r14, VERDICT r13 #9): small incoming batches
    // collect into a LocalRelation — the constraint stats then compute
    // DRIVER-SIDE with zero extra jobs and every later join against
    // the batch broadcasts a driver-built relation; big batches keep
    // the lazily checkpointed distributed frame.
    val alignedE = SqlStage.snapshot(spark, recastTo(cur, aligned0))
    val alignedSchema = recastTo(cur, aligned0).schema
    val aligned = SqlStage.snapshotDf(spark, alignedE, alignedSchema)
    // ---- declared constraints, ONE aggregate pass (the per-statement
    // job count is the DML fixture cost at bench scale): total rows,
    // per-constrained-column null counts, and distinct-key count; the
    // offending key is only LOOKED UP on the error path
    val constrained = (meta.map(_.notNull).getOrElse(Set.empty) ++ pkLower)
      .toSeq.sorted.flatMap(c => cur.columns.find(_.equalsIgnoreCase(c)))
    val pkCols = pk.map(k => cur.columns.find(_.equalsIgnoreCase(k)).getOrElse(
      fail(s"declared PRIMARY KEY column '$k' is gone from the table")))
    // The constraint stats — total rows, per-constrained-column null
    // counts, distinct-key count, and the number of incoming rows whose
    // key already exists in the table (replaces the separate clash
    // semi-join and the DO NOTHING / DO UPDATE count jobs). Small batch
    // + LocalRelation table: computed DRIVER-SIDE, zero jobs. Otherwise
    // ONE join-aggregate pass (r13 paid four actions, each multiplied
    // by AQE's per-query-stage jobs).
    // (n, nd, matched)
    val statsOpt: Option[(Long, Long, Long)] =
      if (constrained.isEmpty && pkCols.isEmpty) None
      else (alignedE match {
        case Left(rows) if pkCols.isEmpty || SqlStage.isLocalRel(cur) =>
          constrained.foreach { c =>
            val i = alignedSchema.fieldIndex(c)
            if (rows.exists(_.isNullAt(i)))
              fail(s"NOT NULL constraint failed: $t.$c")
          }
          if (pkCols.isEmpty) Some((rows.length.toLong, rows.length.toLong, 0L))
          else {
            val ki = pkCols.map(alignedSchema.fieldIndex)
            def key(r: Row): Seq[Any] = ki.map(r.get)
            val keys = rows.map(key)
            val nd = keys.distinct.length.toLong
            if (nd != rows.length) {
              val dup = keys.groupBy(identity).collectFirst {
                case (k, g) if g.length > 1 => k }.get
              fail("PRIMARY KEY or UNIQUE constraint violated: duplicate " +
                "key \"" + dup.mkString(", ") + "\" (within the batch)")
            }
            val curKeys = cur.select(pkCols.map(col).toIndexedSeq: _*)
              .collect().map(_.toSeq).toSet
            Some((rows.length.toLong, nd, keys.count(curKeys.contains).toLong))
          }
        case _ =>
          val hitCol = s"__graft_hit_${SqlStage.dmlSeq.incrementAndGet()}"
          val base =
            if (pkCols.nonEmpty)
              aligned.join(
                cur.select(pkCols.map(col).toIndexedSeq: _*).withColumn(hitCol, lit(1)),
                pkCols, "left")
            else aligned
          val statsCols = Seq(count(lit(1)).as("__n")) ++
            (if (pkCols.nonEmpty)
              Seq(countDistinct(struct(pkCols.map(col).toIndexedSeq: _*)).as("__nd"),
                count(col(hitCol)).as("__match"))
            else Nil) ++
            constrained.map(c => count(when(col(c).isNull, 1)).as(s"__nn_$c"))
          val stats = base.agg(statsCols.head, statsCols.tail: _*).collect().head
          constrained.foreach { c =>
            if (stats.getAs[Long](s"__nn_$c") > 0)
              fail(s"NOT NULL constraint failed: $t.$c")
          }
          if (pkCols.nonEmpty &&
            stats.getAs[Long]("__nd") != stats.getAs[Long]("__n")) {
            val dup = aligned.groupBy(pkCols.map(col).toIndexedSeq: _*).count()
              .filter(col("count") > 1).limit(1).collect()
            fail("PRIMARY KEY or UNIQUE constraint violated: duplicate key \"" +
              dup.headOption.map(_.toSeq.dropRight(1).mkString(", ")).getOrElse("?") +
              "\" (within the batch)")
          }
          Some((stats.getAs[Long]("__n"),
            if (pkCols.nonEmpty) stats.getAs[Long]("__nd") else stats.getAs[Long]("__n"),
            if (pkCols.nonEmpty) stats.getAs[Long]("__match") else 0L))
      })
    def nIncoming: Long = statsOpt.map(_._1).getOrElse(alignedE match {
      case Left(rows) => rows.length.toLong
      case Right(d) => d.count()
    })
    def nMatched: Long = statsOpt.get._3
    if (returning.isDefined && spec.action.isDefined)
      fail("RETURNING with ON CONFLICT / OR REPLACE / OR IGNORE is not " +
        "claimed — DuckDB returns only the actually-inserted/updated rows " +
        "there; read the table back after the upsert instead")
    if (spec.action.isDefined && pkCols.isEmpty)
      fail("ON CONFLICT / OR REPLACE / OR IGNORE needs a declared PRIMARY KEY " +
        "— create the table with CREATE TEMP TABLE t (c TYPE PRIMARY KEY, ...) " +
        "(DuckDB: no UNIQUE/PRIMARY KEY index to refer to)")
    spec.conflictTarget.foreach { tgt =>
      if (tgt.map(_.toLowerCase).toSet != pkLower)
        fail(s"conflict target (${tgt.mkString(", ")}) must match the " +
          s"PRIMARY KEY (${pk.mkString(", ")})")
    }
    val (merged, nAffected) = spec.action match {
      case None =>
        if (pkCols.nonEmpty && nMatched > 0) {
          // error path only: look the offending key up
          val clash = aligned.join(cur, pkCols, "left_semi")
            .select(pkCols.map(col).toIndexedSeq: _*).limit(1).collect()
          fail("Duplicate key \"" + pkCols.zip(clash.head.toSeq)
            .map { case (c, v) => s"$c: $v" }.mkString(", ") +
            "\" violates primary key constraint — add ON CONFLICT DO " +
            "NOTHING / DO UPDATE, or INSERT OR REPLACE / OR IGNORE")
        }
        (cur.union(aligned), nIncoming)
      case Some(GraftSqlParser.DoNothing) =>
        // no count job: the stats pass already counted the conflicts
        val fresh = aligned.join(cur, pkCols, "left_anti")
        (cur.union(fresh), nIncoming - nMatched)
      case Some(GraftSqlParser.DoUpdate(assigns0, where)) =>
        // the OR REPLACE shorthand parses as DoUpdate(Nil): SET every
        // PROVIDED non-key column = excluded (unlisted keep OLD values)
        val assigns =
          if (assigns0.nonEmpty) assigns0
          else provided.filterNot(c => pkLower.contains(c.toLowerCase))
            .map(c => c -> s"excluded.$c")
        assigns.foreach { case (c, _) =>
          if (!cur.columns.exists(_.equalsIgnoreCase(c)))
            fail(s"DO UPDATE SET names unknown column '$c'")
          if (pkLower.contains(c.toLowerCase))
            fail(s"can not assign to column '$c' — it has a UNIQUE/PRIMARY " +
              "KEY constraint")
        }
        val excView = s"__graft_exc_$t"
        aligned.select((cur.columns.map(c => col(c).as(s"__exc_$c")) :+
          lit(true).as("__graft_m")).toIndexedSeq: _*)
          .createOrReplaceTempView(excView)
        def rw(e: String): String = GraftSqlParser.rewriteUpsertRefs(e, t)
        val byLower = assigns.map { case (c, e) => c.toLowerCase -> rw(e) }.toMap
        val predR = where.map(rw)
        val matchedCond = "COALESCE(__graft_m, FALSE)" +
          predR.map(p => s" AND COALESCE(($p), FALSE)").getOrElse("")
        val items = cur.columns.map { c =>
          byLower.get(c.toLowerCase) match {
            case Some(e) => s"CASE WHEN $matchedCond THEN ($e) ELSE $c END AS $c"
            case None => c
          }
        }
        val pkCond = pkCols.map(k => s"$t.$k = $excView.__exc_$k").mkString(" AND ")
        val keptUpdated = recastTo(cur, SqlStage(name,
          s"SELECT ${items.mkString(", ")} FROM $t LEFT JOIN $excView ON $pkCond")
          .apply(spark, df))
        // WHERE-free DO UPDATE touches every conflicting row — the
        // stats pass already counted them; only a WHERE-bearing upsert
        // pays a predicate-count job
        val nUpd = predR match {
          case None => nMatched
          case Some(p) => SqlStage(name,
            s"SELECT COUNT(*) AS n FROM $t JOIN $excView ON $pkCond" +
              s" WHERE COALESCE(($p), FALSE)")
            .apply(spark, df).collect().head.getLong(0)
        }
        val fresh = aligned.join(cur, pkCols, "left_anti")
        (keptUpdated.union(fresh), nUpd + (nIncoming - nMatched))
    }
    SqlStage.registerRebuilt(spark, t, merged)
    spark.catalog.dropTempView(insView)
    spark.catalog.dropTempView(s"__graft_exc_$t")
    // RETURNING on a plain INSERT carries the rows as inserted (probed)
    returning.map(exprs => returningRelation(aligned, exprs))
      .getOrElse(GraftSqlParser.countRelation(spark, nAffected))
  }
}

object SqlStage {
  /** Session-unique sequence for DML scratch view/column names, so the
    * emulation can never clobber a same-named user view (ADVICE r13).
    */
  private[operators] val dmlSeq = new java.util.concurrent.atomic.AtomicInteger(0)

  /** Rows up to which a DML-rebuilt temp table registers as a
    * driver-side LocalRelation instead of a checkpointed RDD view.
    */
  private[operators] val LocalizeRows = 20000

  /** Re-register a DML statement's rebuilt temp table (r14 job-floor
    * shave, VERDICT r13 #9). DuckDB-style session temp tables are
    * single-node by construction; when the rebuilt relation is small
    * (≤ [[LocalizeRows]], probed via a pushed-down limit), it collects
    * into a LocalRelation — every later broadcast build and scan
    * against the table is then DRIVER-SIDE and job-free, which is most
    * of the DML batch's latency (the r13 shape paid a broadcast-future
    * job per join per statement). Larger tables keep the distributed
    * lazily-checkpointed view (bounded plan depth, no driver risk —
    * the cap is rows, deliberately conservative). Either path
    * materializes the statement's snapshot exactly once, so
    * non-deterministic inputs stay consistent.
    */
  private[operators] def registerRebuilt(spark: SparkSession, t: String,
                                         df: DataFrame): Unit =
    snapshotDf(spark, snapshot(spark, df), df.schema).createOrReplaceTempView(t)

  /** Materialize a DML snapshot EXACTLY ONCE: the driver-side row array
    * when it fits [[LocalizeRows]] (probed via a pushed-down limit),
    * else a lazily checkpointed distributed frame. Either way every
    * downstream consumer reads one consistent evaluation — the
    * non-determinism contract of the DELETE/UPDATE emulation.
    */
  private[operators] def snapshot(spark: SparkSession, df: DataFrame):
      Either[Array[Row], DataFrame] = {
    val head = df.limit(LocalizeRows + 1).collect()
    if (head.length <= LocalizeRows) Left(head)
    else Right(df.localCheckpoint(false))
  }

  /** Wrap a snapshot back into a DataFrame — a LocalRelation for the
    * driver-side arm (joins/filters against it plan job-free local
    * scans and driver-built broadcasts).
    */
  private[operators] def snapshotDf(spark: SparkSession,
      e: Either[Array[Row], DataFrame],
      schema: StructType): DataFrame = e match {
    case Left(rows) =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
    case Right(d) => d
  }

  /** One DML snapshot of `plan` ([[snapshot]]) and the number of its
    * rows whose boolean flag column `m` is TRUE — counted driver-side
    * for the row-array arm, by one job otherwise, and only when asked.
    */
  private[operators] final class Snapshot(spark: SparkSession, plan: DataFrame, m: String) {
    private val e = snapshot(spark, plan)
    val df: DataFrame = snapshotDf(spark, e, plan.schema)
    lazy val matched: Long = e match {
      case Left(rows) =>
        val mi = plan.schema.fieldIndex(m)
        rows.count(r => !r.isNullAt(mi) && r.getBoolean(mi)).toLong
      case Right(d) => d.where(col(m)).count()
    }
  }

  /** The Spark type of a DuckDB type name. */
  private[operators] def sparkType(duckType: String): DataType =
    StructType.fromDDL(s"x ${GraftSqlParser.duckTypeToSpark(duckType)}").head.dataType

  /** Cast `c` from `from` to `to`, ROUNDING fractional → integral like
    * DuckDB's cast (2.7 → 3, probed; Spark's cast truncates).
    */
  private[operators] def roundingCast(c: Column, from: DataType, to: DataType): Column = {
    val needsRound = (from == DoubleType || from == FloatType ||
      from.isInstanceOf[DecimalType]) &&
      (to == LongType || to == IntegerType || to == ShortType || to == ByteType)
    (if (needsRound) round(c) else c).cast(to)
  }

  /** True when the view's optimized plan is already a LocalRelation —
    * collects against it are driver-side and job-free.
    */
  private[operators] def isLocalRel(df: DataFrame): Boolean =
    df.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]
}

/** `derive` stage — the Catalyst-visible re-expression of the reference's
  * per-row `python` stage (O13, filefilter.py:38-50): ordered named Spark
  * SQL expressions added/overwritten via withColumn, plus filter / drop /
  * rename conveniences. Expressions compile to codegen'd Catalyst trees
  * instead of per-row exec() — the reference's error-keep semantics map
  * to `try_*` / `try_cast` expressions that yield NULL instead of
  * failing (§2c divergence, documented).
  */
final case class DeriveStage(
    name: String,
    columns: Seq[(String, String)] = Nil,
    filterExpr: Option[String] = None,
    dropCols: Seq[String] = Nil,
    rename: Seq[(String, String)] = Nil) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame = {
    // the migrator emits graft natives (duck_regexp_replace, …) —
    // resolve them on sessions we didn't build (idempotent)
    graft.functions.expressions.GraftFunctions.register(spark)
    var out = df
    columns.foreach { case (c, e) => out = out.withColumn(c, expr(e)) }
    filterExpr.foreach(f => out = out.filter(expr(f)))
    if (dropCols.nonEmpty) out = out.drop(dropCols: _*)
    rename.foreach { case (from, to) => out = out.withColumnRenamed(from, to) }
    out
  }
}

object DeriveStage {
  /** Build from YAML actionConfig:
    * {{{
    * actionConfig:
    *   columns: [{name: tipo, expr: "CASE WHEN telefono RLIKE '^9' ..."}]
    *   filter: "tipo <> 'error'"
    *   drop: [lat, lon]
    *   rename: {old: new}
    * }}}
    */
  def fromConfig(cfg: StageConfig): DeriveStage = {
    val ac = cfg.actionConfig
    val cols = ac.get("columns") match {
      case Some(l: java.util.List[_]) =>
        l.asScala.toSeq.map {
          case m: java.util.Map[_, _] =>
            val mm = m.asInstanceOf[java.util.Map[String, Any]].asScala
            (mm("name").toString, mm("expr").toString)
          case other => throw new IllegalArgumentException(s"bad column spec: $other")
        }
      case _ => Nil
    }
    val drops = ac.get("drop") match {
      case Some(l: java.util.List[_]) => l.asScala.toSeq.map(_.toString)
      case _ => Nil
    }
    val renames = ac.get("rename") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asInstanceOf[java.util.Map[String, Any]].asScala.toSeq.map { case (k, v) => (k, v.toString) }
      case _ => Nil
    }
    DeriveStage(cfg.name, cols, ac.get("filter").flatMap(Option(_)).map(_.toString),
      drops, renames)
  }
}

/** Whole-frame hook — the reference's declared-but-unimplemented
  * `pandas`/`udf` stage (O15, filefilter.py:344-346) done properly: a
  * registered Scala DataFrame => DataFrame transform looked up by name.
  */
final case class TransformStage(name: String, fnName: String) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame =
    TransformRegistry.get(fnName)
      .getOrElse(throw new IllegalArgumentException(s"unknown transform '$fnName'"))
      .apply(df)
}

object TransformRegistry {
  private val fns = scala.collection.concurrent.TrieMap[String, DataFrame => DataFrame]()
  def register(name: String, fn: DataFrame => DataFrame): Unit = fns.put(name, fn)
  def get(name: String): Option[DataFrame => DataFrame] = fns.get(name)
}

/** `dedup` stage: first-class YAML access to the dedup family —
  * training-pipeline users shouldn't need Scala to deduplicate. Methods:
  *
  *  - `exact`: drop rows whose key column exactly repeats (keep lowest id);
  *  - `fingerprint`: same, on the whitespace/case-normalized md5
  *    fingerprint ([[graft.functions.TextFunctions.fingerprintFast]]);
  *  - `minhash` (default): MinHash+LSH near-dup clusters, keep the
  *    lowest-id representative per cluster
  *    ([[graft.functions.Dedup.dropNearDuplicates]]);
  *  - `spans`: span-level exact dedup ([[graft.functions.Dedup.dedupSpans]],
  *    window size from `width`, default 20): the text column is REPLACED
  *    by the document rebuilt from first-occurrence spans, and rows
  *    whose text was entirely duplicated elsewhere are dropped;
  *  - `substrings` (r13): sliding-window exact-substring dedup
  *    ([[graft.functions.Dedup.dedupSubstrings]] — the ANY-alignment
  *    ExactSubstr of Lee et al. 2022; window length from `width`): every
  *    token covered by a non-first duplicate window drops, the text
  *    column is REPLACED by the rebuilt survivors, fully-duplicated
  *    rows drop;
  *  - `lines`: line-level frequency dedup
  *    ([[graft.functions.Dedup.dropFrequentLines]], threshold from
  *    `maxDf`, default 4): every line appearing in more than `maxDf`
  *    documents is boilerplate and is dropped from ALL of them; the text
  *    column is REPLACED by the reassembled survivors, and rows whose
  *    every line was boilerplate are dropped; `hashKeys: true` keys the
  *    frequency count by xxhash64(line) — the 100 TB build side;
  *  - `vectors`: LSH embedding near-dup removal
  *    ([[graft.functions.VectorFunctions.dropNearDupVectors]]) over the
  *    `vec` column (default `embedding`) at cosine ≥ `threshold`
  *    (`bits`/`tables` size the LSH index; omitted `bits` auto-sizes
  *    from the corpus count — bits ≈ log2(corpus), the r7 default);
  *  - `semdedup`: SemDeDup proper (Abbas et al. 2023,
  *    [[graft.functions.VectorFunctions.semDedup]]) — k-means cluster
  *    then cluster-local keep-lowest-id prune at cosine ≥ `threshold`;
  *    `clusters` sets the centroid count (omitted → √N/3 auto-sizing,
  *    which bounds the cluster-local quadratic at ~N^1.5 flops).
  *    `maxClusterSize` (default 4096, 0 disables) caps any one
  *    cluster's prune membership: a cluster over the cap is
  *    deterministically down-sampled BEFORE the pair join (hash-ranked
  *    by id), bounding its blowup at cap²/2 pairs. SILENT-PRECISION
  *    NOTE: evicted members skip pruning entirely — they survive even
  *    when a true near-twin exists, so a production cluster above the
  *    cap pays a RECALL tax on dedup (at most (size−cap)/size of that
  *    cluster's true near-dups are retained), never a data loss.
  *    Detect it from the `Dataset.observe` telemetry semDedup emits
  *    (`rows_evicted` > 0 / `hot_buckets` / `max_bucket_size` — see
  *    DedupSpec "hot-cluster cap"): any nonzero `rows_evicted` means
  *    the cap engaged, and a `max_bucket_size` well over N/`clusters`
  *    is the signal that `clusters` is undersized for the corpus —
  *    raise `clusters` (cheaper assignment, smaller clusters) before
  *    raising the cap.
  *
  * {{{
  * actionConfig: {method: minhash, id: doc_id, text: text, threshold: 0.6}
  * actionConfig: {method: vectors, id: vec_id, vec: embedding, threshold: 0.95}
  * actionConfig: {method: semdedup, id: vec_id, vec: embedding, threshold: 0.9}
  * actionConfig: {method: minhash, id: doc_id, text: text, score: "length(text)"}
  * actionConfig: {method: lines, id: doc_id, text: text, maxDf: 4}
  * actionConfig: {method: substrings, id: doc_id, text: text, width: 50}
  * }}}
  */
final case class DedupStage(name: String, method: String, idCol: String,
                            textCol: String, threshold: Double,
                            k: Int, numHashes: Int, bands: Int,
                            width: Int = 20, vecCol: String = "embedding",
                            bits: Int = graft.functions.VectorFunctions.Auto,
                            tables: Int = 16,
                            maxDf: Long = 4,
                            hashKeys: Boolean = false,
                            clusters: Int = graft.functions.VectorFunctions.Auto,
                            score: Option[String] = None,
                            maxClusterSize: Int = 4096)
    extends Stage {
  /** The latest semdedup apply's hot-cluster Observation (None until a
    * semdedup apply; metrics block until an action runs the plan).
    */
  @transient @volatile var lastCapObs:
    Option[org.apache.spark.sql.Observation] = None

  override def apply(spark: SparkSession, df: DataFrame): DataFrame = method match {
    case "exact" | "fingerprint" =>
      val key = if (method == "exact") col(textCol)
        else graft.functions.TextFunctions.fingerprintFast(col(textCol))
      val keep = df.groupBy(key.as("__graft_key"))
        .agg(min(col(idCol)).as("__graft_keep"))
        .select(col("__graft_keep"))
      df.join(keep, col(idCol) === col("__graft_keep"), "left_semi")
    case "minhash" =>
      // `score` elects each duplicate cluster's best-scored member as
      // the survivor (r10) instead of the default lowest-id policy
      score match {
        case Some(sc) => graft.functions.Dedup.dropNearDuplicatesByScore(
          df, idCol, textCol, expr(sc), k, numHashes, bands, threshold)
        case None => graft.functions.Dedup.dropNearDuplicates(df, idCol, textCol,
          k, numHashes, bands, threshold)
      }
    case "spans" =>
      replaceText(df, graft.functions.Dedup.dedupSpans(df, idCol, textCol, width))
    case "substrings" =>
      // any-alignment ExactSubstr (r13): `width` is the sliding-window
      // token length; covered tokens of non-first duplicates drop
      replaceText(df, graft.functions.Dedup.dedupSubstrings(df, idCol, textCol, width)
        .withColumn("n_kept", col("n_toks") - col("n_removed")))
    case "lines" =>
      replaceText(df, graft.functions.Dedup.dropFrequentLines(
        df, idCol, textCol, maxDf, hashKeys = hashKeys))
    case "vectors" =>
      graft.functions.VectorFunctions.dropNearDupVectors(
        df, idCol, vecCol, threshold, bits, tables)
    case "semdedup" =>
      // SemDeDup proper (Abbas 2023): Lloyd-refined quantizer (nlist
      // auto-sizes to √N/3 when `clusters` is omitted), cluster-local
      // keep-lowest-id prune at cosine ≥ threshold. A fresh Observation
      // per apply carries the hot-cluster telemetry (rows_evicted /
      // hot_buckets / max_bucket_size) — `lastCapObs.get` after any
      // action on the result is the production probe for the cap's
      // recall tax (see the class doc)
      val corpus = df.select(col(idCol).as("vec_id"), col(vecCol).as("embedding"))
      val idx = graft.functions.VectorFunctions.buildIvf(
        corpus, nlist = clusters, refine = 1)
      val obs = new org.apache.spark.sql.Observation(s"semdedup_cap_$name")
      lastCapObs = Some(obs)
      val survivors = graft.functions.VectorFunctions.semDedup(
        corpus, idx.centroids, threshold, maxClusterSize, Some(obs))
      df.join(survivors.select(col("vec_id").as("__graft_keep")),
        col(idCol) === col("__graft_keep"), "left_semi")
    case other => throw new IllegalArgumentException(
      s"dedup stage '$name': unknown method '$other' (exact | fingerprint | minhash | spans | substrings | lines | vectors | semdedup)")
  }

  /** Swap the text column for the rebuilt survivors of a
    * (doc, clean_text, n_kept) cleaning result. Keep docs that retained
    * at least one piece OR were empty to begin with — n_kept == 0 on a
    * non-empty doc means "entirely duplicated/boilerplate elsewhere",
    * but an originally-empty doc is not a duplicate (ADVICE r5:
    * length(clean_text) > 0 conflated the two).
    */
  private def replaceText(df: DataFrame, cleanedRaw: DataFrame): DataFrame = {
    val cleaned = cleanedRaw
      .select(col("doc").as("__graft_doc"), col("clean_text"), col("n_kept"))
    val joined = df.join(cleaned, col(idCol) === col("__graft_doc"))
      .filter(col("n_kept") > 0 || length(col(textCol)) === 0)
      .drop(textCol, "__graft_doc", "n_kept")
      .withColumnRenamed("clean_text", textCol)
    // the cleaning changed the text — derived length columns follow
    if (joined.columns.contains("n_chars"))
      joined.withColumn("n_chars",
        length(col(textCol)).cast(joined.schema("n_chars").dataType))
    else joined
  }
}

object DedupStage {
  def fromConfig(cfg: StageConfig): DedupStage = {
    val ac = cfg.actionConfig
    def s(k: String, d: String) = ac.get(k).flatMap(Option(_)).map(_.toString).getOrElse(d)
    def n(k: String, d: Int) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.intValue(); case Some(x) => x.toString.toInt; case None => d
    }
    def dbl(k: String, d: Double) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.doubleValue(); case Some(x) => x.toString.toDouble; case None => d
    }
    DedupStage(cfg.name, s("method", "minhash"), s("id", "doc_id"), s("text", "text"),
      dbl("threshold", 0.6), n("k", 3), n("numHashes", 32), n("bands", 8),
      n("width", 20), s("vec", "embedding"),
      // bits omitted in YAML → auto-sized from the corpus (bits ≈ log2 n)
      n("bits", graft.functions.VectorFunctions.Auto), n("tables", 16),
      n("maxDf", 4).toLong,
      ac.get("hashKeys").flatMap(Option(_)).exists(_.toString.toBoolean),
      n("clusters", graft.functions.VectorFunctions.Auto),
      ac.get("score").flatMap(Option(_)).map(_.toString).filter(_.nonEmpty),
      n("maxClusterSize", 4096))
  }
}

/** `decontaminate` stage: drop corpus rows that appear in a held-out
  * benchmark/eval set read from `benchmark` (any [[graft.sources.Sources]]
  * format — parquet/csv/tsv/orc/s3a). Three methods, by benchmark size
  * and match strictness:
  *
  *  - `bloom` (default): EXACT normalized-text matching behind a
  *    Bloom-filter prefilter ([[graft.functions.Dedup.decontaminateExactBloom]])
  *    — the benchmark is never broadcast as strings, misses never
  *    shuffle, false positives are exact-verified away; fits benchmarks
  *    far too large for a broadcast join;
  *  - `exact`: plain fingerprint anti-join (small benchmarks — one
  *    broadcast-able distinct set);
  *  - `minhash`: NEAR-duplicate decontamination at Jaccard ≥ `threshold`
  *    ([[graft.functions.Dedup.minhashNearDupsBetween]]) — catches
  *    paraphrased/partially-copied eval rows exact matching misses.
  *
  * `benchText` names the benchmark's text column when it differs from
  * the corpus `text` column.
  *
  * {{{
  * actionConfig: {benchmark: /data/eval.parquet, method: bloom, id: doc_id, text: text}
  * actionConfig: {benchmark: /data/eval.parquet, method: minhash, threshold: 0.8}
  * }}}
  */
final case class DecontaminateStage(name: String, method: String,
                                    benchmarkPath: String, idCol: String,
                                    textCol: String, benchTextCol: String,
                                    threshold: Double, k: Int, numHashes: Int,
                                    bands: Int, expectedItems: Long,
                                    fpp: Double) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame = {
    val benchRaw = graft.sources.Sources.load(spark, benchmarkPath)
    if (!benchRaw.columns.contains(benchTextCol))
      throw new IllegalArgumentException(
        s"decontaminate stage '$name': benchmark $benchmarkPath has no column " +
          s"'$benchTextCol' (columns: ${benchRaw.columns.mkString(", ")})")
    val bench =
      if (benchTextCol == textCol) benchRaw
      else benchRaw.withColumnRenamed(benchTextCol, textCol)
    method match {
      case "bloom" =>
        graft.functions.Dedup.decontaminateExactBloom(
          df, bench, textCol, expectedItems, fpp)
      case "exact" =>
        val fp = graft.functions.TextFunctions.fingerprintFast(col(textCol))
        df.join(bench.select(fp.as("__graft_bench_fp")).distinct(),
          fp === col("__graft_bench_fp"), "left_anti")
      case "minhash" =>
        // bench ids only label the right side of candidate pairs — when
        // the benchmark has no such column, any distinct value works
        val benchIdd =
          if (bench.columns.contains(idCol)) bench
          else bench.withColumn(idCol, xxhash64(col(textCol)))
        val contaminated = graft.functions.Dedup.minhashNearDupsBetween(
            df, benchIdd, idCol, textCol, k, numHashes, bands, threshold)
          .select(col("doc_a").as("__graft_drop")).distinct()
        df.join(contaminated, col(idCol) === col("__graft_drop"), "left_anti")
      case other => throw new IllegalArgumentException(
        s"decontaminate stage '$name': unknown method '$other' (bloom | exact | minhash)")
    }
  }
}

object DecontaminateStage {
  def fromConfig(cfg: StageConfig): DecontaminateStage = {
    val ac = cfg.actionConfig
    def s(k: String, d: String) = ac.get(k).flatMap(Option(_)).map(_.toString).getOrElse(d)
    def n(k: String, d: Int) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.intValue(); case Some(x) => x.toString.toInt; case None => d
    }
    def dbl(k: String, d: Double) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.doubleValue(); case Some(x) => x.toString.toDouble; case None => d
    }
    // expectedItems is the one knob documented against 10⁹-row
    // benchmarks — routing it through the Int helper would silently cap
    // it at 2³¹-1 (ADVICE r6)
    def lng(k: String, d: Long) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.longValue(); case Some(x) => x.toString.toLong; case None => d
    }
    val path = ac.get("benchmark").flatMap(Option(_)).map(_.toString).getOrElse(
      throw new IllegalArgumentException(
        s"decontaminate stage '${cfg.name}': actionConfig.benchmark (path) required"))
    val text = s("text", "text")
    DecontaminateStage(cfg.name, s("method", "bloom"), path,
      s("id", "doc_id"), text, s("benchText", text),
      dbl("threshold", 0.8), n("k", 3), n("numHashes", 32), n("bands", 8),
      lng("expectedItems", 1L << 20), dbl("fpp", 0.01))
  }
}

/** `split` stage: deterministic n-way split labels from YAML
  * ([[graft.functions.Mix.split]] — md5 hex-digit buckets, weights in
  * sixteenths summing to 16, membership a pure function of the id).
  *
  * {{{
  * actionConfig: {id: doc_id, column: split, weights: {train: 14, val: 1, test: 1}}
  * }}}
  */
final case class SplitStage(name: String, idCol: String, outCol: String,
                            weights: Seq[(String, Int)]) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame =
    graft.functions.Mix.split(df, col(idCol), weights, outCol)
}

object SplitStage {
  def fromConfig(cfg: StageConfig): SplitStage = {
    val ac = cfg.actionConfig
    val weights = ac.get("weights") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asInstanceOf[java.util.Map[String, Any]].asScala.toSeq
          .map { case (k, v) => (k, v.toString.toInt) }
      case _ => throw new IllegalArgumentException(
        s"split stage '${cfg.name}': actionConfig.weights {label: sixteenths} required")
    }
    SplitStage(cfg.name,
      ac.get("id").flatMap(Option(_)).map(_.toString).getOrElse("doc_id"),
      ac.get("column").flatMap(Option(_)).map(_.toString).getOrElse("split"), weights)
  }
}

/** `mix` stage: corpus shaping from YAML —
  * `budget` caps each stratum at a token budget
  * ([[graft.functions.Mix.tokenBudget]]); `pack` assigns concat-order
  * training-sequence ids ([[graft.functions.Mix.packSequences]]);
  * `temperature` rebalances stratum shares to p^alpha
  * ([[graft.functions.Mix.temperatureResample]]); `quality` keeps each
  * stratum's top `fraction` by a score expression
  * ([[graft.functions.Mix.topFractionByScore]]). `tokens`/`score` are
  * any Spark SQL expression (token default: whitespace count over
  * `text`).
  *
  * {{{
  * actionConfig: {method: budget, stratum: lang, id: doc_id, budgets: {en: 4000}}
  * actionConfig: {method: pack, id: doc_id, seqLen: 512, shards: 256}
  * actionConfig: {method: temperature, stratum: lang, id: doc_id, alpha: 0.5}
  * actionConfig: {method: quality, stratum: lang, id: doc_id, score: "length(text)", fraction: 0.5}
  * actionConfig: {method: dsir, id: doc_id, text: text, target: "lang = 'en'", fraction: 0.3}
  * }}}
  *
  * `dsir` keeps the `fraction` of rows whose hashed-n-gram profile is
  * most target-like ([[graft.functions.Mix.dsirResample]], Gumbel
  * importance resampling; `target` is any SQL predicate selecting the
  * in-frame exemplar rows, `buckets` the feature-hash width).
  *
  * `shards` (pack) / `fanout` (budget) are the parallelism knobs — a
  * power of 16 (hex-prefix sharding), default 16.
  */
final case class MixStage(name: String, method: String, idCol: String,
                          stratumCol: String, tokensExpr: String,
                          budgets: Map[String, Long], seqLen: Long,
                          shards: Int = 16, alpha: Double = 0.5,
                          fraction: Double = 0.5,
                          scoreExpr: String = "",
                          targetExpr: String = "",
                          textCol: String = "text",
                          buckets: Int = 8192) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame = method match {
    case "budget" =>
      graft.functions.Mix.tokenBudget(df, col(stratumCol), col(idCol),
        expr(tokensExpr).cast("long"), budgets, fanout = shards)
    case "pack" =>
      graft.functions.Mix.packSequences(df, col(idCol),
        expr(tokensExpr).cast("long"), seqLen, shards)
    case "temperature" =>
      graft.functions.Mix.temperatureResample(df, col(stratumCol), col(idCol), alpha)
    case "quality" =>
      graft.functions.Mix.topFractionByScore(df, col(stratumCol),
        expr(if (scoreExpr.nonEmpty) scoreExpr else tokensExpr), col(idCol), fraction)
    case "dsir" =>
      if (targetExpr.trim.isEmpty) throw new IllegalArgumentException(
        s"mix stage '$name': method dsir needs actionConfig.target (a SQL " +
          "predicate selecting the exemplar rows, e.g. \"lang = 'en'\")")
      val selected = graft.functions.Mix.dsirResample(df,
        df.filter(expr(targetExpr)), idCol, textCol, fraction, buckets)
      df.join(selected.select(col("doc").as("__graft_keep")),
        col(idCol) === col("__graft_keep"), "left_semi")
    case other => throw new IllegalArgumentException(
      s"mix stage '$name': unknown method '$other' (budget | pack | temperature | quality | dsir)")
  }
}

object MixStage {
  def fromConfig(cfg: StageConfig): MixStage = {
    val ac = cfg.actionConfig
    def s(k: String, d: String) = ac.get(k).flatMap(Option(_)).map(_.toString).getOrElse(d)
    val budgets = ac.get("budgets") match {
      case Some(m: java.util.Map[_, _]) =>
        m.asInstanceOf[java.util.Map[String, Any]].asScala.toMap
          .map { case (k, v) => (k, v.toString.toLong) }
      case _ => Map.empty[String, Long]
    }
    val method = s("method", "budget")
    if (method == "budget" && budgets.isEmpty)
      throw new IllegalArgumentException(
        s"mix stage '${cfg.name}': actionConfig.budgets {stratum: tokens} required")
    MixStage(cfg.name, method, s("id", "doc_id"), s("stratum", "lang"),
      s("tokens", "size(split(text, ' '))"), budgets,
      s("seqLen", "512").toLong,
      s("shards", s("fanout", "16")).toInt,
      s("alpha", "0.5").toDouble,
      s("fraction", "0.5").toDouble,
      s("score", ""),
      s("target", ""),
      s("text", "text"),
      s("buckets", "8192").toInt)
  }
}

/** `clean` stage: the r9 quality-rule bundles from YAML —
  *
  *  - `gopher` (default): drop rows failing the Gopher heuristics
  *    ([[graft.functions.TextFunctions.gopherRules]], Rae et al. 2021);
  *    `minWords`/`maxWords`/`minStopTypes` tune the thresholds;
  *  - `c4`: C4 line-level cleaning ([[graft.functions.TextFunctions
  *    .c4Clean]], Raffel et al. 2020) — the text column is REPLACED by
  *    the page rebuilt from surviving lines and rows failing the page
  *    floor/flags are dropped; `minLineWords`/`minLines` tune it.
  *
  * `flags: true` keeps every row and appends the per-rule boolean
  * columns instead of filtering (audit mode). Audit columns are
  * PREFIXED with the method (`gopher_keep`, `c4_keep`, `rep_keep`, …)
  * so they can never silently collide with — or drop — a user column
  * of the same name (r9 review); a prefixed name that STILL collides
  * fails fast. Both methods are row-local single passes — the YAML
  * surface adds zero cost over the raw operators.
  *
  * {{{
  * actionConfig: {method: gopher, text: text, minWords: 50}
  * actionConfig: {method: c4, text: text, flags: true}
  * }}}
  */
final case class CleanStage(name: String, method: String, textCol: String,
                            minWords: Int = 50, maxWords: Int = 100000,
                            minStopTypes: Int = 2, minLineWords: Int = 5,
                            minLines: Int = 3,
                            flags: Boolean = false,
                            minRatio: Double = 0.25,
                            maxRatio: Double = 1.2) extends Stage {

  /** Audit mode: append the rule struct's fields (minus `exclude`) as
    * `<prefix>_<field>` columns — a pure rename, still one row-local
    * projection. Fails fast if a prefixed name collides with an input
    * column (the unprefixed form silently dropped the user's column).
    */
  private def appendFlags(df: DataFrame, rule: Column, prefix: String,
                          exclude: Set[String]): DataFrame = {
    val tmp = "__graft_flags"
    val withS = df.withColumn(tmp, rule)
    val fields = withS.schema(tmp).dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
      .fieldNames.toSeq.filterNot(exclude)
    val renamed = fields.map(f => f -> s"${prefix}_$f")
    val clash = renamed.map(_._2).intersect(df.columns.toSeq)
    if (clash.nonEmpty) throw new IllegalArgumentException(
      s"clean stage '$name': audit column(s) ${clash.mkString(", ")} collide " +
        "with input columns — rename the input columns or run without flags")
    withS.select(col("*") +: renamed.map { case (f, o) => col(s"$tmp.$f").as(o) }: _*)
      .drop(tmp)
  }

  override def apply(spark: SparkSession, df: DataFrame): DataFrame = method match {
    case "gopher" =>
      val g = graft.functions.TextFunctions.gopherRules(
        col(textCol), minWords, maxWords, minStopTypes)
      if (flags) appendFlags(df, g, "gopher", Set("n_words"))
      else df.filter(g.getField("keep"))
    case "c4" =>
      val c = graft.functions.TextFunctions.c4Clean(col(textCol), minLineWords, minLines)
      if (flags) appendFlags(df, c, "c4", Set("clean_text"))
      else df.withColumn("__graft_c", c)
        .filter(col("__graft_c.keep"))
        .withColumn(textCol, col("__graft_c.clean_text"))
        .drop("__graft_c")
    case "repetition" =>
      val r = graft.functions.TextFunctions.repetitionProfile(col(textCol))
      if (flags) appendFlags(df, r, "rep", Set.empty)
      else df.filter(r.getField("keep"))
    case "compression" =>
      // gzip-ratio gate (r10, Dolma/RefinedWeb practice): drop BOTH
      // tails — over-compressible boilerplate and high-entropy junk
      graft.functions.expressions.GraftFunctions.register(spark)
      val ratio = graft.functions.TextFunctions.compressionRatio(col(textCol))
      val keep = struct(ratio.as("ratio"),
        (ratio >= minRatio && ratio <= maxRatio).as("keep"))
      if (flags) appendFlags(df, keep, "comp", Set.empty)
      else df.filter(keep.getField("keep"))
    case other => throw new IllegalArgumentException(
      s"clean stage '$name': unknown method '$other' (gopher | c4 | repetition | compression)")
  }
}

object CleanStage {
  def fromConfig(cfg: StageConfig): CleanStage = {
    val ac = cfg.actionConfig
    def s(k: String, d: String) = ac.get(k).flatMap(Option(_)).map(_.toString).getOrElse(d)
    def n(k: String, d: Int) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.intValue(); case Some(x) => x.toString.toInt; case None => d
    }
    def dbl(k: String, d: Double) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.doubleValue(); case Some(x) => x.toString.toDouble; case None => d
    }
    CleanStage(cfg.name, s("method", "gopher"), s("text", "text"),
      n("minWords", 50), n("maxWords", 100000), n("minStopTypes", 2),
      n("minLineWords", 5), n("minLines", 3),
      ac.get("flags").flatMap(Option(_)).exists(_.toString.toBoolean),
      dbl("minRatio", 0.25), dbl("maxRatio", 1.2))
  }
}

/** `score` stage: quality scores as new columns; compose with a `mix`
  * quality stage to gate on them. Methods:
  *
  *  - `frequency` (default): corpus-frequency scores
  *    ([[graft.functions.TextFunctions.corpusFrequencyScores]] — the
  *    CCNet-style LM proxy) joined back by id: `n_tokens`, `rarity`,
  *    `cross_entropy`;
  *  - `perplexity` (r13): the REAL LM signal — train the
  *    capacity-bounded n-gram LM ([[graft.functions.NgramLm]], `order`
  *    2 or 3, `maxVocab`/`minCount` caps) on the stage input and add a
  *    row-local `perplexity` column from the broadcast model (to train
  *    on a trusted slice instead, filter with a sql stage first);
  *    `smoothing: kneser_ney` (order 2, r13) swaps the Jelinek-Mercer
  *    mix for interpolated Kneser-Ney over the pruned pair table —
  *    KenLM's default smoothing, [[graft.functions.NgramLm.kneserNey]];
  *  - `classify` (r13): the supervised filter — train the count-exact
  *    multinomial NB ([[graft.functions.TextClassifier]]) on the
  *    `label` column and add `nb_scores` (per-class log-likelihoods)
  *    and the `nb_pred` argmax label.
  *
  * {{{
  * actionConfig: {id: doc_id, text: text}
  * actionConfig: {method: perplexity, text: text, order: 3, maxVocab: 65536}
  * actionConfig: {method: classify, text: text, label: lang}
  * }}}
  */
final case class ScoreStage(name: String, idCol: String,
                            textCol: String, method: String = "frequency",
                            order: Int = 2, maxVocab: Int = 65536,
                            minCount: Int = 2,
                            labelCol: String = "label",
                            smoothing: String = "jm") extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame = method match {
    case "frequency" =>
      Seq("n_tokens", "rarity", "cross_entropy").foreach(c =>
        require(!df.columns.contains(c),
          s"score stage '$name' adds a $c column; the input already has one — rename it first"))
      val scores = graft.functions.TextFunctions
        .corpusFrequencyScores(df, idCol, textCol)
        .withColumnRenamed("doc", "__graft_doc")
      df.join(scores, col(idCol) === col("__graft_doc"), "left")
        .drop("__graft_doc")
    case "perplexity" =>
      // the CCNet LM signal (r13): train the capacity-bounded n-gram LM
      // on THIS stage's input (self-scored corpus; train on a trusted
      // slice by putting a filtering sql stage before this one) and add
      // a row-local `perplexity` column — low = fluent under the corpus
      require(!df.columns.contains("perplexity"),
        s"score stage '$name' adds a perplexity column; the input already has one — rename it first")
      require(order == 2 || order == 3,
        s"score stage '$name': order must be 2 (bigram) or 3 (trigram); got $order")
      require(smoothing == "jm" || smoothing == "kneser_ney",
        s"score stage '$name': smoothing must be jm | kneser_ney; got '$smoothing'")
      require(smoothing == "jm" || order == 2,
        s"score stage '$name': kneser_ney smoothing is the bigram form — use order: 2")
      val t = split(col(textCol), " ")
      if (smoothing == "kneser_ney") {
        val kn = graft.functions.NgramLm.kneserNey(
          graft.functions.NgramLm.trainBigramLm(
            df, t, maxVocab = maxVocab, minCount = minCount))
        df.withColumn("perplexity",
          graft.functions.NgramLm.knPerplexity(df, kn, t, discount = 0.75))
      } else {
        val lm =
          if (order == 3) graft.functions.NgramLm.trainTrigramLm(
            df, t, maxVocab = maxVocab, minCount = minCount)
          else graft.functions.NgramLm.trainBigramLm(
            df, t, maxVocab = maxVocab, minCount = minCount)
        df.withColumn("perplexity", graft.functions.NgramLm.perplexity(
          df, lm, t, lambda = 0.9, lambda3 = if (order == 3) 0.5 else 0.0))
      }
    case "classify" =>
      // the supervised filter (r13): train the count-exact NB model on
      // THIS input's `label` column, add per-class `nb_scores` (log-
      // likelihoods, class order = sorted labels) and the `nb_pred`
      // argmax label — gate on agreement or score margins downstream
      Seq("nb_scores", "nb_pred").foreach(c =>
        require(!df.columns.contains(c),
          s"score stage '$name' adds a $c column; the input already has one — rename it first"))
      val t2 = split(col(textCol), " ")
      val m = graft.functions.TextClassifier.trainNaiveBayes(
        df, col(labelCol), t2, maxVocab = maxVocab)
      df.withColumn("nb_scores",
          graft.functions.TextClassifier.nbLogScores(df, m, t2))
        .withColumn("nb_pred",
          graft.functions.TextClassifier.nbPredict(df, m, t2))
    case other => throw new IllegalArgumentException(
      s"score stage '$name': unknown method '$other' (frequency | perplexity | classify)")
  }
}

object ScoreStage {
  def fromConfig(cfg: StageConfig): ScoreStage = {
    val ac = cfg.actionConfig
    def s(k: String, d: String) = ac.get(k).flatMap(Option(_)).map(_.toString).getOrElse(d)
    def n(k: String, d: Int) = ac.get(k).flatMap(Option(_)) match {
      case Some(x: Number) => x.intValue(); case Some(x) => x.toString.toInt; case None => d
    }
    ScoreStage(cfg.name, s("id", "doc_id"), s("text", "text"),
      s("method", "frequency"), n("order", 2), n("maxVocab", 65536),
      n("minCount", 2), s("label", "label"), s("smoothing", "jm"))
  }
}

/** Typed per-row transform with the reference's exact python-stage error
  * semantics (§2c, filefilter.py:55-65): on exception the ORIGINAL row
  * passes through unchanged and an error accumulator increments. For
  * logic Spark SQL expressions can't say; schema must be declared
  * up-front (output = input schema — SURVEY §7 documented divergence
  * from open per-row dicts).
  */
final case class RowTransformStage(
    name: String,
    fn: Row => Row,
    errors: LongAccumulator) extends Stage {
  override def apply(spark: SparkSession, df: DataFrame): DataFrame = {
    val f = fn
    val acc = errors
    val enc = org.apache.spark.sql.Encoders.row(df.schema)
    df.mapPartitions { it =>
      it.map { row =>
        try f(row)
        catch { case scala.util.control.NonFatal(_) => acc.add(1L); row }
      }
    }(enc)
  }
}
