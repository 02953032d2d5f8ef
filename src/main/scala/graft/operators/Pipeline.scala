package graft.operators

import graft.model.{ConfigLoader, PipelineConfig, StageConfig}
import graft.sources.Sources
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

/** The engine: YAML config → compiled stages → one lazy Catalyst plan,
  * folded left from the source DataFrame (reference pipeline invariant:
  * each stage consumes the full previous output, filefilter.py:342-352,
  * here without materializing stage tables — WholeStageCodegen fuses the
  * whole pipeline; `checkpointDir` opts into per-stage parquet
  * checkpoints for the reference's filter{i} fault-isolation semantics,
  * overwrite-mode to fix its re-run duplication bug, SURVEY §2c).
  */
object Pipeline {

  final case class StageReport(name: String, actionType: String, rows: Option[Long])
  final case class RunResult(output: DataFrame, stages: Seq[StageReport])

  /** Compile enabled stages; disabled filters are skipped but keep their
    * index (reference O21, filefilter.py:307-310).
    */
  def compile(spark: SparkSession, cfg: PipelineConfig,
              configPath: Option[String] = None): Seq[(StageConfig, Stage)] =
    cfg.filters.filterNot(_.disabled).map { sc =>
      val stage: Stage = sc.actionType match {
        case "sql" =>
          SqlStage(sc.name, sc.code.getOrElse(
            throw new IllegalArgumentException(s"${sc.name}: sql stage needs code")))
        // A reference `python` stage with a literal code block is
        // migrated to derive columns ([[PythonMigrate]]); with an
        // actionConfig it is our native derive surface.
        case "python" if sc.code.exists(_.trim.nonEmpty) =>
          DeriveStage(sc.name, PythonMigrate.toDeriveColumns(sc.code.get))
        case "python" | "derive" => DeriveStage.fromConfig(sc)
        case "rest" =>
          RestStage.fromConfig(spark, sc, cfg.reloadConfigEverySeconds, configPath)
        case "pandas" | "udf" | "transform" =>
          TransformStage(sc.name, sc.code.getOrElse(
            throw new IllegalArgumentException(s"${sc.name}: transform stage needs a registered fn name in code")))
        case "dedup" => DedupStage.fromConfig(sc)
        case "decontaminate" => DecontaminateStage.fromConfig(sc)
        case "split" => SplitStage.fromConfig(sc)
        case "mix" => MixStage.fromConfig(sc)
        case "score" => ScoreStage.fromConfig(sc)
        case "clean" => CleanStage.fromConfig(sc)
        case other => throw new IllegalArgumentException(s"unsupported actionType '$other'")
      }
      (sc, stage)
    }

  /** Run a full pipeline: load → stages → sink. `countStages` reproduces
    * the reference's per-stage count(*)+sample (O10/O11) — an action per
    * stage, so off by default at scale. A stage that is counted or
    * sampled (and not checkpointed) is materialized once, with its count
    * observed in that same job, so the count, the sample, the next stage
    * and the sink read its rows instead of re-running its lineage (a
    * rest stage's requests included), as the reference reads filter{i}.
    * That materialization is a `localCheckpoint`: its blocks live on the
    * executors only, so losing an executor fails the job rather than
    * recomputing the stage; `checkpointDir` writes durable parquet.
    */
  def run(spark: SparkSession, cfg: PipelineConfig, inputPath: String,
          outputPath: Option[String], countStages: Boolean = false,
          checkpointDir: Option[String] = None,
          configPath: Option[String] = None): RunResult = {
    // native functions (norm_fingerprint, simhash_sig, cosine_sim, …)
    // are part of the engine's SQL surface — a YAML `sql` stage can use
    // them without any setup
    graft.functions.expressions.GraftFunctions.register(spark)
    var df = Sources.load(spark, inputPath, cfg.inDelimiter, cfg.sampleLines)
    val reports = Seq.newBuilder[StageReport]
    compile(spark, cfg, configPath).zipWithIndex.foreach { case ((sc, stage), i) =>
      df = stage(spark, df)
      checkpointDir.foreach { dir =>
        df.write.mode("overwrite").parquet(s"$dir/stage=$i")
        df = spark.read.parquet(s"$dir/stage=$i")
      }
      val rows =
        if (checkpointDir.isEmpty && countStages) {
          val n = graft.Observed(count(lit(1)).as("n"))
          df = n.on(df).localCheckpoint()
          Some(n.read(df)("n").asInstanceOf[Long])
        } else {
          if (checkpointDir.isEmpty && sc.showSampleOnFinish) df = df.localCheckpoint()
          if (countStages) Some(df.count()) else None
        }
      if (sc.showSampleOnFinish) df.show(5, truncate = false)
      reports += StageReport(sc.name, sc.actionType, rows)
    }
    outputPath.foreach(p => Sources.writeCsv(df, p, cfg.outDelimiter))
    RunResult(df, reports.result())
  }

  def runYaml(spark: SparkSession, yaml: String, inputPath: String,
              outputPath: Option[String] = None): RunResult =
    run(spark, ConfigLoader.fromYaml(yaml), inputPath, outputPath)
}

