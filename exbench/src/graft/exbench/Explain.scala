package graft.exbench

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.{ExstreamConfig, ExstreamPipeline}
import graft.operators._
import graft.sources.Sources

/** The paper's explanation query, untraced and re-assembled per layer. */
object Explain {
  val LabelFile = "labels"

  /**
   * Both filters on, 1+5 resamples: the paper's full configuration for a
   * fixture with `rowsPerTrace` rows. The match threshold is the paper's
   * 40.0 at folder_1 scale (45,000 rows, 1,900-row reference windows) and
   * scales with the square root of the window length, as the largest
   * z-normalized distance between two windows of length m is 2·sqrt(m):
   * with 40.0 on 63-row windows every subsequence would match and the
   * FP filter would always fall back to a single feature per window.
   */
  def config(rowsPerTrace: Int): ExstreamConfig = ExstreamConfig(
    cluster = true, falsePositiveFiltering = true,
    maxDistance = 40.0 * math.sqrt(rowsPerTrace / 45000.0))

  /** Set-up work of the workload: list the traces, infer their schemas
    * and read the labels. */
  def loadInputs(spark: SparkSession, folder: String): Unit = {
    Sources.readAllTraces(spark, folder, LabelFile)
    Sources.readLabels(spark, s"$folder/$LabelFile.csv").count()
  }

  def run(spark: SparkSession, folder: String, cfg: ExstreamConfig): Array[Row] =
    ExstreamPipeline.constructExplanations(spark, folder, LabelFile, cfg).collect()

  /** Order-free digest of a result: md5 over the sorted row strings. */
  def digest(rows: Array[Row]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map(_.toString).sorted.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    md.digest().map("%02x".format(_)).mkString
  }

  /**
   * `ExstreamPipeline.constructExplanations` rebuilt from the layers'
   * public functions, one span per layer call. Each layer's output is
   * materialized (eager local checkpoint) inside its span, so the span
   * holds that layer's jobs. The glue between the calls (resample
   * explode, the rs split, instability, the label join-back) is the
   * same code as the pipeline's and counts as `pipeline` self time. The
   * caller checks that the result digest equals the untraced one.
   */
  def traced(spark: SparkSession, folder: String, cfg: ExstreamConfig,
             tr: Tracer): Array[Row] = tr.span("pipeline") {
    val (traceLong, featureOrder, labels) = tr.span("sources") {
      val (tl, order) = Sources.readAllTraces(spark, folder, LabelFile)
      val lb = Sources.readLabels(spark, s"$folder/$LabelFile.csv")
        .withColumn("ano_type", Sources.anomalyTypeCol(col("trace_id")))
      (tl.localCheckpoint(true), order, lb.localCheckpoint(true))
    }
    val obs0 = tr.span("labeler") {
      IntervalLabeler.labelObservations(traceLong, labels).localCheckpoint(true)
    }

    val rsValues = -1 until cfg.instabilityRounds
    val sampled =
      if (cfg.sampleFraction >= 1.0) lit(true)
      else md5(concat_ws("_", lit(cfg.seed), col("window_key"), col("type_data"),
        col("timestamp"), col("rs")).cast("binary")) <
        ExstreamPipeline.sampleCutoffHex(cfg.sampleFraction)
    val obs = obs0
      .withColumn("rs", explode(array(rsValues.map(lit(_)): _*)))
      .where(col("rs") === -1 || sampled)
      .withColumn("window_key", concat_ws("#", col("rs"), col("window_key")))

    val obsSel =
      if (cfg.cluster && featureOrder.size > 1) {
        val selByRs = tr.span("correlation") {
          val wide = obs.groupBy("rs", "window_key", "timestamp", "type_data")
            .pivot("feature", featureOrder).agg(first("value"))
          CorrelationFilter.selectFeaturesBy(wide, featureOrder, cfg.correlationThreshold, "rs")
        }
        val keep = rsValues.map { r =>
          col("rs") === r && col("feature").isin(selByRs.getOrElse(r, featureOrder): _*)
        }.reduce(_ || _)
        obs.where(keep)
      } else obs

    val featIdx = featureOrder.zipWithIndex.toMap
    val obsFiltered =
      if (cfg.falsePositiveFiltering) tr.span("fp") {
        val kept = FalsePositiveFilter.matchCounts(
          obsSel, featIdx, cfg.maxDistance, cfg.matchCountKeep,
          cfg.patternFromRefWindow, seriesAlignKeys = Seq("rs")).localCheckpoint(true)
        FalsePositiveFilter.filterObservations(obsSel, kept).localCheckpoint(true)
      } else obsSel

    val rewards = tr.span("reward") {
      EntropyReward.rewards(obsFiltered, cfg.applyWorstCase)
        .withColumn("feat_idx", EntropyReward.featIdxCol(featIdx, col("feature")))
        .localCheckpoint(true)
    }
    val leapOut = tr.span("leap") { LeapFilter.explanations(rewards).localCheckpoint(true) }

    val expl = leapOut
      .withColumn("rs", split(col("window_key"), "#", 2).getItem(0).cast("int"))
      .withColumn("window_key", split(col("window_key"), "#", 2).getItem(1))
    val main = expl.where(col("rs") === -1).select("window_key", "features")
    val resamples = expl.where(col("rs") >= 0)
      .groupBy("window_key").agg(collect_list(col("features")).as("exps"))
    val instabilityUdf = udf { (exps: Seq[Seq[String]]) =>
      graft.functions.EntropyCore.instabilityEntropy(
        Option(exps).getOrElse(Seq.empty).filter(_ != null))
    }
    val keyed = labels.select(
      concat_ws("_", col("ano_type"), col("trace_id"), col("label_row")).as("window_key"),
      col("trace_id"), col("ano_id"))
    keyed.join(main, Seq("window_key"), "inner")
      .join(resamples, Seq("window_key"), "left")
      .withColumn("explanation", transform(col("features"),
        f => EntropyReward.featIdxCol(featIdx, f, default = -1)))
      .withColumn("exp_size", size(col("explanation")))
      .withColumn("exp_instability", instabilityUdf(col("exps")))
      .select("trace_id", "ano_id", "explanation", "exp_size", "exp_instability")
      .collect()
  }
}
