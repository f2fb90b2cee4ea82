package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Evaluation + lineage metrics.
  *
  * Pairwise precision/recall/F1 mirrors the reference's confusion-sum
  * evaluation (`main_scripts/evaluation_util.py:7-15`; SURVEY.md A7/A11):
  * four conditional sums, P/R/F1 as derived columns — one aggregation, no
  * collect of data rows.
  *
  * Per-stage, per-partition lineage rows implement the north_rule's
  * "per-partition lineage + metrics": a groupBy(spark_partition_id) count —
  * an extra cheap job per stage, never a driver-side loop.
  */
object Metrics {

  /** Join predicted pairs to gold pairs (gold is defined on same-block pairs;
    * a gold pair missing from predictions counts as predicted-negative, like
    * the reference's zero-fill of error rows,
    * `main_scripts/step9_processing_all_documents.py:139-140`).
    * Output: one row per split with tp/fp/fn/tn/precision/recall/f1. */
  def pairwiseF1(scored: DataFrame, goldPairs: DataFrame): DataFrame = {
    val preds = scored.select(col("url_a"), col("url_b"),
      col("is_match").cast("int").as("pred"))
    val joined = goldPairs.join(preds, Seq("url_a", "url_b"), "left")
      .withColumn("pred", coalesce(col("pred"), lit(0)))
    confusion(joined.groupBy(col("split")))
  }

  /** Confusion sums + P/R/F1 over rows with `pred` and `gold` int columns. */
  def confusion(grouped: org.apache.spark.sql.RelationalGroupedDataset): DataFrame =
    grouped.agg(
      sum(when(col("pred") === 1 && col("gold") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("pred") === 1 && col("gold") === 0, 1).otherwise(0)).as("fp"),
      sum(when(col("pred") === 0 && col("gold") === 1, 1).otherwise(0)).as("fn"),
      sum(when(col("pred") === 0 && col("gold") === 0, 1).otherwise(0)).as("tn"))
      .withColumn("precision",
        when(col("tp") + col("fp") === 0, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fp"))))
      .withColumn("recall",
        when(col("tp") + col("fn") === 0, lit(0.0))
          .otherwise(col("tp").cast("double") / (col("tp") + col("fn"))))
      .withColumn("f1",
        when(col("precision") + col("recall") === 0.0, lit(0.0))
          .otherwise(lit(2.0) * col("precision") * col("recall") /
            (col("precision") + col("recall"))))

  /** Document-level multi-label metrics over long-form rows
    * (doc, label, pred, gold) — micro (global confusion sums), macro
    * (per-label F1 averaged over labels), instance (per-doc F1 averaged over
    * docs). Mirrors the reference's patient-level evaluation
    * (`other_scripts/step8_patient_level_results_from_annotations.py:106-198`)
    * as long-form aggregations — never a dense doc×label matrix
    * (SURVEY.md A8). */
  def multiLabel(df: DataFrame): DataFrame = {
    def f1Of(tp: org.apache.spark.sql.Column, fp: org.apache.spark.sql.Column,
        fn: org.apache.spark.sql.Column) =
      when(lit(2) * tp + fp + fn === 0, lit(0.0))
        .otherwise(lit(2.0) * tp / (lit(2) * tp + fp + fn))

    val base = df.select(col("doc"), col("label"),
      col("pred").cast("int").as("pred"), col("gold").cast("int").as("gold"))

    val micro = base.agg(
      sum(when(col("pred") === 1 && col("gold") === 1, 1).otherwise(0)).as("tp"),
      sum(when(col("pred") === 1 && col("gold") === 0, 1).otherwise(0)).as("fp"),
      sum(when(col("pred") === 0 && col("gold") === 1, 1).otherwise(0)).as("fn"))
      .select(round(f1Of(col("tp"), col("fp"), col("fn")), 6).as("micro_f1"))

    def grouped(key: String, out: String) = base.groupBy(key)
      .agg(
        sum(when(col("pred") === 1 && col("gold") === 1, 1).otherwise(0)).as("tp"),
        sum(when(col("pred") === 1 && col("gold") === 0, 1).otherwise(0)).as("fp"),
        sum(when(col("pred") === 0 && col("gold") === 1, 1).otherwise(0)).as("fn"))
      .select(f1Of(col("tp"), col("fp"), col("fn")).as("f1"))
      .agg(round(avg(col("f1")), 6).as(out))

    micro.crossJoin(grouped("label", "macro_f1"))
      .crossJoin(grouped("doc", "instance_f1"))
  }

  /** FP/FN decomposition by cause (reference
    * `main_scripts/step7.5_error_analysis.py:42,65` buckets its FP/FN rows by
    * error source): one aggregation over gold⟕preds emitting a count per
    * cause bucket —
    *  - fn_no_candidate: gold match never generated as a candidate pair
    *    (blocking miss);
    *  - fn_scored_low: candidate existed, scorer said no;
    *  - fp_identical_surface: false match with byte-identical surfaces (the
    *    shared-abbreviation trap class);
    *  - fp_other: any other false match.
    * Scales: broadcast-or-shuffle left join + one hash agg. */
  def errorAnalysis(scored: DataFrame, goldPairs: DataFrame): DataFrame = {
    val preds = scored.select(col("url_a"), col("url_b"),
      col("is_match").cast("int").as("pred"),
      col("surface_a"), col("surface_b"))
    val joined = goldPairs.join(preds, Seq("url_a", "url_b"), "left")
    val cause = when(col("gold") === 1 && col("pred").isNull, "fn_no_candidate")
      .when(col("gold") === 1 && col("pred") === 0, "fn_scored_low")
      .when(col("gold") === 0 && col("pred") === 1 &&
        col("surface_a") === col("surface_b"), "fp_identical_surface")
      .when(col("gold") === 0 && col("pred") === 1, "fp_other")
    joined.withColumn("cause", cause)
      .filter(col("cause").isNotNull)
      .groupBy("cause").agg(count(lit(1)).as("n"))
      .orderBy("cause")
  }

  /** Per-partition lineage rows for a stage's output. */
  def stageMetrics(df: DataFrame, runId: String, stage: String,
      wallMs: Long): DataFrame =
    df.groupBy(spark_partition_id().as("partition_id"))
      .agg(count(lit(1)).as("rows"))
      .select(
        lit(runId).as("run_id"), lit(stage).as("stage"),
        col("partition_id"), col("rows"), lit(wallMs).as("wall_ms"))

  /** Named-counter lineage rows (e.g. mentions dropped by the block cap),
    * one per (counter, count), schema-compatible with stageMetrics so they
    * append into the same metrics table: stage = "<stage>/<counter>",
    * partition_id = -1 (whole-stage), rows = the count. */
  def countMetric(spark: org.apache.spark.sql.SparkSession, runId: String,
      stage: String, counters: (String, Long)*): DataFrame = {
    import spark.implicits._
    counters.map { case (counter, n) => (runId, s"$stage/$counter", -1, n, 0L) }
      .toDF("run_id", "stage", "partition_id", "rows", "wall_ms")
  }
}
