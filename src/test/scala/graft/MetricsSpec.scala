package graft

import org.apache.spark.sql.functions._

import graft.ops.Metrics

/** Confusion-sum metric unit tests (mirrors the reference's
  * `main_scripts/evaluation_util.py:7-15` arithmetic). */
class MetricsSpec extends SparkSpec {
  import spark.implicits._

  test("pairwiseF1 confusion arithmetic on a hand-built table") {
    // 3 gold-pos (2 predicted), 2 gold-neg (1 predicted) in one split
    val gold = Seq(
      ("a", "b", "k", 1, "test"),
      ("a", "c", "k", 1, "test"),
      ("b", "c", "k", 1, "test"),
      ("a", "d", "k", 0, "test"),
      ("c", "d", "k", 0, "test"))
      .toDF("url_a", "url_b", "block_key", "gold", "split")
    val scored = Seq(
      ("a", "b", true),
      ("a", "c", true),
      ("a", "d", true), // FP
      ("c", "d", false))
      // ("b","c") missing from predictions -> counts as pred=0 (FN)
      .toDF("url_a", "url_b", "is_match")

    val row = Metrics.pairwiseF1(scored, gold).head()
    row.getAs[Long]("tp") shouldBe 2L
    row.getAs[Long]("fp") shouldBe 1L
    row.getAs[Long]("fn") shouldBe 1L
    row.getAs[Long]("tn") shouldBe 1L
    row.getAs[Double]("precision") shouldBe (2.0 / 3.0) +- 1e-12
    row.getAs[Double]("recall") shouldBe (2.0 / 3.0) +- 1e-12
    row.getAs[Double]("f1") shouldBe (2.0 / 3.0) +- 1e-12
  }

  test("degenerate splits produce 0 not NaN") {
    val gold = Seq(("a", "b", "k", 0, "test")).toDF("url_a", "url_b", "block_key", "gold", "split")
    val scored = Seq(("a", "b", false)).toDF("url_a", "url_b", "is_match")
    val row = Metrics.pairwiseF1(scored, gold).head()
    row.getAs[Double]("precision") shouldBe 0.0
    row.getAs[Double]("recall") shouldBe 0.0
    row.getAs[Double]("f1") shouldBe 0.0
  }

  test("errorAnalysis decomposes FP/FN by cause") {
    val gold = Seq(
      ("a", "b", 1), // predicted match: no error row
      ("c", "d", 1), // never a candidate: fn_no_candidate
      ("e", "f", 1), // candidate, scored low: fn_scored_low
      ("g", "h", 0), // matched with identical surfaces: fp_identical_surface
      ("i", "j", 0)) // matched, different surfaces: fp_other
      .toDF("url_a", "url_b", "gold")
    val scored = Seq(
      ("a", "b", true, "X", "Y"),
      ("e", "f", false, "X", "Y"),
      ("g", "h", true, "ABC", "ABC"),
      ("i", "j", true, "ABC", "ABD"))
      .toDF("url_a", "url_b", "is_match", "surface_a", "surface_b")
    val m = Metrics.errorAnalysis(scored, gold)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    m shouldBe Map(
      "fn_no_candidate" -> 1L, "fn_scored_low" -> 1L,
      "fp_identical_surface" -> 1L, "fp_other" -> 1L)
  }

  test("stageMetrics emits one row per partition with correct total") {
    val df = spark.range(1000).repartition(5).toDF()
    val m = Metrics.stageMetrics(df, "r1", "stage_x", 123L)
    m.agg(sum("rows")).as[Long].head() shouldBe 1000L
    m.select("partition_id").distinct().count() shouldBe m.count()
    m.select("stage").distinct().as[String].head() shouldBe "stage_x"
  }
}
