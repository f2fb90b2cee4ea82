package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.norm_alnum

/** In-engine weak-supervision training for the pairwise scorer — the Spark
  * re-expression of the reference's core loop:
  *
  *  1. weak labels from the two rules — mention length > l AND concept
  *     prevalence <= p => positive, NOT(i) AND NOT(ii) => negative, the
  *     disagreement region is dropped
  *     (`main_scripts/step1_tr_data_creat_ment_disamb.py:104,69-72,121-140`);
  *  2. an L2 logistic regression fitted on those weak labels
  *     (`main_scripts/sent_bert_emb_viz_util.py:809-812`) — here fitted
  *     IN-ENGINE: every IRLS (Newton) step is ONE DataFrame aggregation
  *     (20 map-side-combinable sums) + a driver-side 5x5 solve, so the fit
  *     distributes over any training-set size (no feature matrix ever
  *     leaves the executors; the driver sees only the 5x5 moments);
  *  3. a decision threshold selected by sweeping every score cut in ONE
  *     window pass over the validation split (the reference tunes its
  *     hyperparameters on its first-400 validation slice,
  *     `main_scripts/step3.4_train_and_test_model_for_mention_filtering.py`).
  *
  * This replaces hand-rounded constants in `Scoring.Weights`: the committed
  * fit reproduces F1 >= 0.99 on the gold test split (TrainingSpec gate).
  */
object Training {

  /** Feature columns of the similarity ensemble, in weight order. */
  val FeatureCols: Seq[String] = Seq("jw", "lev", "jac", "cos")

  /** Rule (i): both surfaces longer than `minLen` (reference mention-length
    * rule). Rule (ii): both surfaces' normalized keys have corpus prevalence
    * <= `maxPrevalence` (reference concept-prevalence rule — the hot-key /
    * stop-key detector, SURVEY.md A3). Pairs where the rules agree get a
    * weak label; the disagreement region is dropped (exactly the reference's
    * AND / NAND construction). `featured` must carry surface_a/surface_b
    * (post-hydration); `mentions` supplies the prevalence table (one hash
    * agg + two broadcast joins — scales). */
  def weakLabels(featured: DataFrame, mentions: DataFrame,
      minLen: Int = 8, maxPrevalence: Double = 0.005): DataFrame =
    weakLabeledAll(featured, mentions, minLen, maxPrevalence)
      .filter(col("weak_label").isNotNull)

  /** Like weakLabels but KEEPS the rule-disagreement rows (weak_label null)
    * — the semi-supervised fit overlays gold labels onto exactly that
    * region. */
  def weakLabeledAll(featured: DataFrame, mentions: DataFrame,
      minLen: Int = 8, maxPrevalence: Double = 0.005): DataFrame = {
    val total = mentions.count().toDouble
    val prev = mentions
      .select(norm_alnum(col("surface")).as("nk"))
      .groupBy("nk").agg((count(lit(1)) / lit(total)).as("prevalence"))
    val pa = broadcast(prev.select(col("nk").as("nk_a"), col("prevalence").as("prev_a")))
    val pb = broadcast(prev.select(col("nk").as("nk_b"), col("prevalence").as("prev_b")))
    val ruleLen = length(col("surface_a")) > minLen && length(col("surface_b")) > minLen
    val rulePrev = col("prev_a") <= maxPrevalence && col("prev_b") <= maxPrevalence
    featured
      .withColumn("nk_a", norm_alnum(col("surface_a")))
      .withColumn("nk_b", norm_alnum(col("surface_b")))
      .join(pa, Seq("nk_a")).join(pb, Seq("nk_b"))
      .withColumn("weak_label",
        when(ruleLen && rulePrev, 1)
          .when(!ruleLen && !rulePrev, 0))
      .drop("nk_a", "nk_b", "prev_a", "prev_b")
  }

  /** One IRLS (iteratively reweighted least squares / Newton) fit of
    * sigmoid(w·x + b) on `labelCol`, ridge-regularized. Each iteration runs
    * ONE aggregation computing the gradient (5 sums) and the Hessian's upper
    * triangle (15 sums) with the current weights as literals — fully
    * codegen'd, map-side partial, no collect of data rows. Converges in
    * <= ~10 iterations (Newton). Returns weights [w_jw, w_lev, w_jac, w_cos,
    * bias]. */
  def fitLogistic(labeled: DataFrame, labelCol: String = "weak_label",
      maxIter: Int = 25, lambda: Double = 1e-3, tol: Double = 1e-9): Array[Double] = {
    val d = FeatureCols.length + 1 // + bias
    val w = new Array[Double](d)
    val train = labeled.select(
      (FeatureCols.map(c => col(c).cast("double").as(c)) :+
        col(labelCol).cast("double").as("y")): _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cls = train.agg(min(col("y")), max(col("y"))).head()
      require(cls.getDouble(0) != cls.getDouble(1),
        s"weak labels are single-class (all ${cls.getDouble(0)}) — " +
          "adjust minLen/maxPrevalence so both rule regions are populated")
      def x(j: Int): Column = if (j < FeatureCols.length) col(FeatureCols(j)) else lit(1.0)
      var iter = 0
      var done = false
      while (iter < maxIter && !done) {
        val z = (0 until d).map(j => lit(w(j)) * x(j)).reduce(_ + _)
        val p = lit(1.0) / (lit(1.0) + exp(-z))
        val wgt = p * (lit(1.0) - p)
        val gradCols = (0 until d).map(j => sum((p - col("y")) * x(j)).as(s"g$j"))
        val hessCols = for (j <- 0 until d; k <- j until d)
          yield sum(wgt * x(j) * x(k)).as(s"h${j}_$k")
        val row = train.agg(gradCols.head, (gradCols.tail ++ hessCols): _*).head()
        val g = (0 until d).map(j => row.getDouble(j) + lambda * w(j)).toArray
        val h = Array.ofDim[Double](d, d)
        var idx = d
        for (j <- 0 until d; k <- j until d) {
          h(j)(k) = row.getDouble(idx); h(k)(j) = h(j)(k); idx += 1
        }
        (0 until d).foreach(j => h(j)(j) += lambda)
        val step = solve(h, g)
        var delta = 0.0
        (0 until d).foreach { j => w(j) -= step(j); delta += step(j) * step(j) }
        done = delta < tol
        iter += 1
      }
      w
    } finally train.unpersist()
  }

  /** Gaussian elimination with partial pivoting for the tiny (d x d) Newton
    * system — driver-side on the aggregated moments only. */
  private def solve(a0: Array[Array[Double]], b0: Array[Double]): Array[Double] = {
    val n = b0.length
    val a = a0.map(_.clone())
    val b = b0.clone()
    for (col0 <- 0 until n) {
      var piv = col0
      for (r <- col0 + 1 until n) if (math.abs(a(r)(col0)) > math.abs(a(piv)(col0))) piv = r
      val tmp = a(col0); a(col0) = a(piv); a(piv) = tmp
      val tb = b(col0); b(col0) = b(piv); b(piv) = tb
      val d = a(col0)(col0)
      require(math.abs(d) > 1e-12, "singular Newton system")
      for (r <- col0 + 1 until n) {
        val f = a(r)(col0) / d
        for (c <- col0 until n) a(r)(c) -= f * a(col0)(c)
        b(r) -= f * b(col0)
      }
    }
    val x = new Array[Double](n)
    for (r <- (n - 1) to 0 by -1) {
      var s = b(r)
      for (c <- r + 1 until n) s -= a(r)(c) * x(c)
      x(r) = s / a(r)(r)
    }
    x
  }

  /** F1-optimal decision threshold over `(score, gold)` rows: exact F1 at
    * EVERY distinct-score cut, argmax (deterministic tiebreak: higher
    * threshold). Returns the midpoint between the last included and first
    * excluded score, so `score > threshold` reproduces the best cut exactly.
    *
    * Scale-safe two-pass sweep (round-4 advice — the old single
    * `Window.orderBy(s.desc)` pass moved EVERY distinct score to one
    * partition, which is the pair count when scores are doubles):
    *  1. per-score counts are range-bucketed into `nBuckets` buckets; the
    *     bucket totals (≤ nBuckets rows — a bounded, driver-safe table like
    *     the other scalar lineage reads) are prefix-summed on the driver
    *     into per-bucket cumulative offsets;
    *  2. the cumulative tp/predPos window then runs PARTITIONED BY bucket
    *     (offsets joined back by broadcast), so no partition ever holds more
    *     than one bucket's distinct scores and the plan has no global
    *     un-partitioned window.
    * The result is bit-identical to the single-window sweep: offsets make
    * each within-bucket cumsum globally exact. The driver receives the
    * bucket table (≤ nBuckets rows) and ONE result row. */
  def selectThreshold(scored: DataFrame, scoreCol: String = "score",
      goldCol: String = "gold", nBuckets: Int = 1024): Double = {
    val byScore = scored.groupBy(col(scoreCol).as("s"))
      .agg(sum(col(goldCol).cast("long")).as("pos"), count(lit(1)).as("n"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val ext = byScore.agg(min(col("s")).as("lo"), max(col("s")).as("hi"),
        sum(col("pos")).as("tot")).head()
      require(!ext.isNullAt(0), "selectThreshold: empty validation split")
      val (lo, hi, totalPos) =
        (ext.getDouble(0), ext.getDouble(1), ext.getLong(2))
      // bucket by score range, descending ids so prefix order = score order
      val width = if (hi > lo) (hi - lo) / nBuckets else 1.0
      val bucket = least(floor((col("s") - lit(lo)) / lit(width)),
        lit(nBuckets - 1)).cast("int")
      val bucketed = byScore.withColumn("b", bucket)
      val btab = bucketed.groupBy("b")
        .agg(sum(col("pos")).as("bpos"), sum(col("n")).as("bn"))
        .collect() // bounded: ≤ nBuckets rows
      var cpos = 0L; var cn = 0L
      val offsets = btab.sortBy(-_.getInt(0)).map { r =>
        val o = (r.getInt(0), cpos, cn)
        cpos += r.getLong(1); cn += r.getLong(2)
        o
      }.toSeq
      val spark = scored.sparkSession
      import spark.implicits._
      val offDf = offsets.toDF("b", "opos", "on")
      val wDesc = Window.partitionBy(col("b")).orderBy(col("s").desc)
        .rowsBetween(Window.unboundedPreceding, 0)
      val best = bucketed.join(broadcast(offDf), "b")
        .withColumn("tp", col("opos") + sum(col("pos")).over(wDesc))
        .withColumn("predPos", col("on") + sum(col("n")).over(wDesc))
        .withColumn("fp", col("predPos") - col("tp"))
        .withColumn("fn", lit(totalPos) - col("tp"))
        .withColumn("f1",
          when(lit(2) * col("tp") + col("fp") + col("fn") === 0, lit(0.0))
            .otherwise(lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn"))))
        .orderBy(col("f1").desc, col("s").desc)
        .select(col("s"))
        .head()
      val sIncl = best.getDouble(0)
      // threshold strictly below the worst included score: midpoint to the
      // next score down, or just below when this cut includes everything
      val nxt = byScore.filter(col("s") < sIncl).agg(max(col("s"))).head()
      if (nxt.isNullAt(0)) sIncl - 1e-9 else (sIncl + nxt.getDouble(0)) / 2.0
    } finally byScore.unpersist()
  }

  /** End-to-end in-engine fit: weak labels -> IRLS weights -> threshold
    * selected on the labeled validation split (reference procedure). Returns
    * a ready-to-use `Scoring.Weights`. `featured` = hydrated pairs with the
    * ensemble feature columns; `goldValid` = (url_a, url_b, gold) validation
    * rows. */
  def fit(featured: DataFrame, mentions: DataFrame, goldValid: DataFrame,
      minLen: Int = 8, maxPrevalence: Double = 0.005): Scoring.Weights = {
    val weak = weakLabels(featured, mentions, minLen, maxPrevalence)
    val w = fitLogistic(weak)
    thresholded(featured, goldValid, w)
  }

  /** Strong/semi-supervised fit variant (reference
    * `other_scripts/step3.3_train_and_test_strong_or_semi_supervised.py` —
    * its best result, F1 0.909 vs 0.858 weakly-supervised, comes from
    * training on gold labels instead of rule labels): the SAME IRLS fit, but
    * labeled by joining `goldTrain` (url_a, url_b, gold) onto the featured
    * pairs. Threshold is still swept on the held-out validation split. */
  def fitStrong(featured: DataFrame, goldTrain: DataFrame,
      goldValid: DataFrame): Scoring.Weights = {
    val labeled = featured.join(
      goldTrain.select(col("url_a"), col("url_b"), col("gold")),
      Seq("url_a", "url_b"))
    val w = fitLogistic(labeled, labelCol = "gold")
    thresholded(featured, goldValid, w)
  }

  /** Semi-supervised fit — the OTHER half of the reference's
    * `other_scripts/step3.3_train_and_test_strong_or_semi_supervised.py`
    * (strong = gold-only, semi = gold MIXED WITH rule-derived weak labels):
    * a pair labeled in `goldTrain` trains on its gold label (gold overrides
    * the rules, including on the rule-disagreement region weak-only training
    * drops); every other pair falls back to its weak label; pairs with
    * neither are dropped. Same IRLS, same validation-split threshold sweep. */
  def fitSemi(featured: DataFrame, mentions: DataFrame, goldTrain: DataFrame,
      goldValid: DataFrame, minLen: Int = 8,
      maxPrevalence: Double = 0.005): Scoring.Weights = {
    val weak = weakLabeledAll(featured, mentions, minLen, maxPrevalence)
    val labeled = weak.join(
        goldTrain.select(col("url_a"), col("url_b"),
          col("gold").as("__gold_label")),
        Seq("url_a", "url_b"), "left")
      .withColumn("semi_label",
        coalesce(col("__gold_label"), col("weak_label")))
      .filter(col("semi_label").isNotNull)
      .drop("__gold_label")
    val w = fitLogistic(labeled, labelCol = "semi_label")
    thresholded(featured, goldValid, w)
  }

  private def thresholded(featured: DataFrame, goldValid: DataFrame,
      w: Array[Double]): Scoring.Weights = {
    val weights = Scoring.Weights(w(0), w(1), w(2), w(3), w(4), threshold = 0.0)
    val scoredValid = Scoring.dedupBest(Scoring.withScore(featured, weights))
      .join(goldValid, Seq("url_a", "url_b"))
    val t = selectThreshold(scoredValid)
    weights.copy(threshold = t)
  }

  /** Fitted-model persistence (SURVEY.md S8 — the reference pickles its
    * fitted classifier, `main_scripts/step3.4_train_and_test_model_ment_
    * disamb_pred.py:156-158`, and a later pipeline step reloads it,
    * `main_scripts/step9_processing_all_documents.py:92-102`): the model is a
    * one-row DataFrame, so the artifact is a tiny parquet directory with the
    * same _SUCCESS commit protocol as every other stage checkpoint — the
    * train→deploy handoff resumes like any stage. */
  def weightsToDf(spark: org.apache.spark.sql.SparkSession,
      w: Scoring.Weights): DataFrame = {
    import spark.implicits._
    Seq((w.wJw, w.wLev, w.wJac, w.wCos, w.bias, w.threshold))
      .toDF("w_jw", "w_lev", "w_jac", "w_cos", "bias", "threshold")
  }

  def weightsFromDf(df: DataFrame): Scoring.Weights = {
    val r = df.select("w_jw", "w_lev", "w_jac", "w_cos", "bias", "threshold").head()
    Scoring.Weights(r.getDouble(0), r.getDouble(1), r.getDouble(2),
      r.getDouble(3), r.getDouble(4), r.getDouble(5))
  }
}
