package graft

import org.apache.spark.sql.functions._

import graft.gen.{GoldGen, Synth, SynthParams}
import graft.ops.{Blocking, Extract, Metrics, Scoring, Training}

/** In-engine weak-supervision training (reference core loop): weak labels
  * from the two rules, IRLS logistic fit as DataFrame aggregations, threshold
  * swept on the validation split — the fitted scorer must reproduce the
  * BASELINE F1 >= 0.99 gate on the gold TEST split with no hand-set weights. */
class TrainingSpec extends SparkSpec {
  import spark.implicits._

  test("IRLS recovers a known separator on synthetic feature rows") {
    // y = 1 iff 3*cos - 1.5 + noise > 0; jw/lev/jac are uninformative noise
    val rnd = new scala.util.Random(42)
    val rows = (0 until 2000).map { _ =>
      val cos = rnd.nextDouble()
      val y = if (3.0 * cos - 1.5 + 0.2 * rnd.nextGaussian() > 0) 1 else 0
      (rnd.nextDouble(), rnd.nextDouble(), rnd.nextDouble(), cos, y)
    }
    val df = rows.toDF("jw", "lev", "jac", "cos", "weak_label")
    val w = Training.fitLogistic(df)
    w(3) should be > 2.0 // cos dominates
    w(3) should be > math.abs(w(0)) * 3
    w(3) should be > math.abs(w(1)) * 3
    w(3) should be > math.abs(w(2)) * 3
    // training accuracy of the fitted separator
    val z = lit(w(0)) * col("jw") + lit(w(1)) * col("lev") +
      lit(w(2)) * col("jac") + lit(w(3)) * col("cos") + lit(w(4))
    val acc = df.select(avg((when(z > 0, 1).otherwise(0) === col("weak_label"))
      .cast("double"))).as[Double].head()
    acc should be > 0.9
  }

  test("selectThreshold finds the F1-optimal cut") {
    // scores where the optimal cut is between 0.6 and 0.5
    val df = Seq(
      (0.9, 1), (0.8, 1), (0.7, 1), (0.6, 1),
      (0.5, 0), (0.4, 0), (0.3, 1), (0.2, 0))
      .toDF("score", "gold")
    val t = Training.selectThreshold(df)
    t should be > 0.5
    t should be < 0.6
  }

  test("selectThreshold bucketed sweep == brute force when distinct scores >> buckets") {
    // 20k distinct scores across many buckets (nBuckets=64 forces real
    // cross-bucket offsets), gold correlated with score + noise so the
    // optimal cut is interior and non-obvious
    val rnd = new scala.util.Random(7)
    val rows = (0 until 20000).map { i =>
      val s = i / 20000.0 + rnd.nextDouble() * 1e-9 // all distinct
      val y = if (s + 0.3 * rnd.nextGaussian() > 0.55) 1 else 0
      (s, y)
    }
    val df = rows.toDF("score", "gold")
    val t = Training.selectThreshold(df, nBuckets = 64)
    // brute-force oracle on the driver: F1 at every distinct cut
    val sorted = rows.sortBy(-_._1)
    val totalPos = rows.count(_._2 == 1).toLong
    var tp = 0L; var pred = 0L
    var bestF1 = -1.0; var bestS = Double.NaN; var bestIdx = -1
    sorted.zipWithIndex.foreach { case ((s, y), i) =>
      tp += y; pred += 1
      val fp = pred - tp; val fn = totalPos - tp
      val f1 = if (2 * tp + fp + fn == 0) 0.0
        else 2.0 * tp / (2 * tp + fp + fn)
      if (f1 > bestF1 || (f1 == bestF1 && s > bestS)) {
        bestF1 = f1; bestS = s; bestIdx = i
      }
    }
    val expected =
      if (bestIdx == sorted.length - 1) bestS - 1e-9
      else (bestS + sorted(bestIdx + 1)._1) / 2.0
    t shouldBe expected
    // and the returned cut reproduces the oracle's best F1 exactly
    val cutTp = rows.count { case (s, y) => s > t && y == 1 }.toLong
    val cutPred = rows.count { case (s, _) => s > t }.toLong
    val f1AtT = 2.0 * cutTp / (2 * cutTp + (cutPred - cutTp) + (totalPos - cutTp))
    f1AtT shouldBe bestF1
  }

  test("weak rules produce high-purity labels on the fixture") {
    val p = SynthParams(nPages = 1500, nEntities = 250)
    val pages = Extract.withInvariant(
      Extract.latestSnapshot(Synth.pages(spark, p).toDF()))
    val mentions = Extract.mentions(pages)
    val pairs = Blocking.pairs(mentions, Synth.dict(spark, p).toDF())
    val featured = Scoring.withFeatures(Scoring.hydrate(pairs, mentions))
    val weak = Training.weakLabels(featured, mentions)
    val gold = GoldGen.goldPairs(spark, p)
      .select(col("url_a"), col("url_b"), col("gold"))
    val joined = weak
      .groupBy("url_a", "url_b").agg(max(col("weak_label")).as("weak_label"))
      .join(gold, Seq("url_a", "url_b"))
    val purity = joined
      .groupBy("weak_label")
      .agg(avg(col("gold").cast("double")).as("gold_rate"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> (r.getDouble(1), r.getLong(2))).toMap
    withClue(s"purity=$purity: ") {
      // weak positives (long + rare) are near-pure true matches; weak
      // negatives (short + hot) are the NOISY class — abbreviation pairs mix
      // true matches with traps (that noise is what the LR fits through,
      // like the reference's weak labels at rule-F1 0.517 training a 0.86
      // model). The required property is a large purity asymmetry.
      purity(1)._1 should be > 0.95
      purity(0)._1 should be < purity(1)._1 - 0.2
      purity(1)._2 should be > 50L
      purity(0)._2 should be > 50L
    }
  }

  test("BASELINE gate with FITTED weights: F1 >= 0.99 on the gold test split") {
    val p = SynthParams(nPages = 2000, nEntities = 300)
    val pages = Extract.withInvariant(
      Extract.latestSnapshot(Synth.pages(spark, p).toDF()))
    val mentions = Extract.mentions(pages)
    val pairs = Blocking.pairs(mentions, Synth.dict(spark, p).toDF())
    val featured = Scoring.withFeatures(Scoring.hydrate(pairs, mentions))
      .persist()
    val gold = GoldGen.goldPairs(spark, p).persist()

    val fitted = Training.fit(featured, mentions,
      gold.filter(col("split") === "valid")
        .select(col("url_a"), col("url_b"), col("gold")))
    info(s"fitted weights: $fitted")

    val scored = Scoring.dedupBest(Scoring.withScore(featured, fitted))
    val f1 = Metrics.pairwiseF1(scored, gold)
      .filter(col("split") === "test").select("f1").as[Double].head()
    info(s"test-split F1 with fitted weights: $f1")
    f1 should be >= 0.99
    featured.unpersist(); gold.unpersist()
  }

  test("weak vs semi vs strong supervision: F1 ladder on the fixture") {
    // reference other_scripts/step3.3_train_and_test_strong_or_semi_
    // supervised.py trains the SAME model family three ways — rule labels
    // only (weak), gold mixed with rule labels (semi), gold only (strong) —
    // and its best result (F1 0.909 vs 0.858) comes from the gold end of
    // that ladder. Reproduced in kind: all three fits pass the >= 0.99 gate,
    // and adding gold never hurts.
    val p = SynthParams(nPages = 2000, nEntities = 300)
    val pages = Extract.withInvariant(
      Extract.latestSnapshot(Synth.pages(spark, p).toDF()))
    val mentions = Extract.mentions(pages)
    val pairs = Blocking.pairs(mentions, Synth.dict(spark, p).toDF())
    val featured = Scoring.withFeatures(Scoring.hydrate(pairs, mentions))
      .persist()
    val gold = GoldGen.goldPairs(spark, p).persist()
    val goldValid = gold.filter(col("split") === "valid")
      .select(col("url_a"), col("url_b"), col("gold"))

    def testF1(w: graft.ops.Scoring.Weights): Double = {
      val scored = Scoring.dedupBest(Scoring.withScore(featured, w))
      Metrics.pairwiseF1(scored, gold)
        .filter(col("split") === "test").select("f1").as[Double].head()
    }
    // gold-consuming fits train on the validation slice's labels only (the
    // held-out test split stays untouched), weak on rule labels only
    val strong = Training.fitStrong(featured, goldValid, goldValid)
    val semi = Training.fitSemi(featured, mentions, goldValid, goldValid)
    val weak = Training.fit(featured, mentions, goldValid)
    val f1Strong = testF1(strong)
    val f1Semi = testF1(semi)
    val f1Weak = testF1(weak)
    info(s"strong=$f1Strong semi=$f1Semi weak=$f1Weak")
    f1Strong should be >= 0.99
    f1Semi should be >= 0.99
    f1Strong should be >= f1Weak - 1e-6
    f1Semi should be >= f1Weak - 1e-6
    featured.unpersist(); gold.unpersist()
  }

  test("weights round-trip through the parquet model artifact") {
    val w = graft.ops.Scoring.Weights(1.5, -0.25, 0.125, 21.0, -3.5, 0.75)
    val dir = java.nio.file.Files.createTempDirectory("graft-model").toString
    Training.weightsToDf(spark, w).write.parquet(s"$dir/model")
    Training.weightsFromDf(spark.read.parquet(s"$dir/model")) shouldBe w
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
