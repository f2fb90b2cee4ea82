package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.gen.{GoldGen, Synth, SynthParams}
import graft.ops.Metrics

/** End-to-end golden test: the BASELINE gate (pairwise F1 >= 0.99 on labeled
  * same-block pairs, test split), resumability, and cluster reconstruction
  * (SURVEY.md §5.2, §7.2 steps 6-8).
  */
class PipelineSpec extends SparkSpec {
  import spark.implicits._

  private val p = SynthParams(nPages = 2000, nEntities = 300)

  private def freshDir(): String =
    Files.createTempDirectory("graft-e2e").toString

  test("BASELINE gate: pairwise F1 >= 0.99 on the test split") {
    val cfg = PipelineConfig(checkpointDir = freshDir(), runId = "e2e")
    val result = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
      Synth.dict(spark, p).toDF(), cfg)
    val gold = GoldGen.goldPairs(spark, p, cfg.maxBlock, cfg.saltThreshold,
      cfg.nSalts)
    val byTestSplit = Metrics.pairwiseF1(result.scored, gold)
      .filter(col("split") === "test")
      .select("precision", "recall", "f1").head()
    withClue(s"P=${byTestSplit.getDouble(0)} R=${byTestSplit.getDouble(1)}") {
      byTestSplit.getDouble(2) should be >= 0.99
    }
    // threshold/weights were tuned on the validation split only; it must
    // also clear the gate (sanity that the split separation is real)
    val gate = Metrics.pairwiseF1(result.scored, gold)
      .filter(col("split") === "valid").select("f1").head().getDouble(0)
    gate should be >= 0.99
  }

  test("clusters reproduce the planted entities (pair-level)") {
    val cfg = PipelineConfig(checkpointDir = freshDir(), runId = "cc-e2e")
    val result = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
      Synth.dict(spark, p).toDF(), cfg)
    // every predicted cluster should be entity-pure on pages with truth
    val truth = Synth.goldClusters(spark, p).toDF()
      .select(col("url"), col("cluster_id").as("entity_id"))
    val byCluster = result.clusters.join(truth, "url")
      .groupBy(col("cluster_id"))
      .agg(countDistinct(col("entity_id")).as("entities"))
    // purity: fraction of clusters containing exactly one planted entity
    val total = byCluster.count().toDouble
    val pure = byCluster.filter(col("entities") === 1).count().toDouble
    (pure / total) should be >= 0.99
  }

  test("resume: a killed run continues from the last committed stage") {
    val dir = freshDir()
    val cfg = PipelineConfig(checkpointDir = dir, runId = "resume")
    // run only the first two stages (simulates a crash after s1 commit)
    val pages = Pipeline.stage(spark, cfg, "s0_pages") {
      graft.ops.Extract.withInvariant(graft.ops.Extract.latestSnapshot(
        Synth.pages(spark, p).toDF()))
    }
    Pipeline.stage(spark, cfg, "s1_mentions") {
      graft.ops.Extract.mentions(pages, cfg.ctxWindow)
    }
    val s1Files = Files.list(java.nio.file.Paths.get(dir, "s1_mentions"))
      .toArray.map(_.toString).sorted
    // full run resumes: s0/s1 must be read back, not rewritten
    val result = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
      Synth.dict(spark, p).toDF(), cfg)
    result.clusters.count() should be > 0L
    val s1FilesAfter = Files.list(java.nio.file.Paths.get(dir, "s1_mentions"))
      .toArray.map(_.toString).sorted
    s1FilesAfter shouldBe s1Files
    // and metrics rows exist for computed stages with per-partition lineage
    val metrics = spark.read.parquet(s"$dir/metrics")
    val stages = metrics.select("stage").distinct().as[String].collect().toSet
    stages should contain allOf ("s2_blocks", "s3_pairs", "s4_scored", "s5_clusters")
    // s0/s1 were committed by the first (pre-crash) run, so they have rows too
    stages should contain allOf ("s0_pages", "s1_mentions")
    metrics.filter(col("rows") < 0).count() shouldBe 0L
    // how CC finished, with its measured input: a fixture-sized edge set
    // finishes on the driver, so no loop rounds ran
    val cc = metrics.filter(col("stage").startsWith("s5_clusters/"))
      .select("stage", "rows").as[(String, Long)].collect().toMap
    cc.keySet shouldBe Set("s5_clusters/cc_local", "s5_clusters/cc_input_edges",
      "s5_clusters/cc_est_bytes", "s5_clusters/cc_rounds",
      "s5_clusters/write_bytes")
    cc("s5_clusters/cc_local") shouldBe 1L
    cc("s5_clusters/cc_input_edges") should be > 0L
    cc("s5_clusters/cc_est_bytes") should be > cc("s5_clusters/cc_input_edges")
    cc("s5_clusters/cc_rounds") shouldBe 0L
    // every committed stage records the bytes it wrote: one write_bytes row,
    // equal to its parquet data files on disk
    val written = metrics.filter(col("stage").endsWith("/write_bytes"))
      .select("stage", "rows").as[(String, Long)].collect()
    val stageNames = Seq("s0_pages", "s1_mentions", "s2_blocks", "s3_pairs",
      "s4_scored", "s5_clusters")
    written.map(_._1).sorted.toSeq shouldBe stageNames.map(_ + "/write_bytes")
    written.foreach { case (stage, bytes) =>
      val onDisk = Files.list(java.nio.file.Paths.get(dir, stage.stripSuffix("/write_bytes")))
        .toArray.map(_.asInstanceOf[java.nio.file.Path])
        .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
      withClue(stage) { bytes shouldBe onDisk }
      bytes should be > 0L
    }
  }

  test("fit stage commits a model artifact and resume reloads it unchanged") {
    val dir = freshDir()
    val cfg = PipelineConfig(checkpointDir = dir, runId = "fit", fitWeights = true)
    val gold = GoldGen.goldPairs(spark, p, cfg.maxBlock, cfg.saltThreshold,
      cfg.nSalts)
    val goldValid = gold.filter(col("split") === "valid")
      .select(col("url_a"), col("url_b"), col("gold"))
    val result = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
      Synth.dict(spark, p).toDF(), cfg, fitGold = Some(goldValid))
    // the fitted model must clear the BASELINE gate (no hand-set weights)
    val f1 = Metrics.pairwiseF1(result.scored, gold)
      .filter(col("split") === "test").select("f1").as[Double].head()
    f1 should be >= 0.99
    // the model artifact is a committed stage checkpoint
    val modelPath = s"$dir/s35_model"
    Files.exists(java.nio.file.Paths.get(modelPath, "_SUCCESS")) shouldBe true
    val saved = graft.ops.Training.weightsFromDf(spark.read.parquet(modelPath))
    // resume: the model is RELOADED (byte-identical artifact), not refitted —
    // and scoring still uses it
    val modelFiles = Files.list(java.nio.file.Paths.get(modelPath))
      .toArray.map(_.toString).sorted
    val again = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
      Synth.dict(spark, p).toDF(), cfg, fitGold = None) // resume needs no gold
    Files.list(java.nio.file.Paths.get(modelPath))
      .toArray.map(_.toString).sorted shouldBe modelFiles
    graft.ops.Training.weightsFromDf(spark.read.parquet(modelPath)) shouldBe saved
    again.clusters.count() should be > 0L
  }

  test("invariant violations are excluded from mention extraction") {
    val corrupt = p.copy(corruptFraction = 0.5)
    val pages = graft.ops.Extract.withInvariant(
      graft.ops.Extract.latestSnapshot(Synth.pages(spark, corrupt).toDF()))
    val mentions = graft.ops.Extract.mentions(pages)
    val badUrls = pages.filter(!col("invariant_ok")).select("url")
    mentions.join(badUrls, "url").count() shouldBe 0L
  }
}
