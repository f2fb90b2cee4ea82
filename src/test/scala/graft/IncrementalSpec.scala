package graft

import java.nio.file.Files
import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.gen.{Synth, SynthParams}
import graft.model.Page
import graft.ops.Incremental

/** Exactness contract of incremental attach (ops/Incremental): the clusters
  * and scored-pair tables of `attach(base, delta)` must equal a FULL batch
  * run over base+delta — including snapshot updates that remove mentions
  * (edge deletion → cluster splits), content moves (edge addition → cluster
  * merges), block-cap re-entry on shrinking hot blocks (via the s2_overflow
  * stage), and content-identical re-sends (semantic no-ops). Plus the
  * locality claim: the work the delta causes is delta-proportional, not
  * corpus-proportional. */
class IncrementalSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-incr").toString

  /** base/delta decomposition of the deterministic fixture:
    *  - ~20% of urls arrive only in the delta (inserts);
    *  - ~4% of base urls get a LATER snapshot whose text is REPLACED by
    *    another base page's text (its mentions move entity — merges);
    *  - ~4% of base urls get a later snapshot with mention-free text
    *    (its mentions vanish — splits/shrinks);
    *  - ~4% of base urls are re-sent content-identical with a later
    *    warc_ts (must be recognized as semantic no-ops).
    * fullInput = baseInput ∪ deltaInput exactly, so a batch run over
    * fullInput is the ground truth the attach must reproduce. */
  private def split(all: DataFrame): (DataFrame, DataFrame) = {
    val hv = pmod(xxhash64(col("url")), lit(10))
    val baseInput = all.filter(hv < 8)
    val inserts = all.filter(hv >= 8)

    val winners = baseInput
      .withColumn("__rn", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("url"))
          .orderBy(col("warc_ts").desc, xxhash64(col("html")).asc)))
      .filter(col("__rn") === 1).drop("__rn")
      .collect()
    def pg(r: org.apache.spark.sql.Row): Page = Page(r.getAs[String]("url"),
      r.getAs[Timestamp]("warc_ts"), r.getAs[Array[Byte]]("html"),
      r.getAs[String]("text"), r.getAs[String]("lang"))
    def later(ts: Timestamp, h: Int): Timestamp =
      new Timestamp(ts.getTime + h * 3600000L)
    def slot(u: String, m: Int) = math.floorMod(u.hashCode, m)

    val byUrl = winners.map(pg).sortBy(_.url)
    val moves = byUrl.filter(p => slot(p.url, 23) == 0).zipWithIndex.map {
      case (p, i) =>
        // donor text from a fixed other page: its mentions move entity
        val donor = byUrl((i * 7 + 13) % byUrl.length)
        val text = donor.text
        p.copy(warc_ts = later(p.warc_ts, 10), text = text,
          html = s"<html><head><title>m</title></head><body><p>$text</p></body></html>"
            .getBytes("UTF-8"))
    }
    val kills = byUrl.filter(p => slot(p.url, 23) == 1).map { p =>
      val text = "only plain lowercase filler words remain on this page"
      p.copy(warc_ts = later(p.warc_ts, 10), text = text,
        html = s"<html><head><title>k</title></head><body><p>$text</p></body></html>"
          .getBytes("UTF-8"))
    }
    val resends = byUrl.filter(p => slot(p.url, 23) == 2)
      .map(p => p.copy(warc_ts = later(p.warc_ts, 1)))

    val crafted = spark.createDataset(moves ++ kills ++ resends).toDF()
    (baseInput, inserts.unionByName(crafted))
  }

  private def clusterSet(df: DataFrame): Set[(String, String)] =
    df.select("url", "cluster_id").as[(String, String)].collect().toSet

  private def edgeSet(df: DataFrame): Set[(String, String)] =
    df.filter(col("is_match")).select("url_a", "url_b")
      .as[(String, String)].collect().toSet

  private def runCase(p: SynthParams, cfg0: PipelineConfig)
      : (Incremental.AttachResult, Incremental.BaseState) = {
    val all = Synth.pages(spark, p).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val (baseInput, deltaInput) = split(all)
    val (res, _, base) = runSplit(p, cfg0, all, baseInput, deltaInput)
    (res, base)
  }

  /** Distinct blocks whose true size crosses the cap. */
  private def blocksOverCap(blocks: DataFrame, maxBlock: Int): Long =
    blocks.filter(col("block_size") > maxBlock).select("block_id").distinct().count()

  private def runSplit(p: SynthParams, cfg0: PipelineConfig, all: DataFrame,
      baseInput: DataFrame, deltaInput: DataFrame)
      : (Incremental.AttachResult, PipelineResult, Incremental.BaseState) = {
    val dict = Synth.dict(spark, p).toDF()

    val fullCfg = cfg0.copy(checkpointDir = freshDir(), runId = "full")
    val full = Pipeline.run(spark, baseInput.unionByName(deltaInput), dict, fullCfg)

    val baseCfg = cfg0.copy(checkpointDir = freshDir(), runId = "base",
      keepBlockOverflow = true)
    Pipeline.run(spark, baseInput, dict, baseCfg)
    val base = Incremental.stateFromCheckpoint(spark, baseCfg.checkpointDir)
    val res = Incremental.attach(spark, base, deltaInput, dict, baseCfg)

    // exact equality with the batch ground truth
    clusterSet(res.clusters) shouldBe clusterSet(full.clusters)
    edgeSet(res.scored) shouldBe edgeSet(full.scored)
    // scored rows equal beyond the match bit: same best pair, same score
    val key = Seq("url_a", "url_b", "mid_a", "mid_b", "score", "is_match")
    res.scored.select(key.head, key.tail: _*).as[(String, String, Long, Long,
      Double, Boolean)].collect().toSet shouldBe
      full.scored.select(key.head, key.tail: _*).as[(String, String, Long,
        Long, Double, Boolean)].collect().toSet
    // merged s0 equals the batch winner set byte-for-byte
    res.pages.select(col("url"), col("warc_ts"), col("html_hash"))
      .as[(String, Timestamp, Long)].collect().toSet shouldBe
      full.pages.select(col("url"), col("warc_ts"), col("html_hash"))
        .as[(String, Timestamp, Long)].collect().toSet

    all.unpersist()
    (res, full, base)
  }

  test("attach == full recompute (default blocking config)") {
    runCase(SynthParams(nPages = 1500, nEntities = 150),
      PipelineConfig(checkpointDir = "unused"))
  }

  test("attach == full recompute under hot blocks, salting and cap re-entry") {
    // tiny cap + salt threshold force hot blocks (overflow non-empty), the
    // salted pair path, and cap re-entry when kills/moves shrink a hot block
    val (res, base) = runCase(SynthParams(nPages = 1200, nEntities = 40),
      PipelineConfig(checkpointDir = "unused", maxBlock = 16,
        saltThreshold = 8, nSalts = 4))
    // the cap must bind on both sides of the attach, or this case tests no
    // re-entry at all
    val (before, after) = (blocksOverCap(base.blocks, 16), blocksOverCap(res.blocks, 16))
    info(s"blocks over the cap: base $before, merged $after")
    before should be > 0L
    after should be > 0L
    base.blockOverflow.get.count() should be > 0L
  }

  test("attach work is delta-proportional on a sparse corpus") {
    // Locality is a DENSITY property, not just an algebra property: on the
    // dense exactness fixtures (~10 pages/entity, ~30% dirty urls) nearly
    // every entity neighborhood is delta-adjacent, so rescoring most pairs
    // is the CORRECT delta-local answer. This fixture is sparse (~4 pages
    // per entity) with a 5% inserts-only delta, so a delta-local attach must
    // leave most of the corpus untouched.
    val p = SynthParams(nPages = 3000, nEntities = 600)
    val all = Synth.pages(spark, p).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hv = pmod(xxhash64(col("url")), lit(20))
    val (res, full, _) = runSplit(p, PipelineConfig(checkpointDir = "unused"),
      all, all.filter(hv =!= 0), all.filter(hv === 0))

    // measured on this fixture: ~11% rescored, ~10% dissolved at a ~5%
    // delta (the pair-level rescore set P — url pairs whose touched-block
    // contribution changed or incident to a dirty url; see ops/Incremental).
    // 0.25 = 2x headroom; the pre-tightening UxU algebra scored 0.68 here.
    val totalPairs = full.scored.count()
    val rescored = res.rescored.count()
    withClue(s"rescored=$rescored totalPairs=$totalPairs") {
      rescored.toDouble / totalPairs.toDouble should be < 0.25
    }
    val totalClusters = full.clusters.select("cluster_id").distinct().count()
    val dissolved = res.affectedLabels.count()
    withClue(s"dissolved=$dissolved totalClusters=$totalClusters") {
      dissolved.toDouble / totalClusters.toDouble should be < 0.25
    }
  }

  test("attach composes: two successive deltas equal one full batch") {
    val p = SynthParams(nPages = 1200, nEntities = 120)
    val all = Synth.pages(spark, p).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dict = Synth.dict(spark, p).toDF()
    val hv = pmod(xxhash64(col("url")), lit(10))
    val base0 = all.filter(hv < 7)
    val d1 = all.filter(hv === 7 || hv === 8)
    val d2 = all.filter(hv === 9)

    val fullCfg = PipelineConfig(checkpointDir = freshDir(), runId = "full",
      keepBlockOverflow = true)
    val full = Pipeline.run(spark, all, dict, fullCfg)

    val baseCfg = PipelineConfig(checkpointDir = freshDir(), runId = "b0",
      keepBlockOverflow = true)
    Pipeline.run(spark, base0, dict, baseCfg)
    val r1 = Incremental.attach(spark,
      Incremental.stateFromCheckpoint(spark, baseCfg.checkpointDir),
      d1, dict, baseCfg)
    val dir1 = freshDir() + "/chained"
    Incremental.commitAsBase(r1, dir1)
    val r2 = Incremental.attach(spark,
      Incremental.stateFromCheckpoint(spark, dir1), d2, dict, baseCfg)

    clusterSet(r2.clusters) shouldBe clusterSet(full.clusters)
    edgeSet(r2.scored) shouldBe edgeSet(full.scored)

    // the committed intermediate base (base0+d1) must ALSO equal a batch
    // run's stage tables — the merged s2/s2_overflow/s3 views are exact,
    // not just sufficient for the final answer
    val midCfg = PipelineConfig(checkpointDir = freshDir(), runId = "mid",
      keepBlockOverflow = true)
    Pipeline.run(spark, base0.unionByName(d1), dict, midCfg)
    val mid = Incremental.stateFromCheckpoint(spark, midCfg.checkpointDir)
    val chained = Incremental.stateFromCheckpoint(spark, dir1)
    def rows(df: DataFrame, cs: String*): Set[Seq[Any]] =
      df.select(cs.head, cs.tail: _*).collect().map(_.toSeq).toSet
    val bc = Seq("block_id", "mention_id", "url", "block_size")
    rows(chained.blocks, bc: _*) shouldBe rows(mid.blocks, bc: _*)
    rows(chained.blockOverflow.get, bc: _*) shouldBe
      rows(mid.blockOverflow.get, bc: _*)
    rows(chained.pairs, "mid_a", "mid_b", "block_id") shouldBe
      rows(mid.pairs, "mid_a", "mid_b", "block_id")
    all.unpersist()
    ()
  }

  test("content-identical re-send delta is a semantic no-op") {
    val p = SynthParams(nPages = 600, nEntities = 60)
    val all = Synth.pages(spark, p).toDF()
    val dict = Synth.dict(spark, p).toDF()
    val cfg = PipelineConfig(checkpointDir = freshDir(), runId = "noop",
      keepBlockOverflow = true)
    Pipeline.run(spark, all, dict, cfg)
    val base = Incremental.stateFromCheckpoint(spark, cfg.checkpointDir)
    // re-send 10% of pages verbatim with a bumped timestamp
    val resend = all.filter(pmod(xxhash64(col("url")), lit(10)) === 0)
      .withColumn("warc_ts",
        (col("warc_ts").cast("long") + 3600L).cast("timestamp"))
    val res = Incremental.attach(spark, base, resend, dict, cfg)
    res.dirtyUrls.count() shouldBe 0L
    res.rescored.count() shouldBe 0L
    clusterSet(res.clusters) shouldBe clusterSet(base.clusters)
  }

  test("CRUD cycle composes: detach, commit, then attach equals one batch") {
    // delete a slice, commit the post-delete state, then attach a fresh
    // delta against it — the full lifecycle a deployment runs (takedown
    // batch between two crawls) must equal one batch over the final corpus
    val p = SynthParams(nPages = 900, nEntities = 90)
    val all = Synth.pages(spark, p).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dict = Synth.dict(spark, p).toDF()
    val hv = pmod(xxhash64(col("url")), lit(10))
    val base0 = all.filter(hv < 8)            // initial corpus
    val delSlice = all.filter(hv === 1)       // takedown batch (in base0)
    val d2 = all.filter(hv >= 8)              // next crawl delta

    val fullCfg = PipelineConfig(checkpointDir = freshDir(), runId = "full")
    val full = Pipeline.run(spark,
      base0.join(delSlice.select("url").distinct(), Seq("url"), "left_anti")
        .unionByName(d2), dict, fullCfg)

    val baseCfg = PipelineConfig(checkpointDir = freshDir(), runId = "b0",
      keepBlockOverflow = true)
    Pipeline.run(spark, base0, dict, baseCfg)
    val r1 = Incremental.detach(spark,
      Incremental.stateFromCheckpoint(spark, baseCfg.checkpointDir),
      delSlice.select("url").distinct(), dict, baseCfg)
    val dir1 = freshDir() + "/chained"
    Incremental.commitAsBase(r1, dir1)
    val r2 = Incremental.attach(spark,
      Incremental.stateFromCheckpoint(spark, dir1), d2, dict, baseCfg)

    clusterSet(r2.clusters) shouldBe clusterSet(full.clusters)
    edgeSet(r2.scored) shouldBe edgeSet(full.scored)
    all.unpersist()
    ()
  }

  test("detach == full recompute over the remaining pages, with true erasure") {
    val p = SynthParams(nPages = 900, nEntities = 90)
    val all = Synth.pages(spark, p).toDF()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dict = Synth.dict(spark, p).toDF()
    val isDeleted = pmod(xxhash64(col("url")), lit(5)) === 0

    val baseCfg = PipelineConfig(checkpointDir = freshDir(), runId = "base",
      keepBlockOverflow = true)
    Pipeline.run(spark, all, dict, baseCfg)
    val base = Incremental.stateFromCheckpoint(spark, baseCfg.checkpointDir)
    val deleted = all.filter(isDeleted).select("url").distinct()
      .localCheckpoint(true)
    val res = Incremental.detach(spark, base, deleted, dict, baseCfg)

    val fullCfg = PipelineConfig(checkpointDir = freshDir(), runId = "full")
    val full = Pipeline.run(spark, all.filter(!isDeleted), dict, fullCfg)

    clusterSet(res.clusters) shouldBe clusterSet(full.clusters)
    edgeSet(res.scored) shouldBe edgeSet(full.scored)
    // true erasure: no committed table retains the deleted urls
    res.pages.join(deleted, Seq("url"), "left_semi").count() shouldBe 0L
    res.mentions.join(deleted, Seq("url"), "left_semi").count() shouldBe 0L
    res.clusters.join(deleted, Seq("url"), "left_semi").count() shouldBe 0L
    // and once committed, no table of the state holds raw html, a deleted
    // url, or the text of a page that only deleted urls had
    val dir = freshDir() + "/detached"
    Incremental.commitAsBase(res, dir)
    val st = Incremental.stateFromCheckpoint(spark, dir)
    val tables = Seq("s0" -> st.pages, "s1" -> st.mentions, "s2" -> st.blocks,
      "s2_overflow" -> st.blockOverflow.get, "s3" -> st.pairs,
      "s4" -> st.scored, "s5" -> st.clusters)
    tables.foreach { case (name, t) =>
      withClue(s"$name columns ${t.columns.mkString(",")}: ") {
        t.columns should not contain "html"
      }
    }
    val urlCols = Seq(st.pages -> "url", st.mentions -> "url",
      st.blocks -> "url", st.blockOverflow.get -> "url",
      st.scored -> "url_a", st.scored -> "url_b",
      st.clusters -> "url", st.clusters -> "cluster_id")
    urlCols.foreach { case (t, c) =>
      t.join(deleted.withColumnRenamed("url", c), Seq(c), "left_semi")
        .count() shouldBe 0L
    }
    val deletedMids = base.mentions.join(deleted, Seq("url"), "left_semi")
      .select("mention_id")
    Seq("mid_a", "mid_b").foreach { c =>
      st.pairs.join(deletedMids.withColumnRenamed("mention_id", c), Seq(c),
        "left_semi").count() shouldBe 0L
    }
    val deletedOnlyTexts = all.filter(isDeleted).select("text")
      .except(all.filter(!isDeleted).select("text"))
    deletedOnlyTexts.count() should be > 0L
    st.pages.join(deletedOnlyTexts, Seq("text"), "left_semi").count() shouldBe 0L
    // merged s0 equals the batch winner set byte-for-byte
    res.pages.select(col("url"), col("html_hash"))
      .as[(String, Long)].collect().toSet shouldBe
      full.pages.select(col("url"), col("html_hash"))
        .as[(String, Long)].collect().toSet
    all.unpersist()
    ()
  }
}
