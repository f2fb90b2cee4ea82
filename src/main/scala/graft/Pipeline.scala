package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.Executors

import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ops.{Blocking, Clustering, Extract, Metrics, Scoring, Training}

/** End-to-end ER pipeline with per-stage parquet checkpoints, resume, and
  * lineage metrics.
  *
  * Reference analogue: `main_scripts/run_main_steps.py` chains four Python
  * subprocesses exchanging pickle files (:39-52); each pickle handoff becomes
  * a committed parquet stage checkpoint here, and its load-if-exists caches
  * (`main_scripts/sent_bert_emb_viz_util.py:406-416`) become resume-from-
  * snapshot semantics (SURVEY.md S5, §4.1): a stage whose checkpoint has a
  * _SUCCESS marker is read back, not recomputed.
  *
  * No Iceberg jars ship in this sandbox (SURVEY.md §7.4), so the commit
  * protocol is parquet-directory + _SUCCESS (Spark's atomic job commit); the
  * writer is confined to graft.StateTables so an Iceberg catalog can be
  * slotted in. Stage tables are zstd parquet and keep only what a reader
  * needs: s0 stores `html_hash` = xxhash64(html), not the raw html (the
  * invariant proves `text` equal to its extraction), and s2/s2_overflow are
  * keyed by the numeric `block_id`, not the band-key string.
  */
case class PipelineConfig(
    checkpointDir: String,
    resume: Boolean = true,
    maxBlock: Int = 1024,
    saltThreshold: Int = 64,
    nSalts: Int = 16,
    weights: Scoring.Weights = Scoring.Weights(),
    embedDim: Int = 256,
    ctxWindow: Int = 4,
    seed: Long = 42L,
    runId: String = "run",
    /** When true, every CC loop round's lineage cut commits to parquet
      * under <ckpt>/cc/ instead of a localCheckpoint, so the loop pins no
      * storage memory; when false (default), only the final clusters table
      * is durable. Applies only when CC runs its distributed loop — an edge
      * set under the driver byte budget finishes on the driver with no
      * per-round cuts (ops/Clustering). At 10^12-doc scale set true; at
      * bench scale the per-cut parquet round-trips dominate CC wall time. */
    ccDurableIterations: Boolean = false,
    /** Scoring hydration join strategy: Some(true)/Some(false) force
      * broadcast/shuffle of the mentions projection; None (default) decides
      * by size — broadcast while the projection is driver-safe, shuffle
      * NARROW pair rows beyond that (`broadcastHydration`; ops/Scoring.scala
      * hydrate doc). */
    broadcastMentions: Option[Boolean] = None,
    /** When true, insert a model-fit stage between pair generation and
      * scoring: in-engine weak-supervision training (Training.fit) on the
      * featured pairs, committed as a one-row parquet model artifact under
      * <ckpt>/s35_model — the reference's pickle-the-classifier handoff
      * (step3.4 save → step9 reload) as a resumable stage. Requires
      * Pipeline.run's fitGold. The fitted weights replace cfg.weights. */
    fitWeights: Boolean = false,
    /** When true, also commit stage s2_overflow: the rank>cap remainder of
      * hot blocks (Blocking.capBlocksOverflow — the skew tail a batch run
      * drops). Required for EXACT incremental attach (ops/Incremental):
      * when a snapshot update removes mentions from a hot block, previously
      * capped-out members re-enter the deterministic top-cap, and only the
      * overflow rows can reproduce that. Costs `cappedDropCount` rows of
      * storage, nothing at batch query time. */
    keepBlockOverflow: Boolean = false) {

  /** Broadcast cap of the hydration projection: the driver byte budget. */
  def resolvedBroadcastMentionsMaxBytes: Long = DriverBudget.bytes

  /** Whether scoring broadcasts the mentions projection: `broadcastMentions`
    * when forced, else iff its estimated size `bytes` (Scoring.mentionsBytes;
    * evaluated only when not forced) fits the cap. Sized by BYTES, not
    * rows: the projection carries ctx strings whose width varies 100x with
    * ctxWindow, and a row-count gate could sail past Spark's 8 GiB
    * broadcast-table hard limit (and driver memory) on wide contexts. */
  def broadcastHydration(bytes: => Long): Boolean =
    broadcastMentions.getOrElse(bytes <= resolvedBroadcastMentionsMaxBytes)
}

case class PipelineResult(
    pages: DataFrame,
    mentions: DataFrame,
    pairs: DataFrame,
    scored: DataFrame,
    clusters: DataFrame,
    /** Per-document taxonomy rollup (url, entities, ...) — present when the
      * run was given taxonomy hop dimensions. */
    docRollup: Option[DataFrame] = None)

object Pipeline {

  private def stagePath(cfg: PipelineConfig, stage: String) =
    s"${cfg.checkpointDir}/$stage"

  private def committed(path: String): Boolean =
    Files.exists(Paths.get(path, "_SUCCESS"))

  /** Single-thread executor for lineage-metrics appends: metrics jobs run off
    * the critical path (the next stage starts while metrics commit), but
    * strictly one at a time — concurrent appends to one parquet directory
    * would race in the shared _temporary commit dir. */
  private lazy val metricsEc: ExecutionContext =
    ExecutionContext.fromExecutor(Executors.newSingleThreadExecutor { r =>
      val t = new Thread(r, "graft-metrics-writer")
      t.setDaemon(true)
      t
    })

  /** Append lineage rows to <ckpt>/metrics on the metrics thread (`rows` is
    * built there too). The write joins `pending`; without a buffer (a
    * standalone `stage` call) it completes before this returns. */
  private def appendMetrics(cfg: PipelineConfig,
      pending: scala.collection.mutable.Buffer[Future[Unit]])
      (rows: => DataFrame): Unit = {
    val write = Future {
      rows.write.mode("append").parquet(s"${cfg.checkpointDir}/metrics")
    }(metricsEc)
    if (pending != null) pending += write
    else Await.result(write, Duration.Inf)
  }

  /** Run one stage: resume from the last committed snapshot if present,
    * otherwise compute, commit, and append lineage metrics (asynchronously
    * into `pending`, which run() awaits before returning; synchronously when
    * no buffer is passed). */
  def stage(spark: SparkSession, cfg: PipelineConfig, name: String,
      pending: scala.collection.mutable.Buffer[Future[Unit]] = null)
      (compute: => DataFrame): DataFrame = {
    val path = stagePath(cfg, name)
    if (cfg.resume && committed(path)) {
      spark.read.parquet(path)
    } else {
      val t0 = System.nanoTime()
      StateTables.write(compute, path, "overwrite")
      val out = spark.read.parquet(path)
      val wallMs = (System.nanoTime() - t0) / 1000000L
      // the committed bytes ride the stage's one metrics append as a
      // "<stage>/write_bytes" counter row
      appendMetrics(cfg, pending) {
        Metrics.stageMetrics(out, cfg.runId, name, wallMs)
          .unionByName(Metrics.countMetric(spark, cfg.runId, name,
            "write_bytes" -> StateTables.dataBytes(out)))
      }
      out
    }
  }

  /** Full pipeline: pages -> clusters. Every stage checkpoints; a rerun with
    * resume=true picks up after the last committed stage (north_rule). */
  def run(spark: SparkSession, pagesIn: DataFrame, dict: DataFrame,
      cfg: PipelineConfig,
      taxonomyHops: Seq[(DataFrame, String)] = Nil,
      /** (url_a, url_b, gold) validation pairs for the fit stage's threshold
        * sweep — required when cfg.fitWeights. */
      fitGold: Option[DataFrame] = None): PipelineResult = {
    val pending = scala.collection.mutable.Buffer.empty[Future[Unit]]

    val pages = stage(spark, cfg, "s0_pages", pending) {
      Extract.withInvariant(Extract.latestSnapshot(Extract.canonicalized(pagesIn)))
    }

    val mentions = stage(spark, cfg, "s1_mentions", pending) {
      Extract.mentions(pages, cfg.ctxWindow)
    }

    // blocks are materialized as their own checkpoint: the pair self-join
    // reads them multiple times, and a resumed run skips re-blocking. The
    // uncapped-block cache backing capBlocks' three consumers is released as
    // soon as the checkpoint is written (cleanup passed through the stage).
    val s2Resumed = cfg.resume && committed(stagePath(cfg, "s2_blocks"))
    var releaseBlocks: () => Unit = () => ()
    val blocks = stage(spark, cfg, "s2_blocks", pending) {
      val (b, release) = Blocking.blocksManaged(mentions, dict, cfg.maxBlock, cfg.seed)
      releaseBlocks = release
      b
    }
    // overflow rows for exact incremental attach (cap re-entry): derived
    // from the same raw-blocks plan blocksManaged cached, so Spark's
    // cache-by-canonical-plan reuses the in-memory table — no second LSH
    // pass while the cache is alive (released just below)
    if (cfg.keepBlockOverflow) {
      stage(spark, cfg, "s2_overflow", pending) {
        Blocking.capBlocksOverflow(
          Blocking.allBlocks(mentions, dict, cfg.seed), cfg.maxBlock)
      }
      ()
    }
    releaseBlocks()
    // no silent truncation: mentions dropped by the per-block rank cap go
    // into the lineage/metrics table (block_size in the checkpoint is the
    // true pre-cap size, so this is one cheap agg over the checkpoint)
    if (!s2Resumed) {
      val dropped = Blocking.cappedDropCount(blocks, cfg.maxBlock)
      appendMetrics(cfg, pending) {
        Metrics.countMetric(spark, cfg.runId, "s2_blocks",
          "dropped_mentions" -> dropped)
      }
    }

    val pairs = stage(spark, cfg, "s3_pairs", pending) {
      Blocking.pairsFromBlocks(blocks, cfg.saltThreshold, cfg.nSalts)
    }

    // byte-based auto: one cheap scan of the committed s1 checkpoint
    // (Scoring.mentionsBytes); lazy so it is paid only when a consuming
    // stage (fit / scoring) actually recomputes
    lazy val bcast = {
      val t0 = System.nanoTime()
      lazy val bytes = mentions.agg(Scoring.mentionsBytes).head().getLong(0)
      val choice = cfg.broadcastHydration(bytes)
      // the hydration strategy + its estimated payload is lineage: the
      // broadcast build is the pipeline's one driver-serial term, so every
      // run records which path it took and how big the projection was
      // (counter rows: hydrate_broadcast=1/0 and hydrate_est_bytes)
      if (cfg.broadcastMentions.isEmpty) {
        val wallMs = (System.nanoTime() - t0) / 1000000L
        appendMetrics(cfg, pending) {
          Metrics.countMetric(spark, cfg.runId, "s4_scored",
              "hydrate_broadcast" -> (if (choice) 1L else 0L),
              "hydrate_est_bytes" -> bytes)
            .withColumn("wall_ms", lit(wallMs))
        }
      }
      choice
    }

    // optional fit stage (SURVEY.md S8): train in-engine, commit the model as
    // a stage artifact, resume = reload instead of refit
    val weights: Scoring.Weights =
      if (!cfg.fitWeights) cfg.weights
      else {
        val wDf = stage(spark, cfg, "s35_model", pending) {
          val gold = fitGold.getOrElse(throw new IllegalArgumentException(
            "cfg.fitWeights=true requires fitGold (url_a, url_b, gold) pairs"))
          val featured = Scoring.withFeatures(
            Scoring.hydrate(pairs, mentions, bcast), cfg.embedDim, cfg.seed)
          Training.weightsToDf(spark, Training.fit(featured, mentions, gold))
        }
        Training.weightsFromDf(wDf)
      }

    val scored = stage(spark, cfg, "s4_scored", pending) {
      Scoring.score(pairs, mentions, weights, cfg.embedDim, cfg.seed,
        broadcastMentions = bcast)
    }

    var cc: Option[Clustering.Decision] = None
    val clusters = stage(spark, cfg, "s5_clusters", pending) {
      // CC partitions scale with data on a slow ramp (Partitioning doc);
      // by-name, so pages.count() runs only if CC takes its loop
      val c = Clustering.clustered(spark, scored,
        pages.filter(col("lang") === "en" && col("invariant_ok")),
        if (cfg.ccDurableIterations) Some(s"${cfg.checkpointDir}/cc") else None,
        partitions = Some(Partitioning.ccPartitions(
          spark.sparkContext.defaultParallelism, pages.count())))
      cc = Some(c.decision)
      c.assign
    }
    // how CC finished is lineage too: driver or loop, the measured input,
    // and the loop's rounds to convergence (counter rows cc_local=1/0,
    // cc_input_edges, cc_est_bytes, cc_rounds)
    cc.foreach { d =>
      appendMetrics(cfg, pending) {
        Metrics.countMetric(spark, cfg.runId, "s5_clusters",
          "cc_local" -> (if (d.local) 1L else 0L),
          "cc_input_edges" -> d.inputEdges,
          "cc_est_bytes" -> d.estBytes,
          "cc_rounds" -> d.rounds.toLong)
      }
    }

    // per-document taxonomy rollup (reference step9 admission-level agg):
    // dictionary-linked entities chained through the hop dims, union-deduped
    val rollup = if (taxonomyHops.isEmpty) None else Some(
      stage(spark, cfg, "s6_doc_rollup", pending) {
        graft.ops.Taxonomy.rollupFromMentions(mentions, dict, taxonomyHops)
      })

    // all lineage metrics must be durable before the run is reported done
    // (resume correctness: a rerun's byte-identical-metrics check reads them)
    pending.foreach(Await.result(_, Duration.Inf))

    PipelineResult(pages, mentions, pairs, scored, clusters, rollup)
  }
}
