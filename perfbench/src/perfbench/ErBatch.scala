package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.{Partitioning, Pipeline, PipelineConfig}
import graft.gen.Synth
import graft.ops.{Blocking, Clustering, Extract, Incremental, Scoring}

/** The s0–s5 chain of `Pipeline.run`, one span per layer call, committed
  * through `Pipeline.stage`. It is a copy kept in the benchmark and differs
  * from `Pipeline.run` in what it does not time: lineage rows are written
  * synchronously (so each stage's work stays inside its span), the
  * `dropped_mentions` and `hydrate_*` lineage rows are not written, and CC
  * gets no durable-iteration directory (as with graft.Main's default
  * `ccDurableIterations = false`). Nothing compares the two within a run;
  * every run prints the hashes of its batch's s4 and s5 rows (`outputs` on
  * stderr), so a traced and an untraced run of one seed show whether the
  * chain still gives what `Pipeline.run` gives. */
object ErChain {
  def run(spark: SparkSession, t: Tracer, pagesIn: DataFrame, dict: DataFrame,
      cfg: PipelineConfig): Unit = {
    def stage(name: String)(f: => DataFrame) = Pipeline.stage(spark, cfg, name)(f)
    val pages = t.span("s0_pages") {
      stage("s0_pages") {
        Extract.withInvariant(Extract.latestSnapshot(Extract.canonicalized(pagesIn)))
      }
    }
    val mentions = t.span("s1_mentions") {
      stage("s1_mentions")(Extract.mentions(pages, cfg.ctxWindow))
    }
    val blocks = t.span("s2_blocks") {
      var release: () => Unit = () => ()
      val b = stage("s2_blocks") {
        val (b, rel) = Blocking.blocksManaged(mentions, dict, cfg.maxBlock, cfg.seed)
        release = rel
        b
      }
      if (cfg.keepBlockOverflow) stage("s2_overflow") {
        Blocking.capBlocksOverflow(
          Blocking.allBlocks(mentions, dict, cfg.seed), cfg.maxBlock)
      }
      release()
      b
    }
    val pairs = t.span("s3_pairs") {
      stage("s3_pairs")(Blocking.pairsFromBlocks(blocks, cfg.saltThreshold, cfg.nSalts))
    }
    val scored = t.span("s4_scored") {
      def oct(c: String) = coalesce(octet_length(col(c)).cast("long"), lit(0L))
      lazy val bytes = mentions.agg(coalesce(sum(
        oct("surface") + oct("ctx") + oct("url") + lit(24L)), lit(0L))).head().getLong(0)
      val bcast = cfg.broadcastMentions.getOrElse(
        bytes <= cfg.resolvedBroadcastMentionsMaxBytes)
      stage("s4_scored") {
        Scoring.score(pairs, mentions, cfg.weights, cfg.embedDim, cfg.seed,
          broadcastMentions = bcast)
      }
    }
    t.span("s5_clusters") {
      stage("s5_clusters") {
        Clustering.clusters(spark, scored,
          pages.filter(col("lang") === "en" && col("invariant_ok")), None,
          partitions = Some(Partitioning.ccPartitions(
            spark.sparkContext.defaultParallelism, pages.count())))
      }
    }
    ()
  }

  /** Committed ER state read back for the checks. */
  final case class Collected(s0: Seq[Checks.SnapshotRow],
      scored: Seq[(String, String, Boolean)], clusters: Seq[(String, String)]) {
    lazy val nodes: Set[String] =
      s0.filter(r => r.lang == "en" && r.invariantOk).map(_.url).toSet
    def edges: Seq[(String, String)] = scored.filter(_._3).map(x => (x._1, x._2))
  }

  def collect(st: Incremental.BaseState): Collected = Collected(
    st.pages.select("url", "warc_ts", "lang", "invariant_ok").collect().toSeq
      .map(x => Checks.SnapshotRow(x.getString(0), x.getTimestamp(1),
        x.getString(2), x.getBoolean(3))),
    st.scored.select("url_a", "url_b", "is_match").collect().toSeq
      .map(x => (x.getString(0), x.getString(1), x.getBoolean(2))),
    st.clusters.select("url", "cluster_id").collect().toSeq
      .map(x => (x.getString(0), x.getString(1))))

  /** Union-find and planted-truth checks shared by every ER state. */
  def graphChecks(c: Collected, gold: Map[String, String]): Checks.Problems =
    Checks.clustersAreComponents(c.clusters, c.nodes, c.edges) ++
      Checks.plantedTruth(c.scored, gold, 0.99)

  /** Per-layer outcome counts of a committed batch state. */
  def layerCounts(st: Incremental.BaseState, c: Collected,
      gold: Map[String, String]): Seq[Metric] = {
    val pairs = st.pairs.count().toDouble
    val matches = c.scored.count(_._3).toDouble
    val (pp, pr) = Checks.clusterPairwise(c.clusters, gold)
    Seq(
      Metric("s3_pairs.rows", pairs, "count"),
      Metric("s4_scored.matches", matches, "count"),
      Metric("s4_scored.match_yield", if (pairs == 0) 0.0 else matches / pairs, "ratio"),
      Metric("s5_clusters.clusters", c.clusters.map(_._2).distinct.size.toDouble, "count"),
      Metric("s5_clusters.pair_precision", pp, "ratio"),
      Metric("s5_clusters.pair_recall", pr, "ratio"))
  }

  def gold(r: Run, corpus: Corpus): Map[String, String] =
    Synth.goldClusters(r.spark, corpus.params).collect()
      .map(g => g.url -> g.cluster_id).toMap
}

/** Workload er_batch: per round, one full `Pipeline.run` over the corpus
  * (read from parquet) into a fresh checkpoint, clusters materialized. The
  * round runs in a fresh JVM, as each `graft.Main` job does, so its time
  * includes JIT compilation and Spark codegen.
  *
  * A traced run replaces `Pipeline.run` with the s0–s5 chain (committed
  * with the s2 overflow rows that incremental maintenance needs), then
  * detaches a 2%-of-urls delta from that committed state and attaches it
  * back, each plus `commitAsBase`. The attached state must equal the batch
  * over base ∪ delta (the chain's own output) exactly. */
object ErBatch extends Workload {
  val name = "er_batch"
  val nPages = 2000

  def run(r: Run): Seq[Metric] = {
    val spark = r.spark
    val corpus = Corpus.write(r, Corpus.params(nPages, r.seed))
    val gold = ErChain.gold(r, corpus)
    val urls = corpus.input.map(_.url).distinct.size
    val deltaPages = corpus.pages.filter(Corpus.inDelta(col("url")))
    val deltaUrls = deltaPages.select("url").distinct()
    lazy val delta = deltaUrls.collect().map(_.getString(0)).toSeq.sorted
    Corpus.fingerprint(r, corpus, Seq("urls" -> urls.toLong,
      "gold_urls" -> gold.size.toLong))

    var counts: Seq[Metric] = Nil
    r.rounds { k =>
      val dir = s"${r.work}/er$k"
      // graft.Main's configuration; a traced run keeps the s2 overflow rows
      // that exact attach/detach require
      val cfg = PipelineConfig(checkpointDir = s"$dir/batch", resume = false,
        keepBlockOverflow = r.trace, runId = "perfbench")
      def state(d: String) = Incremental.stateFromCheckpoint(spark, s"$dir/$d")

      r.op("batch") {
        r.tracer.span("batch") {
          if (r.trace) ErChain.run(spark, r.tracer, corpus.pages, corpus.dict, cfg)
          else Pipeline.run(spark, corpus.pages, corpus.dict, cfg).clusters.count()
        }
      }
      r.record("state_bytes", Corpus.parquetBytes(Seq("s0_pages", "s1_mentions",
        "s2_blocks", "s2_overflow", "s3_pairs", "s4_scored", "s5_clusters")
        .map(s => s"$dir/batch/$s")).toDouble)

      val a = state("batch")
      val ca = ErChain.collect(a)
      r.check("batch", Checks.latestSnapshots(ca.s0, corpus.input) ++
        ErChain.graphChecks(ca, gold))
      if (k == 0) Corpus.outputs(r, Seq("s4" -> ca.scored, "s5" -> ca.clusters))
      if (k == 0) r.check("self-test", selfTest(ca, gold, corpus.input) ++
        (if (r.trace) sparkSelfTest(a, delta) else Nil))

      if (r.trace) {
        r.op("detach") {
          val res = r.tracer.span("detach") {
            Incremental.detach(spark, a, deltaUrls, corpus.dict, cfg)
          }
          r.tracer.span("detach_commit")(Incremental.commitAsBase(res, s"$dir/detached"))
        }
        val attached = r.op("attach") {
          val base = state("detached")
          val res = r.tracer.span("attach") {
            Incremental.attach(spark, base, deltaPages, corpus.dict, cfg)
          }
          r.tracer.span("attach_commit")(Incremental.commitAsBase(res, s"$dir/attached"))
          res
        }
        val (b, c) = (state("detached"), state("attached"))
        val deltaMids = a.mentions.filter(col("url").isin(delta: _*))
          .select("mention_id").collect().map(_.getLong(0)).toSeq
        val cb = ErChain.collect(b)
        val gone = delta.toSet
        r.check("detach", ErChain.graphChecks(cb, gold) ++
          Checks.firstFew("s0/s4/s5 rows still holding a deleted url",
            (cb.s0.map(_.url) ++ cb.scored.flatMap(x => Seq(x._1, x._2)) ++
              cb.clusters.flatMap(x => Seq(x._1, x._2))).filter(gone)) ++
          Checks.noneLeft("s1_mentions", b.mentions, Seq("url"), delta) ++
          Checks.noneLeft("s2_blocks", b.blocks, Seq("url"), delta) ++
          Checks.noneLeft("s2_overflow", b.blockOverflow.get, Seq("url"), delta) ++
          Checks.noneLeft("s3_pairs", b.pairs, Seq("mid_a", "mid_b"), deltaMids))
        // equal to the checked batch, so the attached state needs no checks
        // of its own
        r.check("attach",
          Checks.sameRows("attached vs batch s4", c.scored, a.scored) ++
          Checks.sameRows("attached vs batch s5", c.clusters, a.clusters))
        if (k == 0) counts = ErChain.layerCounts(a, ca, gold) ++ Seq(
          Metric("batch.items", urls.toDouble, "count"),
          Metric("batch.merged_items", ca.clusters.count(x => x._1 != x._2).toDouble, "count"),
          Metric("attach.dirty", attached.dirtyUrls.count().toDouble, "count"),
          Metric("attach.removed_edges",
            attached.changedEdges.filter(col("was_match")).count().toDouble, "count"),
          Metric("attach.added_edges",
            attached.changedEdges.filter(col("now_match")).count().toDouble, "count"),
          Metric("attach.base_edges", cb.edges.size.toDouble, "count"))
      }
      Corpus.deleteTree(dir)
    }
    counts
  }

  /** Every driver-side checker must reject a deliberately corrupted
    * output. */
  def selfTest(ca: ErChain.Collected, gold: Map[String, String],
      input: Seq[Checks.InputPage]): Checks.Problems = {
    val multi = ca.clusters.groupBy(_._2).filter(_._2.size >= 2)
    val labels = ca.clusters.map(_._2).distinct.sorted
    if (multi.isEmpty || labels.size < 2)
      return Seq("self-test: batch output has no multi-member cluster to corrupt")
    val (keep, gone) = (labels(0), labels(1))
    val merged = ca.clusters.map { case (u, l) => (u, if (l == gone) keep else l) }
    val victim = multi.values.head.map(_._1).max
    val dropped = ca.edges.filterNot { case (x, y) => x == victim || y == victim }
    Checks.mustReject("union-find: two clusters merged",
      Checks.clustersAreComponents(merged, ca.nodes, ca.edges)) ++
    Checks.mustReject("union-find: edges dropped",
      Checks.clustersAreComponents(ca.clusters, ca.nodes, dropped)) ++
    Checks.mustReject("planted truth: decisions flipped",
      Checks.plantedTruth(ca.scored.map(x => (x._1, x._2, !x._3)), gold, 0.99)) ++
    Checks.mustReject("s0: duplicated url",
      Checks.latestSnapshots(ca.s0 :+ ca.s0.head, input))
  }

  /** The Spark-side checkers (traced runs only: each costs jobs). */
  def sparkSelfTest(a: Incremental.BaseState, delta: Seq[String]): Checks.Problems =
    // the batch state holds every delta url, as a detached state must not
    Checks.mustReject("detach: url left behind",
      Checks.noneLeft("s0_pages", a.pages, Seq("url"), delta)) ++
    Checks.mustReject("attach == batch: row dropped",
      Checks.sameRows("s4", a.scored.exceptAll(a.scored.limit(1)), a.scored))
}
