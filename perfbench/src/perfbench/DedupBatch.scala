package perfbench

import org.apache.spark.sql.functions._

import graft.PipelineConfig
import graft.ops.{Dedup, Incremental}

/** Workload dedup_batch: the corpus's snapshot rows as documents. Per
  * round: the full minhash near-dup batch that builds and commits the
  * incremental near-dup state (`minhashDedupState` + `commitDedupState`).
  * The committed dups must be exactly the identical-text duplicate groups.
  *
  * A traced run then detaches a 2% doc delta from the committed state and
  * attaches it back, each plus commit; the attached state must equal the
  * batch state exactly. It also runs the traced ER s0–s5 chain over the
  * same pages: a traced run reports the whole per-layer metric set, the
  * s0–s5 spans included, whichever workload it runs. */
object DedupBatch extends Workload {
  val name = "dedup_batch"
  val nPages = 2000
  val Threshold = 0.8 // Dedup.minhashNearDup's default

  private def lpad(id: Long) = f"$id%020d"

  /** (doc_id, dup_of) of a committed state: assignment rows whose label is
    * not their own key. */
  private def dupsOf(st: Dedup.MinhashDedupState): Seq[(Long, Long)] =
    st.assign.filter(col("url") =!= col("cluster_id")).collect().toSeq
      .map(x => (x.getString(0).toLong, x.getString(1).toLong))

  private def edgesOf(st: Dedup.MinhashDedupState): Seq[(Long, Long)] =
    st.edges.collect().toSeq.map(x => (x.getLong(0), x.getLong(1)))

  private def sameSet(label: String, a: Seq[(Long, Long)],
      b: Seq[(Long, Long)]): Checks.Problems = {
    val (x, y) = (a.toSet, b.toSet)
    if (x == y && a.size == b.size) Nil
    else Seq(s"$label: ${(x -- y).take(3)} only in the first, ${(y -- x).take(3)} only in the second")
  }

  def run(r: Run): Seq[Metric] = {
    val spark = r.spark
    val corpus = Corpus.write(r, Corpus.params(nPages, r.seed))
    // doc_id: 63-bit hash of (url, warc_ts), non-negative so the lpad
    // string order of the committed keys equals numeric order
    corpus.pages.select(xxhash64(col("url"), col("warc_ts"))
        .bitwiseAND(lit(Long.MaxValue)).as("doc_id"), col("text"))
      .write.parquet(s"${r.work}/docs")
    val docs = spark.read.parquet(s"${r.work}/docs")
    val docRows = docs.collect().toSeq.map(x => (x.getLong(0), x.getString(1)))
    val texts = docRows.toMap
    val deltaDocs = docs.filter(Corpus.inDelta(col("doc_id")))
    lazy val deltaIds =
      deltaDocs.select("doc_id").collect().map(_.getLong(0)).toSeq.sorted
    Corpus.fingerprint(r, corpus, Seq("docs" -> docRows.size.toLong,
      "distinct_doc_ids" -> texts.size.toLong))
    r.check("setup", if (texts.size == docRows.size) Nil else Seq("doc ids collide"))

    var counts: Seq[Metric] = Nil
    r.rounds { k =>
      val dir = s"${r.work}/dedup$k"
      r.op("batch") {
        r.tracer.span("batch") {
          Dedup.commitDedupState(Dedup.minhashDedupState(spark, docs), s"$dir/batch")
        }
      }
      r.record("state_bytes", Corpus.parquetBytes(
        Seq("keyed", "edges", "assign").map(t => s"$dir/batch/$t")).toDouble)
      val s0 = Dedup.dedupStateFromDir(spark, s"$dir/batch")
      val (bd, s0Edges) = (dupsOf(s0), edgesOf(s0))
      r.check("batch", Checks.dupsAreIdenticalTexts(bd, docRows) ++
        Checks.edgesPassJaccard("batch state", s0Edges, texts, Threshold))
      if (k == 0) Corpus.outputs(r, Seq("dups" -> bd, "edges" -> s0Edges))
      if (k == 0) r.check("self-test", selfTest(bd, s0Edges, docRows, texts) ++
        (if (r.trace) Checks.mustReject("detach: doc left behind",
          // the batch state holds every delta doc, as a detached state must not
          Checks.noneLeft("assign", s0.assign, Seq("url", "cluster_id"),
            deltaIds.map(lpad))) else Nil))

      if (r.trace) {
        val detached = r.op("detach") {
          val res = r.tracer.span("detach") {
            Dedup.minhashNearDupDetach(spark, s0, docs.filter(!Corpus.inDelta(col("doc_id"))),
              deltaDocs.select("doc_id"))
          }
          r.tracer.span("detach_commit")(Dedup.commitDedupState(res.state, s"$dir/detached"))
          res
        }
        val s1 = Dedup.dedupStateFromDir(spark, s"$dir/detached")
        val attached = r.op("attach") {
          val res = r.tracer.span("attach") {
            Dedup.minhashNearDupAttach(spark, s1, docs, deltaDocs)
          }
          r.tracer.span("attach_commit")(Dedup.commitDedupState(res.state, s"$dir/attached"))
          res
        }
        val s1Edges = edgesOf(s1)
        val gone = deltaIds.map(lpad)
        val baseRows = docRows.filterNot(d => deltaIds.contains(d._1))
        r.check("detach", Checks.dupsAreIdenticalTexts(dupsOf(s1), baseRows) ++
          Checks.edgesPassJaccard("detached state", s1Edges, texts, Threshold) ++
          Checks.noneLeft("keyed", s1.keyed, Seq("id"), deltaIds) ++
          Checks.noneLeft("edges", s1.edges, Seq("id_a", "id_b"), deltaIds) ++
          Checks.noneLeft("assign", s1.assign, Seq("url", "cluster_id"), gone))
        val s2 = Dedup.dedupStateFromDir(spark, s"$dir/attached")
        val s2Edges = edgesOf(s2)
        r.check("attach", Checks.sameRows("attached vs batch assign", s2.assign, s0.assign) ++
          sameSet("attached vs batch edges", s2Edges, s0Edges) ++
          Checks.edgesPassJaccard("attached state", s2Edges, texts, Threshold))
        if (k == 0) {
          val removed = attached.removed.count()
          counts = Seq(
            Metric("batch.items", docRows.size.toDouble, "count"),
            Metric("batch.merged_items", bd.size.toDouble, "count"),
            Metric("attach.dirty", deltaIds.size.toDouble, "count"),
            Metric("attach.removed_edges", removed.toDouble, "count"),
            Metric("attach.added_edges",
              (s2Edges.size - (s1Edges.size - removed)).toDouble, "count"),
            Metric("attach.base_edges", s1Edges.size.toDouble, "count"))
        }
      }
      Corpus.deleteTree(dir)
    }

    if (r.trace) {
      val gold = ErChain.gold(r, corpus)
      val cfg = PipelineConfig(checkpointDir = s"${r.work}/chain", resume = false,
        keepBlockOverflow = true, runId = "perfbench")
      ErChain.run(spark, r.tracer, corpus.pages, corpus.dict, cfg)
      val st = Incremental.stateFromCheckpoint(spark, cfg.checkpointDir)
      val c = ErChain.collect(st)
      Corpus.outputs(r, Seq("s4" -> c.scored, "s5" -> c.clusters))
      r.check("chain", Checks.latestSnapshots(c.s0, corpus.input) ++
        ErChain.graphChecks(c, gold))
      counts = counts ++ ErChain.layerCounts(st, c, gold)
    }
    counts
  }

  /** Every driver-side checker must reject a deliberately corrupted
    * output. */
  def selfTest(bd: Seq[(Long, Long)], edges: Seq[(Long, Long)],
      rows: Seq[(Long, String)], texts: Map[Long, String]): Checks.Problems = {
    val dupIds = bd.map(_._1).toSet
    val singles = rows.map(_._1).filterNot(dupIds).sorted
    if (bd.isEmpty || edges.isEmpty || singles.size < 2)
      return Seq("self-test: corpus has no dup and non-dup docs to corrupt")
    // each identical-text group keeps exactly one non-dup id, so two
    // non-dup ids always carry different texts
    val (x, y) = (singles(0), singles(1))
    Checks.mustReject("identical texts: extra non-duplicate",
      Checks.dupsAreIdenticalTexts(bd :+ (y -> x), rows)) ++
    Checks.mustReject("identical texts: duplicate missing",
      Checks.dupsAreIdenticalTexts(bd.tail, rows)) ++
    Checks.mustReject("shingle Jaccard: extra non-duplicate edge",
      Checks.edgesPassJaccard("corrupt", Seq(x -> y), texts, Threshold)) ++
    Checks.mustReject("attach == batch: edge dropped",
      sameSet("edges", edges.tail, edges))
  }
}
