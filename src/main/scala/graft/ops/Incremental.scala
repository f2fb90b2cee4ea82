package graft.ops

import scala.util.chaining._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.{PipelineConfig, StateTables}

/** Incremental entity resolution: attach a DELTA batch of pages to the
  * committed state of a previous full run, recomputing only what the delta
  * can have changed, with output provably IDENTICAL to a full re-run over
  * base+delta (IncrementalSpec asserts exact cluster equality, including
  * block-cap re-entry and snapshot-update cases).
  *
  * Why this operator exists: at 10^12 documents the flagship pipeline is not
  * re-run per crawl — a daily delta is a fraction of a percent of the corpus,
  * and every stage of the batch pipeline (blocking, pair-gen, scoring, CC) is
  * delta-localizable because its decisions are content-deterministic:
  *
  *  - snapshot dedup picks a total-order max per url, so the merged winner is
  *    max(base winner, delta rows) — no other url's winner can change;
  *  - block membership is a deterministic function of a mention's content,
  *    so only blocks that a dirty mention enters or leaves ("touched") can
  *    change membership, and the stop-key cap keeps a content-hash-ranked
  *    top-k, so recomputing the cap over a touched block's merged membership
  *    reproduces the batch cap bit-identically (the overflow rows a batch
  *    run dropped are kept in the s2_overflow stage for exactly this
  *    re-entry case — `PipelineConfig.keepBlockOverflow`);
  *  - pair scores are pair-intrinsic (features read only the two mentions),
  *    so a url pair needs rescoring only if its decision inputs changed:
  *    its TOUCHED-block contribution differs between old and new membership
  *    (generation gained/lost, or the min-block-id tiebreak moved), or it is
  *    incident to a dirty url (payload change). A touched-but-under-cap
  *    block regenerates its non-dirty pairs identically, so those pairs fall
  *    out of the old-vs-new diff and are NOT rescored — the rescore set P is
  *    delta-proportional, not neighborhood-proportional;
  *  - the best-pair decision is per url pair over its full candidate set, so
  *    P's pairs are rescored over (surviving base candidates with an
  *    untouched generating block) ∪ (touched-block regenerated candidates)
  *    — the same set a batch run would see;
  *  - CC labels are component minima, so unaffected components keep their
  *    labels verbatim and only components touched by an added/removed edge
  *    (plus dirty nodes) are re-solved, over a subgraph that provably
  *    contains every final edge incident to it — CC maintenance is
  *    Clustering's delta form (`Clustering.resolveFlips`), the tail the
  *    near-dup attach/detach (ops/DeltaDedup) runs too.
  *
  * Scale shape: every shuffle is delta-proportional. Base state is read as
  * scans with broadcast semi-join pruning (touched block ids against
  * s2/s2_overflow, affected mention ids against s3, affected urls against
  * s4/s5) — at deployment scale those indexes would be bucketed by key so
  * the scans become partition-pruned reads; nothing here shuffles an
  * O(base) table.
  *
  * Reference analogue: the memoized precompute-once pattern of
  * `main_scripts/step9_processing_all_documents.py:146-159` (dimension maps
  * built once, probed per document batch) and the stage-resume layout of
  * `main_scripts/run_main_steps.py` — re-expressed as exact delta
  * maintenance over the checkpointed stage tables.
  */
object Incremental {

  /** Committed base state: the stage tables a full `Pipeline.run` wrote.
    * `blockOverflow` is the rank>cap remainder of hot blocks (stage
    * s2_overflow, written when `cfg.keepBlockOverflow`); attach() REQUIRES
    * it — without the overflow rows, cap re-entry on shrinking hot blocks
    * cannot be reproduced and the "provably identical to a full re-run"
    * contract would silently degrade to an approximation (round-5 advice:
    * the old code accepted such bases and returned non-batch-equal
    * results). */
  case class BaseState(
      pages: DataFrame,
      mentions: DataFrame,
      blocks: DataFrame,
      blockOverflow: Option[DataFrame],
      pairs: DataFrame,
      scored: DataFrame,
      clusters: DataFrame)

  /** Read the base state back from a full run's checkpoint directory. */
  def stateFromCheckpoint(spark: SparkSession, ckptDir: String): BaseState = {
    def rd(s: String) = spark.read.parquet(s"$ckptDir/$s")
    val overflowPath = java.nio.file.Paths.get(s"$ckptDir/s2_overflow", "_SUCCESS")
    BaseState(rd("s0_pages"), rd("s1_mentions"), rd("s2_blocks"),
      if (java.nio.file.Files.exists(overflowPath)) Some(rd("s2_overflow")) else None,
      rd("s3_pairs"), rd("s4_scored"), rd("s5_clusters"))
  }

  /** Attach output: full updated tables (same schemas as the batch stages,
    * equal to a batch run over base+delta) plus the delta-sized intermediate
    * frames a caller can count for locality metrics / lineage. The merged
    * stage views make attach CLOSED UNDER COMPOSITION: `commitAsBase` writes
    * them as a new checkpoint and tomorrow's delta attaches against it
    * (IncrementalSpec's composition test: two successive attaches equal one
    * full batch, including the committed stage tables). */
  case class AttachResult(
      clusters: DataFrame,
      scored: DataFrame,
      mentions: DataFrame,
      pages: DataFrame,
      /** Merged s2: untouched base blocks ∪ recomputed touched caps. */
      blocks: DataFrame,
      /** Merged s2_overflow (None iff the base lacked it — then the merged
        * state cannot support exact cap re-entry on the NEXT attach). */
      blockOverflow: Option[DataFrame],
      /** Merged s3: stable base pairs ∪ recomputed changed pairs. */
      pairs: DataFrame,
      /** (url) urls whose winning snapshot changed or is new. */
      dirtyUrls: DataFrame,
      /** (block_id) blocks whose membership can have changed. */
      touchedKeys: DataFrame,
      /** Rescored url-pair rows (the work the delta actually caused). */
      rescored: DataFrame,
      /** (url_a, url_b, was_match, now_match) pairs whose decision flipped. */
      changedEdges: DataFrame,
      /** (cluster_id) base labels dissolved and re-solved this attach. */
      affectedLabels: DataFrame)

  /** Incrementally resolve `deltaPagesIn` (raw page rows, same schema as the
    * batch input) against `base`. `cfg` must carry the SAME blocking/scoring
    * parameters as the base run — the equality guarantee is per-config. */
  def attach(spark: SparkSession, base: BaseState, deltaPagesIn: DataFrame,
      dict: DataFrame, cfg: PipelineConfig): AttachResult = {
    require(base.blockOverflow.isDefined,
      "attach requires a base built with keepBlockOverflow=true: exact cap " +
        "re-entry on shrinking hot blocks needs the s2_overflow rows " +
        "(without them the result would silently diverge from a full re-run)")
    // Delta-proportional intermediates are eager plan cuts (ops/PlanCut);
    // base tables stay lazy parquet scans (leaf plans). Independent legs
    // materialize concurrently (PlanCut.async + PlanCut.await).

    // ---- s0: merged snapshot winners for urls the delta mentions ----------
    // deltaUrls and the merged-winner window are independent given the raw
    // delta (both derive the url set inline) — one overlapped barrier. Base
    // rows keep their committed invariant_ok and html_hash (s0 holds no
    // html); only delta rows compute them.
    val deltaCanon = Extract.canonicalized(deltaPagesIn)
    val deltaUrlsF = PlanCut.async("er_deltaUrls")(deltaCanon.select("url").distinct())
    val mergedTouchedPagesF = PlanCut.async("er_mergedTouchedPages")(
      Extract.latestSnapshot(base.pages
        .join(broadcast(deltaCanon.select("url").distinct()), Seq("url"), "left_semi")
        .unionByName(Extract.withInvariant(deltaCanon))))
    val deltaUrls = PlanCut.await(deltaUrlsF)
    val mergedTouchedPages = PlanCut.await(mergedTouchedPagesF)

    // dirty = new url, or an existing url whose winning snapshot changed
    // (html_hash is the identity that matters: extraction, mentions and
    // blocking are deterministic in the html payload)
    val baseWinner = base.pages
      .join(broadcast(deltaUrls), Seq("url"), "left_semi")
      .select(col("url"), col("html_hash").as("h0"))
    val dirtyUrls = mergedTouchedPages
      .select(col("url"), col("html_hash").as("h1"))
      .join(broadcast(baseWinner), Seq("url"), "left_outer")
      .filter(col("h0").isNull || col("h0") =!= col("h1"))
      .select("url")
      .pipe(PlanCut("er_dirtyUrls"))

    // ---- s1: mentions of dirty urls, old and new --------------------------
    val dirtyPages = mergedTouchedPages.join(broadcast(dirtyUrls), Seq("url"), "left_semi")
    val oldDirtyMentions = base.mentions.join(broadcast(dirtyUrls), Seq("url"), "left_semi")

    // ---- s2: touched blocks -----------------------------------------------
    // every block a dirty mention enters (new membership) or leaves (old
    // membership) — block ids are deterministic in mention content, so no
    // other block's membership can differ from the base run's. The OLD-side
    // key set (a scan of base mentions) materializes concurrently with the
    // new-side extract -> block chain.
    val oldDirtyKeysF = PlanCut.async("er_oldDirtyKeys")(
      Blocking.allBlocks(oldDirtyMentions, dict, cfg.seed)
        .select("block_id").distinct())
    val newDirtyMentions = PlanCut("er_newDirtyMentions")(
      Extract.mentions(dirtyPages, cfg.ctxWindow))
    val newDirtyBlocks = PlanCut("er_newDirtyBlocks")(
      Blocking.allBlocks(newDirtyMentions, dict, cfg.seed))
    val touchedKeys = newDirtyBlocks.select("block_id")
      .union(PlanCut.await(oldDirtyKeysF))
      .distinct()
      .pipe(PlanCut("er_touchedKeys"))

    // raw (uncapped) base membership of touched blocks: capped rows plus the
    // committed overflow, so cap re-entry on shrinking blocks is exact
    val baseRawTouched = base.blocks.select("block_id", "mention_id", "url")
      .unionByName(base.blockOverflow.get.select("block_id", "mention_id", "url"))
      .join(broadcast(touchedKeys), Seq("block_id"), "left_semi")

    // merged membership: base minus ALL dirty urls' old mentions, plus dirty
    // new mentions; the content-hash rank cap then reproduces the batch cap.
    // The old-membership scan (oldTouchedBlocks) is independent of the
    // merge+recap chain — overlapped.
    val oldTouchedBlocksF = PlanCut.async("er_oldTouchedBlocks")(base.blocks
      .join(broadcast(touchedKeys), Seq("block_id"), "left_semi")
      .select("block_id", "mention_id", "url"))
    val mergedRawTouched = baseRawTouched
      .join(broadcast(dirtyUrls), Seq("url"), "left_anti")
      .unionByName(newDirtyBlocks)
      .pipe(PlanCut("er_mergedRawTouched"))
    val newTouchedBlocks = PlanCut("er_newTouchedBlocks")(
      Blocking.capBlocks(mergedRawTouched, cfg.maxBlock))
    // materialized once: consumed by the leaver/entrant diff, the co-member
    // expansion and the old-contribution join — without the checkpoint each
    // consumer re-scans the full s2_blocks table
    val oldTouchedBlocks = PlanCut.await(oldTouchedBlocksF)

    // ---- s3: mention pairs whose candidate set can have changed -----------
    // NEVER regenerate a touched block's full O(n²) pair set (one dirty
    // mention in a cap-sized block would force ~cap²/2 rows, twice — at 200k
    // pages that was 43M regenerated rows for a 224k-pair rescore). Instead
    // diff the CAPPED MEMBERSHIP per touched block — O(members) rows:
    //  - leavers:  in the base cap, not in the recomputed cap (dirty mention
    //    removed, or pushed out by an entrant under the content-hash rank);
    //  - entrants: in the recomputed cap, not in the base cap (new dirty
    //    mention, or cap re-entry from the s2_overflow rows);
    //  - dirty members: same (block, mention_id) on both sides but the url
    //    is dirty — the mention PAYLOAD (ctx) may differ even when the
    //    membership and ids do not.
    // A mention pair's decision inputs changed iff one endpoint is in this
    // delta set D for a block they co-occupy (generation gained/lost there,
    // or the min-block-id tiebreak moved, or a payload changed); everything
    // else regenerates bit-identically and is NOT rescored. Changed pairs =
    // D × co-members — Σ|D_b|·|members_b|, delta-proportional.
    // the diff and every generation join below key on the numeric block_id
    // (the id the committed s2/s3 rows carry and the batch self-join pairs on)
    val oldCapM = oldTouchedBlocks
      .select("block_id", "mention_id", "url")
    val newCapM = newTouchedBlocks
      .select("block_id", "mention_id", "url")
    val leavers = oldCapM.join(broadcast(newCapM.select("block_id", "mention_id")),
      Seq("block_id", "mention_id"), "left_anti")
    val entrants = newCapM.join(broadcast(oldCapM.select("block_id", "mention_id")),
      Seq("block_id", "mention_id"), "left_anti")
    val dirtyMembers = newCapM.join(broadcast(dirtyUrls), Seq("url"), "left_semi")
    // single consumer (mpRaw) over already-kept inputs: no barrier of its own
    val dMembers = leavers.unionByName(entrants)
      .unionByName(dirtyMembers)

    // candidate mention pairs POSSIBLY changed (D × co-members within a
    // shared touched block), oriented like production pair-gen (url_a<url_b).
    // no distinct here: mpRaw dedups its own output, and duplicate membership
    // rows (present in both caps) cannot change the pair set — saves a shuffle
    val coMembers = oldCapM.unionByName(newCapM)
    val mpRaw = PlanCut("er_mpRaw")(broadcast(dMembers
      .select(col("block_id"), col("mention_id").as("mid_d"),
        col("url").as("url_d")))
      .join(coMembers.select(col("block_id"), col("mention_id").as("mid_o"),
        col("url").as("url_o")), Seq("block_id"))
      .filter(col("url_d") =!= col("url_o"))
      .select(
        when(col("url_d") < col("url_o"), col("mid_d")).otherwise(col("mid_o"))
          .as("mid_a"),
        when(col("url_d") < col("url_o"), col("mid_o")).otherwise(col("mid_d"))
          .as("mid_b"),
        least(col("url_d"), col("url_o")).as("url_a"),
        greatest(col("url_d"), col("url_o")).as("url_b"))
      .distinct())
    val mpKeys = mpRaw.select("mid_a", "mid_b")

    // per-pair min generating block id from each source, restricted to the
    // candidate pairs — every join here is delta-proportional:
    //  - tb_old / tb_new: touched blocks under old/new capped membership,
    //    computed in ONE fused pass (src tag in the join key + conditional
    //    min aggregates) instead of two separate coGen join pairs;
    //  - tb_unt: untouched blocks (membership unchanged — base.blocks minus
    //    touched) of the candidate pairs' mentions.
    // All generation joins key on block_id — the id the committed s3 rows
    // carry and the batch self-join pairs on.
    val midsChanged = mpKeys.select(col("mid_a").as("mention_id"))
      .union(mpKeys.select(col("mid_b").as("mention_id"))).distinct()
    val blocksOfChangedF = PlanCut.async("er_blocksOfChanged")(base.blocks
      .join(broadcast(midsChanged), Seq("mention_id"), "left_semi")
      .join(broadcast(touchedKeys), Seq("block_id"), "left_anti")
      .select("mention_id", "block_id"))
    def coGen(members: DataFrame, out: String) = broadcast(mpKeys)
      .join(members.select(col("mention_id").as("mid_a"), col("block_id")),
        Seq("mid_a"))
      .join(broadcast(members.select(col("mention_id").as("mid_b"),
        col("block_id"))), Seq("mid_b", "block_id"))
      .groupBy("mid_a", "mid_b")
      .agg(min(col("block_id")).as(out))
    // fused tb_old/tb_new: a pair is generated by a source iff both endpoints
    // share a block IN THAT SOURCE — src rides the join key, so the fused
    // join equals coGen(oldCapM) ⟗ coGen(newCapM) with half the joins. The
    // pair-key set is delta-proportional and id-only: broadcast it so the
    // membership table streams through two hash joins unshuffled.
    val tbON = {
      val both = oldCapM.withColumn("src", lit(0))
        .unionByName(newCapM.withColumn("src", lit(1)))
      broadcast(mpKeys)
        .join(both.select(col("mention_id").as("mid_a"), col("block_id"),
          col("src")), Seq("mid_a"))
        .join(broadcast(both.select(col("mention_id").as("mid_b"),
          col("block_id"), col("src"))), Seq("mid_b", "block_id", "src"))
        .groupBy("mid_a", "mid_b")
        .agg(min(when(col("src") === 0, col("block_id"))).as("tb_old"),
          min(when(col("src") === 1, col("block_id"))).as("tb_new"))
    }.pipe(PlanCut("er_tbON"))
    val blocksOfChanged = PlanCut.await(blocksOfChangedF)
    val tbUnt = coGen(blocksOfChanged, "tb_unt")

    // TRULY changed pairs: touched contribution differs (generation gained/
    // lost there, or the min-block-id tiebreak moved), or an endpoint url is
    // dirty (payload may differ even with identical membership and ids).
    // Pairs with identical touched contribution and clean payloads
    // regenerate bit-identically and are NOT rescored.
    val dirtyIncident = mpRaw
      .join(broadcast(dirtyUrls.withColumnRenamed("url", "url_a")), Seq("url_a"), "left_semi")
      .unionByName(mpRaw.join(broadcast(dirtyUrls.withColumnRenamed("url", "url_b")),
        Seq("url_b"), "left_semi"))
    val mpP = PlanCut("er_mpP")(mpRaw
      .join(broadcast(tbON), Seq("mid_a", "mid_b"), "left")
      .filter(!(col("tb_old") <=> col("tb_new")))
      .select("mid_a", "mid_b", "url_a", "url_b")
      .unionByName(dirtyIncident)
      .distinct())

    // the rescore unit is the URL pair (best mention pair over its full
    // candidate set): one changed mention-level candidate rescores the pair
    // pairsP and affectedUrls both derive from the kept mpP — one
    // overlapped barrier instead of two serial ones
    val pairsPF = PlanCut.async("er_pairsP")(mpP.select("url_a", "url_b").distinct())
    val affectedUrlsF = PlanCut.async("er_affectedUrls")(
      mpP.select(col("url_a").as("url"))
        .union(mpP.select(col("url_b").as("url")))
        .union(dirtyUrls.select("url"))
        .distinct())
    val pairsP = PlanCut.await(pairsPF)
    val affectedUrls = PlanCut.await(affectedUrlsF)

    // base mention ids of affected urls (the pruning key into s3) and the
    // merged mentions view (the s4 hydration payload) are independent given
    // affectedUrls — the s3P chain and mentionsU materialize concurrently
    // the hydration byte estimate rides mentionsU's materialization as an
    // observe() metric — no extra estimation job (same trick as CC's
    // convergence checksums)
    val mentionsUObs = org.apache.spark.sql.Observation()
    val mentionsUF = PlanCut.async("er_mentionsU")(base.mentions
      .join(broadcast(dirtyUrls), Seq("url"), "left_anti")
      .join(broadcast(affectedUrls), Seq("url"), "left_semi")
      .unionByName(newDirtyMentions)
      .observe(mentionsUObs, Scoring.mentionsBytes.as("bytes")))
    val midsU = PlanCut("er_midsU")(base.mentions
      .join(broadcast(affectedUrls), Seq("url"), "left_semi")
      .select(col("mention_id"), col("url")))
    // committed candidates of P's url pairs, with their committed min
    // generating block id
    val s3P = base.pairs
      .join(broadcast(midsU.select(col("mention_id").as("mid_a"), col("url").as("url_a"))),
        Seq("mid_a"))
      .join(broadcast(midsU.select(col("mention_id").as("mid_b"), col("url").as("url_b"))),
        Seq("mid_b"))
      .join(broadcast(pairsP), Seq("url_a", "url_b"), "left_semi")
      .select("mid_a", "mid_b", "block_id")
      .pipe(PlanCut("er_s3P"))

    // STABLE mention pairs of P's url pairs — not in the changed set, so
    // their generation AND min block id are bit-identical to the committed
    // row (both endpoints stable in every touched block they share, payloads
    // clean): reuse base.pairs verbatim, no regeneration
    val mpPKeys = mpP.select("mid_a", "mid_b")
    val stableCands = s3P.join(broadcast(mpPKeys), Seq("mid_a", "mid_b"), "left_anti")

    // CHANGED pairs: new min block id = min(new touched, untouched)
    // contribution; generated by neither source → EVICTED (absent from the
    // rescore input, so its url pair drops out of the merged scored table
    // unless other candidates remain)
    val changedCands = mpPKeys
      .join(broadcast(tbON.select("mid_a", "mid_b", "tb_new")), Seq("mid_a", "mid_b"), "left")
      .join(tbUnt, Seq("mid_a", "mid_b"), "left")
      .select(col("mid_a"), col("mid_b"),
        least(col("tb_new"), col("tb_unt")).as("block_id"))
      .filter(col("block_id").isNotNull)

    // full new candidate set for the P pairs
    val newCandsP = stableCands.unionByName(changedCands)

    // ---- s4: rescore the P pairs over their full candidate sets -----------
    // merged mentions view restricted to P's urls (hydration payload is
    // delta-proportional)
    val mentionsU = PlanCut.await(mentionsUF)
    // hydration strategy: same byte-sized auto-gate as the batch path
    // (round-5 advice — the old unconditional broadcast could exceed the
    // 8 GiB broadcast cap on a dense P set where the batch run would have
    // chosen shuffle hydration); the estimate was observed during the
    // mentionsU materialization above
    val bcastHydrate = cfg.broadcastHydration(
      mentionsUObs.get("bytes").asInstanceOf[Long])
    val rescored = Scoring.score(newCandsP, mentionsU, cfg.weights,
      cfg.embedDim, cfg.seed, broadcastMentions = bcastHydrate)
      .pipe(PlanCut("er_rescored"))

    // merged scored view: base rows for url pairs outside P are reused
    // verbatim (their candidate sets and payloads cannot have changed)
    val scoredMerged = base.scored
      .join(broadcast(pairsP), Seq("url_a", "url_b"), "left_anti")
      .unionByName(rescored)

    // ---- s5: delta-local cluster maintenance ------------------------------
    val oldEdgesUU = base.scored.filter(col("is_match"))
      .join(broadcast(pairsP), Seq("url_a", "url_b"), "left_semi")
      .select("url_a", "url_b")
    val newEdgesUU = rescored.filter(col("is_match")).select("url_a", "url_b")
    val changedEdges = oldEdgesUU.withColumn("was_match", lit(true))
      .join(newEdgesUU.withColumn("now_match", lit(true)),
        Seq("url_a", "url_b"), "full_outer")
      .withColumn("was_match", coalesce(col("was_match"), lit(false)))
      .withColumn("now_match", coalesce(col("now_match"), lit(false)))
      .filter(col("was_match") =!= col("now_match"))
      .pipe(PlanCut("er_changedEdges"))

    // dissolve the components a flip or a dirty url touches (a dirty url's
    // validity or membership can change even with no edge flips); re-solve
    // them on their members minus the dirty urls, plus the dirty urls that
    // are valid nodes under their merged winner
    val dirtyValidNodes = mergedTouchedPages
      .join(broadcast(dirtyUrls), Seq("url"), "left_semi")
      .filter(col("lang") === "en" && col("invariant_ok"))
      .select("url")
    val cc = Clustering.resolveFlips(spark, "er",
      base.scored.filter(col("is_match")), base.clusters,
      removed = changedEdges.filter(col("was_match")).select("url_a", "url_b"),
      added = changedEdges.filter(col("now_match")).select("url_a", "url_b"),
      changedNodes = Seq(dirtyUrls),
      subNodes = _.join(broadcast(dirtyUrls), Seq("url"), "left_anti")
        .union(dirtyValidNodes).distinct())

    // merged s0/s1 views for chaining (caller may checkpoint as a new base).
    // pages swaps in the recomputed winner for EVERY delta url (not just
    // dirty ones): a content-identical re-send with a later warc_ts is a
    // semantic no-op but the batch s0 carries the later row, and the merged
    // view must match it byte-for-byte
    val pagesMerged = base.pages.join(broadcast(deltaUrls), Seq("url"), "left_anti")
      .unionByName(mergedTouchedPages)
    val mentionsMerged = base.mentions.join(broadcast(dirtyUrls), Seq("url"), "left_anti")
      .unionByName(newDirtyMentions)

    // merged s2/s2_overflow/s3 for chaining: untouched rows verbatim;
    // touched blocks get the recomputed cap (newTouchedBlocks IS the batch
    // cap over the merged raw membership) and its rank>cap remainder;
    // changed pairs get their recomputed min generating block id
    val baseCols = base.blocks.columns.toSeq
    val blocksMerged = base.blocks
      .join(broadcast(touchedKeys), Seq("block_id"), "left_anti")
      .unionByName(newTouchedBlocks.select(baseCols.head, baseCols.tail: _*))
    val overflowMerged = base.blockOverflow.map { o =>
      o.join(broadcast(touchedKeys), Seq("block_id"), "left_anti")
        .unionByName(
          Blocking.capBlocksOverflow(mergedRawTouched, cfg.maxBlock)
            .select(o.columns.head, o.columns.tail: _*))
    }
    val pairsMerged = base.pairs
      .join(broadcast(mpPKeys), Seq("mid_a", "mid_b"), "left_anti")
      .unionByName(changedCands)

    AttachResult(cc.assign, scoredMerged, mentionsMerged, pagesMerged,
      blocksMerged, overflowMerged, pairsMerged,
      dirtyUrls, touchedKeys, rescored, changedEdges, cc.affectedLabels)
  }

  /** Incrementally DELETE urls from a committed base (takedown / right-to-
    * be-forgotten): produce the stage tables a full batch run over
    * base ∖ deleted would produce, without re-running the corpus.
    *
    * A url delete is expressed as a TOMBSTONE snapshot attach — a far-future
    * non-`en` snapshot per deleted url makes the url's merged winner invalid
    * (the exact "validity flip" case attach already maintains: its mentions
    * leave every block they were in, incident pairs evict, touched blocks
    * re-cap — including cap re-entry from s2_overflow — and its components
    * dissolve and re-solve without it), so the ENTIRE proven attach algebra
    * carries the delete; the only residue is the tombstone row in the merged
    * s0 view, which this wrapper drops for true erasure: the deleted url and
    * its text appear in NO committed table afterwards, and no committed
    * table holds raw html at all (s0 stores only html_hash). The tombstone
    * still enters as a raw page, html included, like any delta row.
    * IncrementalSpec pins detach == a full batch over the remaining pages,
    * stage tables included.
    *
    * `deletedUrls` is one `url` column of CANONICAL urls (as committed in
    * the base state); urls absent from the base are no-ops. */
  def detach(spark: SparkSession, base: BaseState, deletedUrls: DataFrame,
      dict: DataFrame, cfg: PipelineConfig): AttachResult = {
    val tombstones = deletedUrls.select(
      col("url"),
      lit(java.sql.Timestamp.valueOf("9999-01-01 00:00:00")).as("warc_ts"),
      lit(Array.emptyByteArray).as("html"),
      lit("").as("text"),
      lit("xx").as("lang"))
    val res = attach(spark, base, tombstones, dict, cfg)
    res.copy(
      pages = res.pages.join(deletedUrls.select("url"), Seq("url"), "left_anti"))
  }

  /** Write the merged stage views as a NEW base checkpoint (must be a fresh
    * directory — the views read the OLD base's parquet lazily, so writing
    * over it would corrupt the read). After this, `stateFromCheckpoint(dir)`
    * + `attach` consume the next delta: attach is closed under composition. */
  def commitAsBase(res: AttachResult, dir: String): Unit = {
    require(res.blockOverflow.isDefined,
      "chaining requires a base built with keepBlockOverflow=true " +
        "(exact cap re-entry on the next attach needs the overflow rows)")
    def commit(df: DataFrame, stage: String) =
      StateTables.write(df, s"$dir/$stage", "error")
    commit(res.pages, "s0_pages")
    commit(res.mentions, "s1_mentions")
    commit(res.blocks, "s2_blocks")
    res.blockOverflow.foreach(commit(_, "s2_overflow"))
    commit(res.pairs, "s3_pairs")
    commit(res.scored, "s4_scored")
    commit(res.clusters, "s5_clusters")
  }
}
