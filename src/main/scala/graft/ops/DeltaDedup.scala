package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The banded near-dup dataflow — capped bucket candidates → pair-intrinsic
  * verification → CC — defined once, in its batch, attach and detach forms
  * (SURVEY.md §2.12 row I8). `batch` builds the committed state (verified
  * edges + full assignment) of a corpus; `attach` folds an inserts-only delta
  * into it and `detach` removes a delete batch, both producing the cluster
  * assignment the FULL BATCH would produce over the changed corpus while
  * touching only delta-adjacent state.
  *
  * Generic over the hash kernel: callers pass the (id, bucket) table, the
  * `verify` function and the CC key function as plain arguments, so a twin
  * is a kernel, not a copy. The production xxhash family
  * (Dedup.minhashDedupState / minhashNearDupAttach / minhashNearDupDetach),
  * the md5 near-dup twins (Portable.nearDupMd5 and its Incremental / Detach
  * forms, cross-engine rows g02/g04 and g16/g17/g20) and the md5 ER twins
  * (Portable.erComponentsPortable and its Incremental / Detach forms, rows
  * g01 and g15/g18/g19, url keys with keyFn = identity) all run this code:
  * every oracle row checks the same `batch` call its delta rows start
  * from, and the survivor/cap-crossing logic cannot drift between them.
  *
  * Candidate-diff completeness under inserts-only deltas (band buckets only
  * GAIN members, so n_new >= n_old):
  *  - untouched buckets: membership and eligibility unchanged → generation
  *    unchanged;
  *  - touched, eligible before AND after: old-old pairs regenerate
  *    identically; only delta × co-member pairs are new;
  *  - touched, eligible → over-cap (stop-key crossing): ALL old pairs of the
  *    bucket lose this generator — each survives iff another still-eligible
  *    bucket (untouched, or touched-and-new-eligible) co-contains it,
  *    checked per removed pair;
  *  - touched, ineligible before (n_old < 2): at most one old member, so
  *    every generated pair involves a delta doc → covered by the
  *    delta × co-member expansion (n_old > cap stays over-cap forever).
  * Verification is pair-intrinsic over immutable per-doc sets, so candidate
  * flips are exactly edge flips, and CC maintenance is Clustering's delta
  * form (`Clustering.resolveFlips`), the tail the ER attach runs too.
  *
  * Scale shape: every attach/detach shuffle is delta-proportional — base
  * state is read as scans pruned by semi-joins against the touched buckets /
  * affected ids; nothing re-hashes or re-pairs the untouched corpus.
  */
object DeltaDedup {

  /** Edge flips + maintained assignment from one inserts-only attach. */
  final case class Attached(
      /** (url, cluster_id) lpad-keyed assignment over base ∪ delta nodes. */
      assign: DataFrame,
      /** (id_a, id_b) verified base edges that lost their last eligible
        * generating bucket (stop-key crossings). */
      removed: DataFrame,
      /** (id_a, id_b) newly verified edges involving a delta doc. */
      added: DataFrame)

  /** lpad string key: string order == numeric order for long ids, so CC's
    * min-label representative equals the min numeric id. */
  private[ops] def key(c: Column): Column = lpad(c.cast("string"), 20, "0")

  /** The candidate rule of every banded family, production and portable:
    * buckets with 1 < n <= maxBucket generate all (id_a < id_b) member
    * pairs; over-cap (stop-key) and singleton buckets generate none.
    * `keyed` is (id, bucket, ...). */
  private[ops] def cappedPairs(keyed: DataFrame, maxBucket: Int): DataFrame = {
    val sized = keyed.groupBy("bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") <= maxBucket && col("n") > 1)
    val inB = keyed.select("bucket", "id").join(sized, "bucket")
    inB.as("a").join(inB.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Pair-intrinsic verifier over a per-id value table `vals` (id, v):
    * hydrates both endpoints of each (id_a, id_b) candidate and keeps the
    * pairs `accept(v_a, v_b)` holds for. */
  private[ops] def verifyBy(vals: DataFrame, accept: (Column, Column) => Column)(
      cands: DataFrame): DataFrame =
    cands
      .join(vals.select(col("id").as("id_a"), col("v").as("v_a")), "id_a")
      .join(vals.select(col("id").as("id_b"), col("v").as("v_b")), "id_b")
      .filter(accept(col("v_a"), col("v_b")))
      .select("id_a", "id_b")

  /** (idCol, dup_of) view of an lpad-keyed assignment: one row per node whose
    * representative (the component's min id) is another node. */
  private[ops] def dups(assign: DataFrame, idCol: String): DataFrame =
    assign.filter(col("url") =!= col("cluster_id"))
      .select(col("url").cast("long").as(idCol),
        col("cluster_id").cast("long").as("dup_of"))

  /** (url_a, url_b) CC-keyed form of (id_a, id_b) edges. */
  private def urlEdges(edges: DataFrame, keyFn: Column => Column): DataFrame =
    edges.select(keyFn(col("id_a")).as("url_a"), keyFn(col("id_b")).as("url_b"))

  /** Committed state of one banded near-dup run. */
  final case class Batch(
      /** (id_a, id_b) verified edges, id_a < id_b. */
      edges: DataFrame,
      /** (url, cluster_id) keyFn-keyed assignment for every node. */
      assign: DataFrame)

  /** Batch form: the verified edges `verify(cappedPairs(keyed))` and the CC
    * assignment over `nodes`, both eagerly plan-cut — the base state
    * `attach`/`detach` consume.
    *
    * @param keyed  (id, bucket, ...) band table of the corpus.
    * @param nodes  (id) every node the assignment covers; ids without a
    *               verified edge are their own cluster.
    * The other parameters are as in attach. */
  def batch(spark: SparkSession, keyed: DataFrame, nodes: DataFrame,
      verify: DataFrame => DataFrame, maxBucket: Int,
      keyFn: Column => Column = key): Batch = {
    val edges = PlanCut("ddb_edges")(verify(cappedPairs(keyed, maxBucket)))
    val assign = PlanCut("ddb_assign")(Clustering.clusters(spark,
      urlEdges(edges, keyFn).withColumn("is_match", lit(true)),
      nodes.select(keyFn(col("id")).as("url"))))
    Batch(edges, assign)
  }

  /** Attach an inserts-only delta to a committed dedup state.
    *
    * @param keyedAll    (id, bucket, is_delta) band table over base ∪ delta.
    *                    The base slice must be the committed band index (NOT
    *                    recomputed); the delta slice should be plan-cut by
    *                    the caller (it is read many times below).
    * @param baseEdges   (id_a, id_b) verified near-dup edges of the base
    *                    state (id_a < id_b).
    * @param baseAssign  (url, cluster_id) lpad-keyed assignment for EVERY
    *                    base id (self-clusters included).
    * @param verify      candidates (id_a, id_b) → verified pairs, pair-
    *                    intrinsic over immutable per-doc sets. MUST apply
    *                    the same similarity + threshold the batch used.
    * @param maxBucket   the batch family's stop-key cap.
    * @param keyFn       id → CC node key. The default zero-pads numeric ids
    *                    so string order equals numeric order; callers whose
    *                    ids are already totally-ordered strings (the ER
    *                    twin's urls) pass identity.
    */
  def attach(spark: SparkSession, keyedAll: DataFrame, baseEdges: DataFrame,
      baseAssign: DataFrame, verify: DataFrame => DataFrame,
      maxBucket: Int, keyFn: Column => Column = key): Attached = {
    val keyedB = keyedAll.filter(!col("is_delta"))
    val keyedD = keyedAll.filter(col("is_delta"))

    // Every probe into the committed base below BROADCASTS its (delta-
    // proportional) probe set: the band index is only ever read as a
    // streaming scan through a broadcast hash join — never shuffled. The
    // unhinted semi-joins here were the measured 2.4M-doc attach floor
    // (145s, SCALING.json): Spark's size estimate for plan-cut frames
    // defaults to "huge", so each prune sort-merge-shuffled the whole
    // index. Probe sets are bounded by ~bands x |delta| rows (plus the
    // rare cap-crossing neighborhoods); a delta so large that its bucket
    // set exceeds the broadcast cap should re-dedup the corpus instead.
    val touched = PlanCut("dd_touched")(keyedD.select("bucket").distinct())

    // touched-bucket membership under old and new views. n_old is DERIVED
    // (n_new minus the bucket's delta rows — exact under inserts-only, a
    // band table holds one row per (id, band)) instead of aggregating a
    // second scan of the base index.
    val oldT = keyedB.join(broadcast(touched), Seq("bucket"), "left_semi")
    val newT = PlanCut("dd_newT")(oldT.unionByName(keyedD))
    val sizes = PlanCut("dd_sizes")(newT
      .groupBy("bucket").agg(count(lit(1)).as("n_new"))
      .join(keyedD.groupBy("bucket").agg(count(lit(1)).as("n_d")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        (col("n_new") - coalesce(col("n_d"), lit(0L))).as("n_old"),
        col("n_new")))
    val eligNew = sizes
      .filter(col("n_new") > 1 && col("n_new") <= maxBucket).select("bucket")

    // ADDED candidates: delta members × co-members in new-eligible buckets
    val newTElig = newT.join(broadcast(eligNew), Seq("bucket"), "left_semi")
    // materializes concurrently with the removed-candidate branch below
    // (both depend only on the kept newT/sizes)
    val addedCandF = PlanCut.async("dd_addedCand")(newTElig.filter(col("is_delta"))
      .select(col("bucket"), col("id").as("id_d"))
      .join(newTElig.select(col("bucket"), col("id").as("id_o")), Seq("bucket"))
      .filter(col("id_d") =!= col("id_o"))
      .select(least(col("id_d"), col("id_o")).as("id_a"),
        greatest(col("id_d"), col("id_o")).as("id_b"))
      .distinct())

    // REMOVED candidates: the whole pair set of buckets that CROSSED the
    // stop-key cap on insert, minus pairs another still-eligible bucket
    // (untouched — full size recomputed only for the buckets involved — or
    // touched-and-new-eligible) still generates
    val crossed = sizes.filter(col("n_old") > 1 && col("n_old") <= maxBucket &&
      col("n_new") > maxBucket).select("bucket")
    val crossedMembers = newT.join(broadcast(crossed), Seq("bucket"), "left_semi")
      .filter(!col("is_delta"))
    val removedCand0 = PlanCut("dd_removedCand0")(crossedMembers.as("a")
      .join(crossedMembers.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct())
    val removedIds = PlanCut("dd_removedIds")(removedCand0.select(col("id_a").as("id"))
      .union(removedCand0.select(col("id_b").as("id"))).distinct())
    // the added-edge verification (shingle hydration + pair kernels) is the
    // expensive leg — overlap it with the removed-branch survivor scans
    val addedCand = PlanCut.await(addedCandF)
    val addedLF = PlanCut.async("dd_addedL")(verify(addedCand)
      .join(broadcast(baseEdges.join(
        broadcast(addedCand.select("id_a").distinct()),
        Seq("id_a"), "left_semi")), Seq("id_a", "id_b"), "left_anti"))
    val untouchedOfRemoved = PlanCut("dd_untouchedOfRemoved")(keyedB
      .join(broadcast(removedIds), Seq("id"), "left_semi")
      .join(broadcast(touched), Seq("bucket"), "left_anti"))
    val untouchedEligSizes = keyedB
      .join(broadcast(untouchedOfRemoved.select("bucket").distinct()),
        Seq("bucket"), "left_semi")
      .groupBy("bucket").agg(count(lit(1)).as("n"))
      .filter(col("n") > 1 && col("n") <= maxBucket)
    val gen = untouchedOfRemoved
      .join(broadcast(untouchedEligSizes.select("bucket")),
        Seq("bucket"), "left_semi")
      .select("bucket", "id")
      .unionByName(newTElig.join(broadcast(removedIds), Seq("id"), "left_semi")
        .select("bucket", "id"))
    val survivors = removedCand0
      .join(gen.select(col("bucket"), col("id").as("id_a")), Seq("id_a"))
      .join(gen.select(col("bucket"), col("id").as("id_b")),
        Seq("id_b", "bucket"), "left_semi")
      .select("id_a", "id_b").distinct()
    val trueRemoved = removedCand0.join(survivors, Seq("id_a", "id_b"), "left_anti")

    // edge flips: pair-intrinsic verification over immutable sets. The
    // anti-join's base side is pre-pruned to the delta ids' edges (an
    // anti-join result only depends on right rows whose keys appear on the
    // left), so the base edge table is never shuffled either.
    val removedL = PlanCut("dd_removedL")(baseEdges.join(broadcast(trueRemoved),
      Seq("id_a", "id_b"), "left_semi"))
    val addedL = PlanCut.await(addedLF)
    // dissolve components an edge flip touches; re-solve with delta nodes;
    // everything else keeps its base label
    val cc = Clustering.resolveFlips(spark, "dd", urlEdges(baseEdges, keyFn),
      baseAssign, urlEdges(removedL, keyFn), urlEdges(addedL, keyFn),
      changedNodes = Nil,
      subNodes = _.union(keyedD.select(keyFn(col("id")).as("url")).distinct())
        .distinct())
    Attached(cc.assign, removedL, addedL)
  }

  /** Detach a delete batch from a committed dedup state: produce the cluster
    * assignment the FULL BATCH dedup would produce over base ∖ deleted —
    * the takedown/right-to-be-forgotten half of the delta algebra (an
    * update is detach ∘ attach; DedupIncrementalSpec proves the
    * composition). Deletes are SIMPLER than inserts because buckets only
    * SHRINK (n_new <= n_old):
    *  - removed edges: every base edge incident to a deleted id,
    *    unconditionally — the doc is gone regardless of which buckets
    *    generated the pair; a remaining-remaining pair can never lose a
    *    generator (no bucket crosses the cap upward, and an
    *    eligible → ineligible bucket has at most ONE remaining member, so
    *    it held no remaining-remaining pair);
    *  - added candidates: buckets that DROP back under the stop-key cap
    *    (n_old > maxBucket, 1 < n_new <= maxBucket) newly generate ALL
    *    remaining-member pairs — verified pair-intrinsically, minus edges
    *    the base already had;
    *  - CC: components touched by an edge flip or containing a deleted
    *    node are dissolved and re-solved WITHOUT the deleted nodes;
    *    everything else keeps its base label verbatim.
    *
    * @param baseKeyed   committed (id, bucket) band index of the base.
    * @param deletedIds  (id) docs to remove; must be ⊆ base ids.
    * @param verify      as in attach; only ever called on remaining ids.
    */
  def detach(spark: SparkSession, baseKeyed: DataFrame, deletedIds: DataFrame,
      baseEdges: DataFrame, baseAssign: DataFrame,
      verify: DataFrame => DataFrame, maxBucket: Int,
      keyFn: Column => Column = key): Attached = {
    val delIds = PlanCut("ddx_delIds")(deletedIds.select("id"))

    // touched buckets + membership before and after the delete. Probe sets
    // broadcast, deleted-member counts derived from the (kept, delete-
    // proportional) deleted membership — the base index is read once as a
    // streaming scan, never shuffled (same rationale as attach).
    val delMembers = PlanCut("ddx_delMembers")(
      baseKeyed.join(broadcast(delIds), Seq("id"), "left_semi"))
    val touched = PlanCut("ddx_touched")(delMembers.select("bucket").distinct())
    val oldT = baseKeyed.join(broadcast(touched), Seq("bucket"), "left_semi")
    val newT = PlanCut("ddx_newT")(oldT.join(broadcast(delIds), Seq("id"), "left_anti"))
    val sizes = PlanCut("ddx_sizes")(touched
      .join(broadcast(newT.groupBy("bucket").agg(count(lit(1)).as("n_new"))),
        Seq("bucket"), "left_outer")
      .select(col("bucket"), coalesce(col("n_new"), lit(0L)).as("n_new"))
      .join(delMembers.groupBy("bucket").agg(count(lit(1)).as("n_d")),
        Seq("bucket"), "left")
      .select(col("bucket"),
        (col("n_new") + coalesce(col("n_d"), lit(0L))).as("n_old"),
        col("n_new")))

    // removed edges: incident to a deleted id (see scaladoc for why this is
    // the COMPLETE removal set under deletes)
    val removedL = PlanCut("ddx_removedL")(baseEdges
      .join(broadcast(delIds.withColumnRenamed("id", "id_a")),
        Seq("id_a"), "left_semi")
      .unionByName(baseEdges
        .join(broadcast(delIds.withColumnRenamed("id", "id_b")),
          Seq("id_b"), "left_semi")
        .select("id_a", "id_b"))
      .distinct())

    // ADDED candidates: stop-key re-entry — remaining pairs of buckets that
    // dropped back under the cap
    val reentered = sizes.filter(col("n_old") > maxBucket &&
      col("n_new") > 1 && col("n_new") <= maxBucket).select("bucket")
    val reMembers = newT.join(broadcast(reentered), Seq("bucket"), "left_semi")
    val addedCand = PlanCut("ddx_addedCand")(reMembers.as("a")
      .join(reMembers.as("b"),
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct())
    val addedL = PlanCut("ddx_addedL")(verify(addedCand)
      .join(broadcast(baseEdges.join(
        broadcast(addedCand.select("id_a").distinct()),
        Seq("id_a"), "left_semi")), Seq("id_a", "id_b"), "left_anti"))

    // dissolve components touched by an edge flip or holding a deleted node;
    // re-solve without the deleted nodes; keep every other label verbatim
    val delUrls = delIds.select(keyFn(col("id")).as("url"))
    val cc = Clustering.resolveFlips(spark, "ddx", urlEdges(baseEdges, keyFn),
      baseAssign, urlEdges(removedL, keyFn), urlEdges(addedL, keyFn),
      changedNodes = Seq(delUrls),
      subNodes = _.join(broadcast(delUrls), Seq("url"), "left_anti"))
    Attached(cc.assign, removedL, addedL)
  }
}
