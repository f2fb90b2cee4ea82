package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.StateTables
import graft.functions._

/** Deduplication family for the training-data pipeline over
  * `documents(doc_id, text, ...)`: exact, MinHash-LSH, SimHash, n-gram
  * Jaccard verification, and embedding-cosine near-dup.
  *
  * Reference analogue: the reference's dedup is exact union-dedup per group
  * (`main_scripts/step9_processing_all_documents.py:241-252`,
  * `drop_duplicates` at `main_scripts/step7.5_error_analysis.py:42`); the
  * near-dup family is the web-scale generalization every training-data
  * pipeline needs.
  *
  * Scale notes: exact dedup is one hash aggregation. Near-dup never compares
  * all pairs — candidates come only from shared LSH bands / simhash bands
  * (candidate count is data-dependent, bounded by band-bucket capping), then
  * verified, then clustered with the same large-star/small-star CC as the ER
  * pipeline. Representative choice is min(doc_id): deterministic.
  */
object Dedup {

  /** Exact dedup: one row per distinct md5(text), keeping min(doc_id).
    * Output: (doc_id, text_hash, dup_count). */
  def exact(docs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame =
    docs.groupBy(md5(col(textCol)).as("text_hash"))
      .agg(min(col(idCol)).as(idCol), count(lit(1)).as("dup_count"))
      .select(col(idCol), col("text_hash"), col("dup_count"))

  /** Character k-shingle set via built-ins (sequence+transform+substring) —
    * used for exact Jaccard verification of LSH candidates. */
  def charShingles(text: Column, k: Int): Column =
    when(length(text) < k, array(text)).otherwise(
      array_distinct(transform(
        sequence(lit(1), length(text) - k + 1),
        i => text.substr(i, lit(k)))))

  /** The (id, bucket) MinHash-LSH band table over the full document text —
    * what the batch candidate self-join pairs from and what the incremental
    * path commits as its band index. */
  def minhashBandTable(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rows: Int = 4, seed: Long = 42L): DataFrame =
    docs.select(col(idCol).as("id"),
      explode(lsh_band_keys(
        minhash_sig(lower(col(textCol)), k = 5, numHashes = bands * rows,
          seed = seed), bands, rows)).as("bucket"))

  /** Candidate near-dup pairs from shared MinHash-LSH bands over the full
    * document text, plus a cleanup handle releasing the cached band table.
    * maxBucket drops degenerate buckets (boilerplate storms) — the stop-key
    * rule again. The cache MUST be released by the caller once the candidate
    * set has been fully consumed (try/finally) — the round-2 version leaked
    * one MEMORY_AND_DISK cache per invocation for the session lifetime. */
  def minhashCandidatesManaged(docs: DataFrame, idCol: String, textCol: String,
      bands: Int = 16, rows: Int = 4, maxBucket: Int = 256,
      seed: Long = 42L): (DataFrame, () => Unit) = {
    // the band table (minhash over full text) feeds the bucket-size agg, the
    // join back, AND both sides of the self-join — without the cache the
    // expensive signature is recomputed ~3x (same rationale as
    // Blocking.blocks)
    val keyed = minhashBandTable(docs, idCol, textCol, bands, rows, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (DeltaDedup.cappedPairs(keyed, maxBucket), () => { keyed.unpersist(); () })
  }

  /** MinHash near-dup: LSH candidates verified by exact character-shingle
    * Jaccard >= threshold. Output: (doc_id, dup_of) for every duplicate doc
    * (dup_of = min doc id of its near-dup cluster, via CC). Safe to release
    * the candidate cache on return: clusterDups' CC loop materializes its
    * input eagerly (checkpointed cuts), so the returned frame reads only the
    * final CC checkpoint. */
  def minhashNearDup(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, maxBucket: Int = 256,
      seed: Long = 42L): DataFrame = {
    val (cands, release) = minhashCandidatesManaged(docs, idCol, textCol,
      maxBucket = maxBucket, seed = seed)
    try minhashNearDupFrom(spark, docs, cands, idCol, textCol, threshold)
    finally release()
  }

  /** MinHash verification+clustering over PRECOMPUTED candidate pairs —
    * lets two consumers (e.g. the minhash and n-gram verifiers) share ONE
    * candidate table instead of each rebuilding the band self-join (round-2's
    * accidental-cache-reuse speedup, made deliberate). */
  def minhashNearDupFrom(spark: SparkSession, docs: DataFrame, cands: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8): DataFrame = {
    // precompute each doc's sorted shingle-hash set ONCE: a doc appearing in
    // p candidate pairs was previously re-shingled p times inside the
    // per-pair kernel (O(L log L) each); now verification is a merge-count
    // over two cached arrays
    val texts = docs.select(col(idCol).as("id"),
      shingle_hashes(lower(col(textCol)), 5).as("v"))
    clusterDups(spark, DeltaDedup.verifyBy(texts,
      sorted_jaccard(_, _) >= threshold)(cands), idCol)
  }

  /** SimHash near-dup: 64-bit simhash banded into 4x16-bit bands (any shared
    * band => candidate, catches hamming distance <= 3 guaranteed), verified
    * by true hamming distance <= maxHamming. */
  def simhashNearDup(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucket: Int = 256, seed: Long = 42L): DataFrame =
    simhashDups(spark, docs, idCol, simhash64(lower(col(textCol)), seed),
      bandBits = 16, maxHamming, maxBucket)

  /** The simhash near-dup dataflow over any simhash kernel column `hash`:
    * the (id, hash) projection is cached once, banded into 4 bands of
    * `bandBits` bits (capped candidates), verified by true hamming distance
    * <= maxHamming, CC-clustered. Production passes the 64-bit xxhash
    * kernel in 16-bit bands; Portable.simhashNearDupMd5 the 60-bit md5
    * kernel in 15-bit bands. */
  private[ops] def simhashDups(spark: SparkSession, docs: DataFrame,
      idCol: String, hash: Column, bandBits: Int, maxHamming: Int,
      maxBucket: Int): DataFrame = {
    val hashed = docs.select(col(idCol).as("id"), hash.as("v"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val banded = hashed.select(col("id"),
        explode(array((0 until 4).map(b =>
          concat_ws(":", lit(b), shiftrightunsigned(col("v"), b * bandBits)
            .bitwiseAND(lit((1L << bandBits) - 1)))): _*))
          .as("bucket"))
      clusterDups(spark, DeltaDedup.verifyBy(hashed,
          (a, b) => bit_count(a.bitwiseXOR(b)) <= maxHamming)(
        DeltaDedup.cappedPairs(banded, maxBucket)), idCol)
    } finally hashed.unpersist()
  }

  /** N-gram (token) Jaccard near-dup over precomputed minhash-LSH
    * candidates (see minhashNearDupFrom), verified by exact word n-gram
    * Jaccard. */
  def ngramJaccardNearDupFrom(spark: SparkSession, docs: DataFrame,
      cands: DataFrame, idCol: String = "doc_id", textCol: String = "text",
      n: Int = 3, threshold: Double = 0.7): DataFrame = {
    // same precompute-once trick as minhashNearDup, over word n-gram sets
    val texts = docs.select(col(idCol).as("id"),
      ngram_hashes(col(textCol), n).as("v"))
    clusterDups(spark, DeltaDedup.verifyBy(texts,
      sorted_jaccard(_, _) >= threshold)(cands), idCol)
  }

  /** Shared-candidate session for one corpus: computes + caches the minhash
    * LSH candidate table ONCE and serves it to BOTH verifiers (the minhash
    * and word-n-gram near-dup queries call minhashCandidatesManaged with
    * identical arguments — two full band self-joins for one candidate set).
    * Call close() after the LAST consumer has materialized its result. */
  final class NearDupCorpus(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text", seed: Long = 42L) {
    private val (cands, release) =
      minhashCandidatesManaged(docs, idCol, textCol, seed = seed)
    // the candidate table itself is also cached: each verifier's two hydration
    // joins + distinct read it, and recomputing it means re-running the band
    // self-join the corpus cache exists to avoid
    private val candsCached =
      cands.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    def minhash(threshold: Double = 0.8): DataFrame =
      minhashNearDupFrom(spark, docs, candsCached, idCol, textCol, threshold)
    def ngram(n: Int = 3, threshold: Double = 0.7): DataFrame =
      ngramJaccardNearDupFrom(spark, docs, candsCached, idCol, textCol, n, threshold)
    def close(): Unit = { candsCached.unpersist(); release() }
  }

  /** Embedding-cosine near-dup over `embeddings(vec_id, embedding)`:
    * candidates from shared random-hyperplane sign buckets, verified by
    * cosine >= threshold.
    *
    * Same capped/late-materialized pattern as minhashCandidatesManaged (this
    * was the one scale-killer left in the family): the (id, vec, bucket)
    * projection is computed ONCE and cached (Spark's columnar cache prunes
    * the vector column out of the id-only self-join reads), buckets above
    * `maxBucket` are dropped whole (one hot bucket of boilerplate/near-
    * constant embeddings is an O(n²) blowup at 100 TB — DedupSpec plants one
    * and asserts survival), candidates are generated id-only, and vectors
    * are hydrated back only for the deduped candidate pairs. */
  def embeddingNearDup(spark: SparkSession, embs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.95, nPlanes: Int = 12, maxBucket: Int = 256,
      seed: Long = 42L): DataFrame =
    embeddingDups(spark, embs, idCol, vecCol,
      Ann.signBucket(col(vecCol), nPlanes, seed), threshold, maxBucket)

  /** The embedding near-dup dataflow over any bucket kernel column `bucket`
    * (production: Ann.signBucket; Portable.embeddingNearDupPortable: the
    * axis-sign bucket): capped bucket candidates, cosine >= threshold, CC. */
  private[ops] def embeddingDups(spark: SparkSession, embs: DataFrame,
      idCol: String, vecCol: String, bucket: Column, threshold: Double,
      maxBucket: Int): DataFrame = {
    val bucketed = embs.select(col(idCol).as("id"), col(vecCol).as("v"),
        bucket.as("bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val verified = DeltaDedup.verifyBy(bucketed,
          cosine_sim(_, _) >= threshold)(
        DeltaDedup.cappedPairs(bucketed.select("id", "bucket"), maxBucket))
      clusterDups(spark, verified, idCol)
    } finally bucketed.unpersist()
  }

  /** Cluster verified duplicate edges with CC; emit (id, dup_of) rows for
    * docs whose representative differs from themselves. CC compares node ids
    * as strings, so numeric ids are zero-padded first — string order must
    * equal numeric order for "dup_of = min doc id" to hold. The production
    * dups-only near-dup outputs end here; the families with attach/detach
    * forms build their committed state with DeltaDedup.batch instead. */
  private[ops] def clusterDups(spark: SparkSession, edges: DataFrame,
      idCol: String): DataFrame = {
    val cc = Clustering.connectedComponents(spark, edges.select(
      DeltaDedup.key(col("id_a")).as("u"), DeltaDedup.key(col("id_b")).as("v")))
    cc.select(col("url").cast("long").as(idCol),
      col("cluster_id").cast("long").as("dup_of"))
  }

  // ---- Incremental near-dup (SURVEY.md §2.12 row I8, production path) ----

  /** Committed dedup state for the minhash near-dup family: the LSH band
    * index, the verified near-dup edges, and the full lpad-keyed cluster
    * assignment (self-clusters included) — the three stage tables an
    * incremental attach reads (deployment: Iceberg stage tables; here
    * parquet via commitDedupState). All three are delta-proportional to
    * READ under attach: every access is pruned by a semi-join against the
    * touched buckets or affected ids. */
  final case class MinhashDedupState(keyed: DataFrame, edges: DataFrame,
      assign: DataFrame)

  /** Pair-intrinsic verification for minhash candidates: exact character-
    * shingle Jaccard >= threshold (same kernel as minhashNearDupFrom).
    * Shingle sets are computed only for ids that appear in a candidate pair
    * (semi-join pruning) — under attach/detach this is what keeps
    * verification delta-proportional instead of re-shingling the corpus.
    * `deltaSized` broadcasts the pruning id set; only attach/detach, whose
    * candidates are delta-proportional, may set it — the batch build's ids
    * are every endpoint of the corpus's candidate pairs. */
  private def minhashVerify(docs: DataFrame, idCol: String, textCol: String,
      threshold: Double, deltaSized: Boolean)(cands: DataFrame): DataFrame = {
    val ids = cands.select(col("id_a").as("id"))
      .union(cands.select(col("id_b").as("id"))).distinct()
    val texts = docs.select(col(idCol).as("id"), col(textCol).as("t"))
      .join(if (deltaSized) broadcast(ids) else ids, Seq("id"), "left_semi")
      .select(col("id"), shingle_hashes(lower(col("t")), 5).as("v"))
    DeltaDedup.verifyBy(texts, sorted_jaccard(_, _) >= threshold)(cands)
  }

  /** Batch-build the committed state over a base corpus (DeltaDedup.batch
    * with the production kernel). Semantics are exactly minhashNearDup's
    * (same band table, same stop-key cap, same shingle-Jaccard
    * verification): state.assign restricted to url != cluster_id is its
    * (doc_id, dup_of) output — DedupIncrementalSpec pins this. */
  def minhashDedupState(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, bands: Int = 16, rows: Int = 4,
      maxBucket: Int = 256, seed: Long = 42L): MinhashDedupState = {
    val keyed = PlanCut("mh_keyed")(
      minhashBandTable(docs, idCol, textCol, bands, rows, seed))
    val base = DeltaDedup.batch(spark, keyed, docs.select(col(idCol).as("id")),
      minhashVerify(docs, idCol, textCol, threshold, deltaSized = false),
      maxBucket)
    MinhashDedupState(keyed, base.edges, base.assign)
  }

  /** Parquet round-trip for the committed state. */
  def commitDedupState(state: MinhashDedupState, dir: String): Unit = {
    StateTables.write(state.keyed, s"$dir/keyed", "overwrite")
    StateTables.write(state.edges, s"$dir/edges", "overwrite")
    StateTables.write(state.assign, s"$dir/assign", "overwrite")
  }

  def dedupStateFromDir(spark: SparkSession, dir: String): MinhashDedupState =
    MinhashDedupState(spark.read.parquet(s"$dir/keyed"),
      spark.read.parquet(s"$dir/edges"), spark.read.parquet(s"$dir/assign"))

  /** The (doc_id, dup_of) view of base ∪ delta plus the merged state —
    * attach is closed under composition: commit the merged state and attach
    * the next crawl without ever re-deduping the corpus. `removed` is the
    * retracted base-edge set (stop-key cap crossings), exposed for metrics
    * and for DedupIncrementalSpec's survivor-check assertions. */
  final case class DedupAttachResult(dups: DataFrame, state: MinhashDedupState,
      removed: DataFrame)

  /** Incremental near-dup attach of an inserts-only delta batch against a
    * committed state (DeltaDedup.attach with the production xxhash kernel).
    * `allDocs` must be base ∪ delta — verification hydrates shingle sets
    * for touched ids from it, semi-join-pruned. Band/cap/threshold params
    * MUST match the ones the state was built with. */
  def minhashNearDupAttach(spark: SparkSession, state: MinhashDedupState,
      allDocs: DataFrame, deltaDocs: DataFrame, idCol: String = "doc_id",
      textCol: String = "text", threshold: Double = 0.8, bands: Int = 16,
      rows: Int = 4, maxBucket: Int = 256, seed: Long = 42L): DedupAttachResult = {
    val keyedD = PlanCut("mh_keyedD")(
      minhashBandTable(deltaDocs, idCol, textCol, bands, rows, seed))
    // the base slice stays the committed index — only the delta is plan-cut;
    // Catalyst pushes the is_delta filters into the union branches, so the
    // core's keyedB/keyedD reads never scan the other side
    val keyedAll = state.keyed.withColumn("is_delta", lit(false))
      .unionByName(keyedD.withColumn("is_delta", lit(true)))
    val att = DeltaDedup.attach(spark, keyedAll, state.edges, state.assign,
      minhashVerify(allDocs, idCol, textCol, threshold, deltaSized = true),
      maxBucket)
    val mergedEdges = state.edges
      .join(broadcast(att.removed), Seq("id_a", "id_b"), "left_anti")
      .unionByName(att.added)
    DedupAttachResult(DeltaDedup.dups(att.assign, idCol),
      MinhashDedupState(state.keyed.unionByName(keyedD), mergedEdges, att.assign),
      att.removed)
  }

  /** Incremental near-dup DETACH of a delete batch (takedown / right-to-be-
    * forgotten) against a committed state — the corpus is never re-deduped.
    * `remainingDocs` is the corpus AFTER the delete (verification hydrates
    * shingle sets from it for stop-key re-entry candidates, semi-join-
    * pruned; deleted texts are never needed). An UPDATE is
    * minhashNearDupDetach of the old rows then minhashNearDupAttach of the
    * new rows — DedupIncrementalSpec proves the composition equals a
    * from-scratch batch. The merged state's band index is the committed
    * index minus the deleted rows (an anti-join view here; an Iceberg
    * deployment would write positional deletes instead —
    * commitDedupState materializes it either way). */
  def minhashNearDupDetach(spark: SparkSession, state: MinhashDedupState,
      remainingDocs: DataFrame, deletedIds: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      threshold: Double = 0.8, maxBucket: Int = 256): DedupAttachResult = {
    val delIds = PlanCut("mh_delIds")(deletedIds.select(col(idCol).as("id")))
    val att = DeltaDedup.detach(spark, state.keyed, delIds, state.edges,
      state.assign,
      minhashVerify(remainingDocs, idCol, textCol, threshold, deltaSized = true),
      maxBucket)
    val mergedKeyed = state.keyed.join(broadcast(delIds), Seq("id"), "left_anti")
    val mergedEdges = state.edges
      .join(broadcast(att.removed), Seq("id_a", "id_b"), "left_anti")
      .unionByName(att.added)
    DedupAttachResult(DeltaDedup.dups(att.assign, idCol),
      MinhashDedupState(mergedKeyed, mergedEdges, att.assign), att.removed)
  }
}
