package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.{lsh_band_keys, minhash_sig}

/** Blocking stage: dictionary-key blocking + MinHash-LSH blocking, block-size
  * capping (stop-key rule) and salted pair generation for hot blocks.
  *
  * Reference analogues:
  *  - dictionary blocking = the UMLS-dictionary semi-join that gates SemEHR
  *    candidates (`main_scripts/step0_mimic3_data_processing.py:112,195`;
  *    dict built at `main_scripts/mimic3_data_processing_util.py:7-24`) — here
  *    a broadcast equi-join of normalized surface keys against exploded dict
  *    aliases (SURVEY.md J3/J4: containment joins normalized to equi-joins);
  *  - block-size cap = the prevalence rule dropping ultra-frequent concepts
  *    (`main_scripts/step1_tr_data_creat_ment_disamb.py:69-77`): hot blocks
  *    generate O(n²) candidate pairs, so blocks above `maxBlock` are dropped
  *    (SURVEY.md §4.2.1);
  *  - LSH blocking has no reference analogue (reference surfaces are exact
  *    dictionary hits); it is the web-scale path for typo'd surfaces.
  *
  * Scale design:
  *  - the dict join broadcasts (dict is ontology-sized, ~4k rows in the
  *    reference);
  *  - blocks and candidate pairs carry ONLY (block_id, mention_id, url),
  *    block_id = xxhash64 of the block-key string: a pair sharing 16 LSH
  *    bands materializes 16 duplicate rows before dedup, so row width
  *    dominates shuffle volume — payloads (surface, ctx) are hydrated back
  *    by Scoring AFTER the pair dedup (late materialization). The key
  *    string is hashed where it is made and never shuffled or committed; a
  *    rare 64-bit collision only merges two blocks' candidates, which the
  *    scorer re-separates;
  *  - pair generation is THE shuffle-heavy operator (SURVEY.md J7); blocks
  *    between `saltThreshold` and `maxBlock` use a salted self-join so one
  *    hot key spreads over `nSalts` shuffle partitions.
  */
object Blocking {

  val LshNumHashes = 64
  val LshBands = 16
  val LshRows = 4 // bands * rows == numHashes

  /** Dictionary blocks: block_key = "e:<entity_id>" for every mention whose
    * normalized surface exactly matches a dictionary key. A key shared by two
    * entities (abbreviation trap) puts the mention in both blocks — exactly
    * like the reference's multi-row containment hit
    * (`main_scripts/step0_mimic3_data_processing.py:311`). */
  def dictBlocks(mentions: DataFrame, dict: DataFrame): DataFrame = {
    val keys = dict.select(col("entity_id"), explode(col("keys")).as("norm_key"))
    mentions.join(broadcast(keys), Seq("norm_key"))
      .select(concat(lit("e:"), col("entity_id")).as("block_key"),
        col("mention_id"), col("url"))
  }

  /** LSH blocks: block_key = "l:<band>:<bandhash>" from the minhash signature
    * of the normalized surface. */
  def lshBlocks(mentions: DataFrame, seed: Long = 42L): DataFrame =
    mentions.select(
      explode(lsh_band_keys(
        minhash_sig(col("norm_key"), k = 3, numHashes = LshNumHashes, seed = seed),
        LshBands, LshRows)).as("block_key"),
      col("mention_id"), col("url"))

  /** Every block a mention falls in, as (block_id, mention_id, url):
    * dictionary and LSH blocks, block_id = xxhash64(block_key). */
  def allBlocks(mentions: DataFrame, dict: DataFrame, seed: Long = 42L): DataFrame =
    dictBlocks(mentions, dict).unionByName(lshBlocks(mentions, seed))
      .select(xxhash64(col("block_key")).as("block_id"), col("mention_id"),
        col("url"))

  /** The cap's deterministic rank inside a block: content-derived from the
    * block id and the mention id alone, so attach can recompute it from the
    * committed s2 columns. */
  private def capRank = org.apache.spark.sql.expressions.Window
    .partitionBy(col("block_id"))
    .orderBy(xxhash64(col("block_id"), col("mention_id")).asc,
      col("mention_id").asc)

  private def withBlockSize(blocks: DataFrame): DataFrame =
    blocks.join(blocks.groupBy("block_id").agg(count(lit(1)).as("block_size")),
      Seq("block_id"))

  /** Cap blocks at maxBlock mentions (stop-key rule, graceful form) and
    * attach block_size (the TRUE pre-cap size — it is the prevalence signal
    * the gated scorer reads; reference 25-per-mention cap analogue:
    * `main_scripts/sent_bert_emb_viz_util.py:454-469`).
    *
    * Round-2 semantics dropped oversized blocks WHOLE — at web scale that
    * throws away all recall on popular entities. Now an oversized block keeps
    * its top-maxBlock mentions by a deterministic hash rank (content-derived,
    * so the kept subset is stable across partitionings and reruns), via a
    * rank<=k window that gets the WindowGroupLimit rewrite (partial top-k
    * before the shuffle). pairs(capped) ⊆ pairs(uncapped) by construction
    * (BlockingSpec property test).
    *
    * Cost shape: the size aggregation shuffles only (block_id, count)
    * partials; cold blocks (the overwhelming majority) take the join-only
    * path with NO row shuffle (sizes broadcast); only rows of oversized
    * blocks — bounded by the skew tail — pay the window sort. The input is
    * read by three consumers (sizes agg + cold + hot), so callers on an
    * expensive input should persist it (blocks() does). */
  def capBlocks(blocks: DataFrame, maxBlock: Int): DataFrame = {
    val withSize = withBlockSize(blocks)
    val cold = withSize.filter(col("block_size") <= maxBlock)
    val hot = withSize.filter(col("block_size") > maxBlock)
      .withColumn("__rk", row_number().over(capRank))
      .filter(col("__rk") <= maxBlock)
      .drop("__rk")
    cold.unionByName(hot)
  }

  /** The complement of capBlocks: the rank>maxBlock remainder of hot blocks
    * (same deterministic content-hash rank). Batch runs never read these
    * rows, but incremental attach does — when a dirty url's mentions LEAVE a
    * hot block, previously capped-out members re-enter the top-maxBlock, and
    * reproducing the batch cap over the shrunken membership requires the
    * full raw membership. Persisted as stage s2_overflow when
    * `PipelineConfig.keepBlockOverflow`; its size is exactly
    * `cappedDropCount` rows (the skew tail), not O(corpus). */
  def capBlocksOverflow(blocks: DataFrame, maxBlock: Int): DataFrame =
    withBlockSize(blocks)
      .filter(col("block_size") > maxBlock)
      .withColumn("__rk", row_number().over(capRank))
      .filter(col("__rk") > maxBlock)
      .drop("__rk")

  /** Mentions dropped by the rank cap, from a CAPPED blocks table alone:
    * block_size is the true pre-cap size, so dropped = Σ max(0, size - cap)
    * over distinct blocks — one cheap aggregation, no recompute of the
    * uncapped table. Feed into the metrics/lineage table (no silent
    * truncation: the cap is the pipeline's most important drop point). */
  def cappedDropCount(cappedBlocks: DataFrame, maxBlock: Int): Long =
    cappedBlocks.select(col("block_id"), col("block_size")).distinct()
      .agg(coalesce(sum(greatest(col("block_size") - maxBlock, lit(0))),
        lit(0L)).as("dropped"))
      .head().getLong(0)

  /** Capped blocks table (block_id, mention_id, url, block_size) — the
    * blocking stage's materialization point (Pipeline checkpoints it; the
    * self-join reads it several times). Pair generation joins and dedups on
    * the NUMERIC block_id — string min/first aggregates force SortAggregate
    * (string agg buffers cannot hash-aggregate), which sorted the entire
    * pre-dedup pair set.
    *
    * The UNCAPPED block table is always cached here: capBlocks reads it three
    * times (size agg + cold + hot branches) and it holds the expensive LSH
    * signatures. Returns a cleanup handle releasing that cache (plus the
    * capped cache when persistCapped) — call it once the blocks table has
    * been materialized (checkpoint write / CC convergence). */
  def blocksManaged(mentions: DataFrame, dict: DataFrame, maxBlock: Int = 1024,
      seed: Long = 42L, persistCapped: Boolean = false): (DataFrame, () => Unit) = {
    val raw = allBlocks(mentions, dict, seed)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val b = capBlocks(raw, maxBlock)
    if (persistCapped) {
      val bp = b.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (bp, () => { bp.unpersist(); raw.unpersist(); () })
    } else (b, () => { raw.unpersist(); () })
  }

  /** Unmanaged wrapper (tests / one-shot tools): caches live for the session
    * lifetime — prefer blocksManaged anywhere long-lived. */
  def blocks(mentions: DataFrame, dict: DataFrame, maxBlock: Int = 1024,
      seed: Long = 42L, persist: Boolean = false): DataFrame =
    blocksManaged(mentions, dict, maxBlock, seed, persistCapped = persist)._1

  /** Candidate pairs within each block, url_a < url_b, exactly once per
    * (block_id, mention pair). Blocks with block_size > saltThreshold go
    * through a salted self-join: the left side gets salt = hash(url) % nSalts,
    * the right side is replicated nSalts times, and the join key is
    * (block_id, salt) — every pair appears exactly once (when the replica's
    * salt equals the left row's salt) while the hot key spreads over nSalts
    * shuffle partitions (SURVEY.md §4.2.1; property-tested:
    * pairs(salted) == pairs(plain)).
    */
  def candidatePairs(cappedBlocks: DataFrame, saltThreshold: Int = 64,
      nSalts: Int = 16): DataFrame = {
    val cold = cappedBlocks.filter(col("block_size") <= saltThreshold)
    val hot = cappedBlocks.filter(col("block_size") > saltThreshold)

    def pairUp(a: DataFrame, b: DataFrame, extraKey: Seq[String]): DataFrame = {
      val la = a.select((Seq(col("block_id")) ++ extraKey.map(col) ++ Seq(
        col("mention_id").as("mid_a"), col("url").as("url_a"))): _*)
      val lb = b.select((Seq(col("block_id")) ++ extraKey.map(col) ++ Seq(
        col("mention_id").as("mid_b"), col("url").as("url_b"))): _*)
      la.join(lb, Seq("block_id") ++ extraKey)
        .filter(col("url_a") < col("url_b"))
        .drop(extraKey: _*)
    }

    val coldPairs = pairUp(cold, cold, Seq.empty)

    val hotLeft = hot.withColumn("salt",
      pmod(xxhash64(col("url")), lit(nSalts)).cast("int"))
    val hotRight = hot.withColumn("salt",
      explode(sequence(lit(0), lit(nSalts - 1))))
    val hotPairs = pairUp(hotLeft, hotRight, Seq("salt"))

    coldPairs.unionByName(hotPairs)
  }

  /** Distinct candidate mention pairs with the (deterministic, min) shared
    * block id. FULLY numeric rows: (mid_a, mid_b, block_id) — three longs.
    * The urls used for pair orientation (url_a < url_b, applied in
    * candidatePairs) are functionally dependent on the mention ids, so they
    * are DROPPED before the dedup shuffle and re-attached by
    * Scoring.hydrate: this groupBy is the single heaviest shuffle in the
    * pipeline (one row per band-duplicate candidate), and carrying ~60-char
    * url strings through it tripled its byte volume (measured at 2.4M
    * pages). mid_a always belongs to the lexicographically smaller url. */
  def pairsFromBlocks(cappedBlocks: DataFrame, saltThreshold: Int = 64,
      nSalts: Int = 16): DataFrame =
    candidatePairs(cappedBlocks, saltThreshold, nSalts)
      .select("mid_a", "mid_b", "block_id")
      .groupBy("mid_a", "mid_b")
      .agg(min(col("block_id")).as("block_id"))

  /** Full blocking stage: mentions + dict -> distinct candidate pairs, plus
    * a cleanup handle for the two caches (raw + capped blocks) backing the
    * self-join branches. Release after the pair set is materialized. */
  def pairsManaged(mentions: DataFrame, dict: DataFrame, maxBlock: Int = 1024,
      saltThreshold: Int = 64, nSalts: Int = 16,
      seed: Long = 42L): (DataFrame, () => Unit) = {
    val (b, release) = blocksManaged(mentions, dict, maxBlock, seed,
      persistCapped = true)
    (pairsFromBlocks(b, saltThreshold, nSalts), release)
  }

  /** Unmanaged wrapper — caches live for the session lifetime. */
  def pairs(mentions: DataFrame, dict: DataFrame, maxBlock: Int = 1024,
      saltThreshold: Int = 64, nSalts: Int = 16, seed: Long = 42L): DataFrame =
    pairsManaged(mentions, dict, maxBlock, saltThreshold, nSalts, seed)._1
}
