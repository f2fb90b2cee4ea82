package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Oracle-portable KERNELS of the near-dup family, the bucketed ANN and
  * the flagship ER pipeline, and the twins that plug them into the
  * production dataflows.
  *
  * The production operators hash with xxhash64 / the custom codegen'd
  * kernels — fast, but no other engine can replicate them, so the driver's
  * DuckDB oracle could only count rows. This object defines no dataflow of
  * its own: every twin is a call of the one production dataflow —
  * Dedup.simhashDups / embeddingDups, Ann.writeBucketedBy / probeTopK, and
  * DeltaDedup.batch / attach / detach for the families with delta forms —
  * with a kernel drawn from md5 (which DuckDB computes bit-identically),
  * similarities from exact set intersection over the SAME element sets
  * both engines can build in SQL, and tiebreaks from total orders both
  * engines share. Only the hash/bucket column and the verify function are
  * twin-specific. Result: the full candidates→verify→cluster pipeline is
  * hash-checkable end-to-end against an independent SQL engine (CC verified
  * via a recursive-CTE transitive closure).
  *
  * Use the production kernels for throughput (Bench overrides the g02/g03/
  * g04/g11 bench entries back to them); use these when cross-engine
  * verifiability matters more than hash speed. Both scale identically: the
  * plans are the same, only the kernel differs.
  */
object Portable {

  /** Distinct word n-gram set (lowercased whitespace tokens; short docs fall
    * back to the whole token string, so every doc has a non-empty set). */
  def wordNgramSet(text: Column, n: Int): Column =
    wordNgramsFromTokens(filter(split(lower(text), "\\s+"),
      t => length(t) > 0), n)

  /** Same n-gram set over an ALREADY-MATERIALIZED token-array column.
    * Compose wordNgramSet only where the consumer evaluates it once per row
    * (e.g. into a persisted set table, as nearDupMd5 does); anywhere the
    * n-gram array is consumed element-wise, project the token array FIRST
    * and call this on the attribute — expression trees cannot let-bind, so
    * the naive composition re-evaluates the split+filter tokenizer inside
    * every lambda element (measured: 21s for 5k sf0.1 docs in q36's
    * explode; 0.6s with the token array projected). */
  def wordNgramsFromTokens(tk: Column, n: Int): Column =
    when(size(tk) < n, array(array_join(tk, " "))).otherwise(
      array_distinct(transform(sequence(lit(1), size(tk) - n + 1), i =>
        array_join(slice(tk, i, lit(n)), " "))))

  /** md5 minhash signature over an element-set column: sig[h] =
    * min over elements of md5(element ":" h) — min over lowercase-hex
    * strings, a total order every engine agrees on. */
  def md5MinhashSig(setCol: Column, numHashes: Int): Column =
    transform(sequence(lit(0), lit(numHashes - 1)), h =>
      array_min(transform(setCol, s => md5(concat(s, lit(":"), h.cast("string"))))))

  /** LSH band bucket strings from a signature: "b<band>|row|row|...". */
  def bandBuckets(sig: Column, bands: Int, rows: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      concat(lit("b"), b.cast("string"), lit("|"),
        array_join(slice(sig, b * lit(rows) + lit(1), lit(rows)), "|")))

  /** Exact Jaccard of two element-set columns (distinct sets), computed the
    * way SQL computes it: |∩| / (|a| + |b| - |∩|), all-int until one double
    * division — bit-identical across engines. */
  def setJaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b))
    inter.cast("double") / (size(a) + size(b) - inter).cast("double")
  }

  /** The md5 near-dup kernel over an element-set column: the (id, bucket)
    * md5-minhash band table and the exact set-Jaccard verifier, both over
    * one plan-cut (id, set) table. */
  private def md5Kernel(docs: DataFrame, idCol: String, setCol: Column,
      threshold: Double, numHashes: Int, bands: Int,
      rows: Int): (DataFrame, DataFrame => DataFrame) = {
    // eager plan-cut leaves: the md5 minhash signature over every element
    // is the twin's dominant cost, and the set table is read by the band
    // explode and by every verification
    val sets = PlanCut("md5_sets")(docs.select(col(idCol).as("id"), setCol.as("v")))
    val keyed = PlanCut("md5_keyed")(sets.select(col("id"),
      explode(bandBuckets(md5MinhashSig(col("v"), numHashes), bands, rows))
        .as("bucket")))
    (keyed, DeltaDedup.verifyBy(sets, setJaccard(_, _) >= threshold))
  }

  /** Portable near-dup over any element-set column: md5-minhash band
    * candidates (capped), exact set-Jaccard verification, CC clustering —
    * DeltaDedup.batch, the call its incremental and delete forms start
    * from. Output (idCol, dup_of) like the production family. */
  def nearDupMd5(spark: SparkSession, docs: DataFrame, idCol: String,
      setCol: Column, threshold: Double, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, maxBucket: Int = 256): DataFrame = {
    val (keyed, verify) = md5Kernel(docs, idCol, setCol, threshold,
      numHashes, bands, rows)
    DeltaDedup.dups(DeltaDedup.batch(spark, keyed, keyed.select("id"), verify,
      maxBucket).assign, idCol)
  }

  /** md5 slice of the id space (~25%) the incremental rows move. */
  private def md5Slice(id: Column): Column =
    substring(md5(id.cast("string")), 1, 1).isin("c", "d", "e", "f")

  /** INCREMENTAL form of the md5 minhash near-dup twin (cross-engine proof
    * row g16): the ~75% of documents outside the md5 slice are the base
    * corpus, deduped by DeltaDedup.batch; the slice is then ATTACHED by
    * DeltaDedup.attach — the same calls the production xxhash path
    * (Dedup.minhashDedupState / minhashNearDupAttach) makes. The DuckDB
    * oracle replays the FULL BATCH twin over the whole table (the g02 SQL):
    * hash equality proves the attach equals a from-scratch dedup in an
    * independent engine. */
  def nearDupMd5Incremental(spark: SparkSession, docs: DataFrame, idCol: String,
      setCol: Column, threshold: Double, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, maxBucket: Int = 256): DataFrame = {
    val (keyed, verify) = md5Kernel(docs, idCol, setCol, threshold,
      numHashes, bands, rows)
    val keyedAll = keyed.withColumn("is_delta", md5Slice(col("id")))
    val keyedB = keyedAll.filter(!col("is_delta"))
    val base = DeltaDedup.batch(spark, keyedB, keyedB.select("id"), verify,
      maxBucket)
    DeltaDedup.dups(DeltaDedup.attach(spark, keyedAll, base.edges, base.assign,
      verify, maxBucket).assign, idCol)
  }

  /** DELETE form of the md5 near-dup twin (cross-engine proof row g17 —
    * the takedown half of the delta algebra): dedups the WHOLE documents
    * table as the committed base (DeltaDedup.batch), then DETACHES the md5
    * slice via DeltaDedup.detach. The DuckDB oracle replays the full-batch
    * g02 SQL over the REMAINING ~75% only: hash equality proves the detach
    * equals a from-scratch dedup of the post-delete corpus. */
  def nearDupMd5Detach(spark: SparkSession, docs: DataFrame, idCol: String,
      setCol: Column, threshold: Double, numHashes: Int = 16, bands: Int = 8,
      rows: Int = 2, maxBucket: Int = 256): DataFrame = {
    val (keyed, verify) = md5Kernel(docs, idCol, setCol, threshold,
      numHashes, bands, rows)
    val ids = keyed.select("id").distinct()
    val base = DeltaDedup.batch(spark, keyed, ids, verify, maxBucket)
    DeltaDedup.dups(DeltaDedup.detach(spark, keyed,
      ids.filter(md5Slice(col("id"))), base.edges, base.assign,
      verify, maxBucket).assign, idCol)
  }

  /** Portable 60-bit SimHash (Charikar bit-vote over whitespace tokens WITH
    * multiplicity, matching expr.SimHash's per-occurrence votes and strict
    * `> 0` majority): token hash = first 15 hex chars of md5 (60 bits — fits
    * a signed long in both engines), packed via a binary string so no
    * column-indexed shifts are needed. */
  def simhash60(text: Column): Column = {
    val tk = filter(split(lower(text), "\\s+"), t => length(t) > 0)
    val hs = transform(tk, t =>
      conv(substring(md5(t), 1, 15), 16, 10).cast("long"))
    val bitsMsbFirst = (59 to 0 by -1).map { b =>
      val vote = aggregate(hs, lit(0), (a, h) =>
        a + when(shiftright(h, b).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1))
      when(vote > 0, lit("1")).otherwise(lit("0"))
    }
    conv(concat(bitsMsbFirst: _*), 2, 10).cast("long")
  }

  /** Portable simhash near-dup: Dedup.simhashDups with the simhash60
    * kernel in 4×15-bit band buckets (any shared band ⇒ candidate;
    * guarantees recall for hamming ≤ 3). */
  def simhashNearDupMd5(spark: SparkSession, docs: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      maxHamming: Int = 3, maxBucket: Int = 256): DataFrame =
    Dedup.simhashDups(spark, docs, idCol, simhash60(col(textCol)),
      bandBits = 15, maxHamming, maxBucket)

  /** Oracle-portable twin of the FLAGSHIP ER pipeline (g01): the same
    * stage sequence as Pipeline.run — latest-snapshot dedup + extraction
    * invariant → mention extraction → dictionary + LSH blocking with the
    * stop-key cap → candidate pairs → context-overlap scoring → CC
    * clustering → cluster sizes — built exclusively from operations an
    * independent SQL engine reproduces bit-identically:
    *
    *  - hashes: md5 only (snapshot tiebreak, minhash signature);
    *  - mention extraction: regexp_extract_all of the Capitalized-run
    *    pattern (both engines' regex engines agree on this pattern), one
    *    DISTINCT (url, norm_key) row per surface — the per-occurrence
    *    offsets/ctx windows of the production Extract.mentions are
    *    deliberately out of the portable surface (xxhash64 mention ids and
    *    position-aware extraction have no SQL twin);
    *  - scoring: the production run scores with the JW/Lev/Jaccard/ctx-cosine
    *    ensemble; the twin's portable stand-in is the size of the
    *    intersection of the two pages' distinct-token sets (>= minShared) —
    *    integer set arithmetic, engine-exact, and on the fixture it is the
    *    same signal the ctx-cosine reads (same-entity pages share >= 4
    *    planted topic words; unrelated pages share ~0.1 filler words in
    *    expectation), so it separates the shared-abbreviation traps the
    *    string features cannot (gen/Synth.scala design notes);
    *  - clustering: DeltaDedup.batch's CC on url strings (keyFn =
    *    identity, the call g15/g18 start from), checked in SQL by the same
    *    recursive-CTE transitive closure as g02-g04/g11.
    *
    * Output: (cluster_id = min url of the component, cluster_size), clusters
    * of size >= 2 only — the shape of SparkEntry.entry. Reference analogue:
    * the full document-processing pipeline,
    * `main_scripts/step9_processing_all_documents.py:123-215`. */
  def erClustersPortable(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame =
    clusterSizes(erComponentsPortable(spark, pages, dict, maxBlock, minShared))

  /** (cluster_id, cluster_size) of the components with >= 2 members, from
    * (url, cluster_id) rows. */
  private def clusterSizes(assign: DataFrame): DataFrame =
    assign.filter(col("url") =!= col("cluster_id"))
      .groupBy("cluster_id")
      .agg((count(lit(1)) + lit(1)).as("cluster_size"))

  /** Node-level output of the portable ER twin: (url, cluster_id) for every
    * non-representative member (the cluster_id is the component's min url) —
    * erClustersPortable aggregates this to sizes; PortableErSpec checks its
    * purity against the planted entity truth.
    *
    * Its token-overlap scorer is why the DuckDB oracle cannot see the
    * production scorer's acronym-only merges (ROADMAP item 1): a page that
    * uses entity 2i's abbreviation for entity 2i+1 (Synth's shared-
    * abbreviation trap) clears `Scoring.MinAcronymJw` against entity 2i's
    * long forms on the acronym alone, while here the pair must share
    * `minShared` page tokens, which the two entities' topic words do not
    * give. So the twin, and the g01/g15/g18 SQL that replays it, never
    * forms those false edges. */
  def erComponentsPortable(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame = {
    val ok = PlanCut("ert_ok")(portableOk(pages))
    val (blk, verify) = erKernel(ok, dict, minShared)
    DeltaDedup.batch(spark, blk, ok.select(col("url").as("id")), verify,
      maxBlock, keyFn = identity).assign.filter(col("url") =!= col("cluster_id"))
  }

  /** s0 of the portable ER twin: latest snapshot per url (md5 tiebreak),
    * extraction invariant, English filter → (url, text). */
  private[ops] def portableOk(pages: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("url")
      .orderBy(col("warc_ts").desc, md5(col("html")).asc)
    val body = regexp_extract(col("html").cast("string"), "<p>(.*)</p>", 1)
    pages.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .filter(col("lang") === "en" &&
        md5(body.cast("binary")) === md5(col("text").cast("binary")))
      .select(col("url"), col("text"))
  }

  /** s1: distinct normalized mention keys per page → (url, nk). */
  private[ops] def portableMen(ok: DataFrame): DataFrame =
    ok.select(col("url"), explode(regexp_extract_all(col("text"),
        lit("[A-Z][A-Za-z0-9]*( [A-Z][A-Za-z0-9]*)*"), lit(0))).as("surface"))
      .filter(length(col("surface")) >= 2)
      .select(col("url"),
        regexp_replace(lower(col("surface")), "[^a-z0-9]+", "").as("nk"))
      .distinct()

  /** s2: dictionary buckets (broadcast ontology join) + md5-minhash LSH
    * buckets over char-3-shingles of the normalized key → (bucket, id). */
  private[ops] def portableBuckets(men: DataFrame, dict: DataFrame): DataFrame = {
    val dictKeys = dict.select(col("entity_id"), explode(col("keys")).as("nk"))
    val dictBlk = men.join(broadcast(dictKeys), Seq("nk"))
      .select(concat(lit("e:"), col("entity_id")).as("bucket"), col("url"))
    val sh3 = when(length(col("nk")) < 3, array(col("nk"))).otherwise(
      array_distinct(transform(sequence(lit(1), length(col("nk")) - 2),
        i => col("nk").substr(i, lit(3)))))
    val lshBlk = men.select(
      explode(bandBuckets(md5MinhashSig(sh3, 16), 8, 2)).as("bucket"),
      col("url"))
    dictBlk.unionByName(lshBlk).distinct().withColumnRenamed("url", "id")
  }

  /** s4 feature input: distinct token set per page → (id = url, v). */
  private[ops] def portableToks(ok: DataFrame): DataFrame =
    ok.select(col("url").as("id"), graft.functions.token_set(col("text")).as("v"))

  /** s4: portable context-overlap scorer over (id_a, id_b) candidates. */
  private[ops] def portableVerify(toks: DataFrame,
      minShared: Int): DataFrame => DataFrame =
    DeltaDedup.verifyBy(toks, (a, b) => size(array_intersect(a, b)) >= minShared)

  /** The ER twin's kernel for DeltaDedup over plan-cut latest-snapshot pages
    * `ok`: the plan-cut (bucket, id = url) dict+LSH block table and the
    * token-overlap verifier. */
  private def erKernel(ok: DataFrame, dict: DataFrame,
      minShared: Int): (DataFrame, DataFrame => DataFrame) = {
    (PlanCut("ert_blocks")(portableBuckets(portableMen(ok), dict)),
      portableVerify(PlanCut("ert_toks")(portableToks(ok)), minShared))
  }

  /** DELETE form of the portable ER twin (cross-engine proof row g18 — the
    * takedown half of the ER delta algebra): the FULL fixture is the
    * committed base (DeltaDedup.batch); the md5 url slice is detached via
    * DeltaDedup.detach instantiated with the twin's combined dict+LSH
    * bucket table and its pair-intrinsic token-overlap verifier (urls pass
    * keyFn=identity — they are already totally-ordered CC keys). The DuckDB
    * oracle replays the g01 FULL-BATCH SQL over the REMAINING urls only:
    * hash equality proves detach == a from-scratch run of the post-delete
    * corpus. Output shape matches g01 (cluster_id, cluster_size). */
  def erClustersPortableDetach(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame = {
    val ok = PlanCut("ert_ok")(portableOk(pages))
    val (blk, verify) = erKernel(ok, dict, minShared)
    val urls = ok.select(col("url").as("id"))
    val base = DeltaDedup.batch(spark, blk, urls, verify, maxBlock,
      keyFn = identity)
    PlanCut("ert_sizes")(clusterSizes(DeltaDedup.detach(spark, blk,
      urls.filter(md5Slice(col("id"))), base.edges, base.assign, verify,
      maxBlock, keyFn = identity).assign))
  }

  /** INCREMENTAL form of the portable ER twin (the cross-engine proof row
    * for the ER delta-maintenance algebra, g15): the fixture's urls outside
    * the md5 slice (~75%) are the base corpus, resolved by DeltaDedup.batch
    * exactly as erComponentsPortable would; the slice (~25%) is then
    * ATTACHED by DeltaDedup.attach, touching only delta-adjacent state —
    * the call shape of erClustersPortableDetach with the bucket table
    * tagged is_delta. The DuckDB oracle replays the FULL BATCH twin over the
    * whole fixture (the g01 SQL): hash equality IS the proof that the
    * incremental algebra reproduces the batch result in an independent
    * engine.
    *
    * The delta is inserts-only by construction (url-level split), which
    * still exercises every structural case the attach algebra has: new
    * cross-cluster links (merges), survivors via untouched buckets,
    * isolated inserts, and bucket eligibility flips (a bucket crossing the
    * stop-key cap on insert DROPS its existing candidates — edge removal,
    * cluster splits). No fixture bucket crosses the default cap of 256;
    * PortableErSpec runs a small cap where some do. Snapshot-update deltas
    * are exercised engine-side by IncrementalSpec against the production
    * pipeline (ops/Incremental). */
  def erClustersPortableIncremental(spark: SparkSession, pages: DataFrame,
      dict: DataFrame, maxBlock: Int = 256, minShared: Int = 3): DataFrame = {
    val ok = PlanCut("ert_ok")(portableOk(pages))
    val (blk, verify) = erKernel(ok, dict, minShared)
    val blkAll = blk.withColumn("is_delta", md5Slice(col("id")))
    val base = DeltaDedup.batch(spark, blkAll.filter(!col("is_delta")),
      ok.select(col("url").as("id")).filter(!md5Slice(col("id"))), verify,
      maxBlock, keyFn = identity)
    PlanCut("ert_sizes")(clusterSizes(DeltaDedup.attach(spark, blkAll,
      base.edges, base.assign, verify, maxBlock, keyFn = identity).assign))
  }

  /** Axis-aligned sign-LSH bucket: the sign pattern of the first nPlanes
    * embedding components as a bit string — a legitimate (if coarse)
    * random-hyperplane bucket that any SQL engine reproduces exactly. */
  def axisSignBucket(vec: Column, nPlanes: Int): Column =
    array_join(transform(slice(vec, 1, nPlanes), x =>
      when(x >= 0, lit("1")).otherwise(lit("0"))), "")

  /** Bucket-partitioned write of (idCol, vecCol) keyed by the engine-
    * portable axis-sign bucket: Ann.writeBucketedBy with the portable
    * kernel. The partition value is 'b'-prefixed so the bit string
    * round-trips as a STRING through Spark's partition-column type
    * inference (a bare "001011" would be read back as the integer 1011). */
  def writeAxisBucketed(embs: DataFrame, path: String, nPlanes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): Unit =
    Ann.writeBucketedBy(embs.select(col(idCol), col(vecCol)), path,
      concat(lit("b"), axisSignBucket(col(vecCol), nPlanes)))

  /** Partition-pruned multi-probe cosine top-k over a writeAxisBucketed
    * table: scans ONLY the query's bucket plus its nPlanes hamming-1
    * neighbors — (1+nPlanes)/2^nPlanes of the data — via a partition
    * filter (isin over literal bucket strings). The oracle replays the
    * same probe as a bucket-predicate filter (hamming(bucket, qb) <= 1)
    * over a full scan: identical semantics, so the pruned read path itself
    * is hash-checked end-to-end (CORRECTNESS g14). */
  def axisBucketedTopK(spark: SparkSession, path: String,
      query: Array[Float], k: Int, nPlanes: Int = 6,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val qb = query.take(nPlanes).map(x => if (x >= 0) '1' else '0').mkString
    val probes = ("b" + qb) +: (0 until nPlanes).map(i =>
      "b" + qb.updated(i, if (qb(i) == '1') '0' else '1'))
    Ann.probeTopK(spark, path, probes, query, k, idCol, vecCol)
  }

  /** Portable embedding near-dup: Dedup.embeddingDups with the axis-sign
    * bucket kernel — axis-sign buckets (capped), cosine-verified
    * (≥ threshold), CC-clustered. */
  def embeddingNearDupPortable(spark: SparkSession, embs: DataFrame,
      idCol: String = "vec_id", vecCol: String = "embedding",
      threshold: Double = 0.4, nPlanes: Int = 6,
      maxBucket: Int = 256): DataFrame =
    Dedup.embeddingDups(spark, embs, idCol, vecCol,
      axisSignBucket(col(vecCol), nPlanes), threshold, maxBucket)
}
