package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions._

import graft.expr.SignBucket
import graft.functions.cosine_sim

/** Approximate-nearest-neighbor search over an embedding column
  * (`embeddings(vec_id, embedding: ARRAY<FLOAT>, label)`).
  *
  * Two tiers (training-data pipeline ops):
  *  - brute-force cosine top-k: one scan + TakeOrderedAndProject — the
  *    correctness baseline, O(n·d), no shuffle beyond the final top-k;
  *  - LSH-bucketed: random-hyperplane sign buckets (hyperplanes derived
  *    deterministically from the seed — no stored model), probing the query's
  *    bucket plus all hamming-1 neighbor buckets. At 100 TB the bucketed scan
  *    prunes to ~ (1+nPlanes)/2^nPlanes of the data; bucket id is a pure
  *    column expression so partition pruning applies when the table is
  *    written bucketed by it.
  *
  * Reference analogue: the reference ranks mention embeddings against concept
  * embeddings with dense ndarray math in one process
  * (`main_scripts/sent_bert_emb_viz_util.py:560-613`); this is the
  * distributed, index-free re-expression.
  */
object Ann {

  /** Deterministic random-hyperplane sign bucket (0 .. 2^nPlanes-1).
    * Plane p's component d = ±1 from the parity of xxhash64(seed, p, d) —
    * computed on the fly, identical on every executor. Codegen'd custom
    * expression (graft.expr.SignBucketExpr): the former aggregate/zip_with
    * built-in composition was interpreted per element and dominated the
    * bucketing pass at high plane x dim counts (2.3s for 5000 docs at
    * 12x256). The driver-side bucketOf calls the same kernel
    * (graft.expr.SignBucket.bucket) on the literal query. */
  def signBucket(vec: Column, nPlanes: Int, seed: Long): Column =
    graft.functions.sign_bucket(vec, nPlanes, seed)

  /** Exact brute-force cosine top-k against a literal query vector — also
    * the scoring tail of every pruned read below: each one filters `embs`
    * to its probed rows and ranks what is left here. */
  def bruteForceTopK(embs: DataFrame, query: Array[Float], k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = array(query.map(lit): _*)
    embs.select(col(idCol),
        round(cosine_sim(col(vecCol), q), 6).as("cos"))
      .orderBy(col("cos").desc, col(idCol).asc)
      .limit(k)
  }

  /** The query's sign bucket plus its nPlanes hamming-1 neighbors. */
  private def probesOf(query: Array[Float], nPlanes: Int, seed: Long): Seq[Int] = {
    val qBucket = bucketOf(query, nPlanes, seed)
    qBucket +: (0 until nPlanes).map(b => qBucket ^ (1 << b))
  }

  /** LSH-bucketed top-k: scan only rows whose sign bucket is the query's
    * bucket or differs by one bit (multi-probe). Recall is tested against
    * bruteForceTopK on the fixture. */
  def lshTopK(embs: DataFrame, query: Array[Float], k: Int,
      nPlanes: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    bruteForceTopK(embs.filter(signBucket(col(vecCol), nPlanes, seed)
      .isin(probesOf(query, nPlanes, seed): _*)), query, k, idCol, vecCol)

  /** IVF-style coarse quantization bucket: the (1-based) index of the
    * maximum component among the first m — a deterministic, engine-portable
    * centroid assignment (every SQL engine computes the same argmax), so the
    * IVF probe is fully oracle-checkable, unlike the xxhash sign planes. */
  def ivfBucket(vec: Column, m: Int): Column =
    array_position(slice(vec, 1, m), array_max(slice(vec, 1, m)))

  /** IVF top-k: scan ONLY the query's coarse bucket (1/m of the data in
    * expectation), exact cosine within it. The coarse list is the scale
    * path: written `partitionBy(bucket)` the probe is a partition-pruned
    * read, like lshTopKBucketed. Baseline recall trade: one probe list. */
  def ivfTopK(embs: DataFrame, query: Array[Float], k: Int, m: Int = 8,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val head = query.take(m)
    val qBucket = head.indexOf(head.max) + 1 // first-index-of-max, 1-based
    bruteForceTopK(embs.filter(ivfBucket(col(vecCol), m) === qBucket),
      query, k, idCol, vecCol)
  }

  /** Materialize the embeddings table PARTITIONED BY sign bucket: the
    * "write bucketed, get pruning" scale path — a probed read then scans
    * only (1 + nPlanes) of the 2^nPlanes partition directories instead of
    * the full table (AnnTextOpsSpec asserts selectedPartitions < total).
    * At 100 TB this is the difference between an O(n) scan per query and a
    * ~((1+nPlanes)/2^nPlanes)·n probe. */
  def writeBucketed(embs: DataFrame, path: String, nPlanes: Int = 8,
      seed: Long = 42L, vecCol: String = "embedding"): Unit =
    writeBucketedBy(embs, path, signBucket(col(vecCol), nPlanes, seed))

  /** The bucket-partitioned write, for any bucket kernel: `embs` plus a
    * `bucket` partition column. Explicit-count repartition by the partition
    * column: per-file creation (open + footer + close) is the measured cost
    * of a 2^nPlanes-dir write (5.2s of g12's 5.6s at sf0.1 was ONE task
    * sequentially creating 252 files), so spread the buckets over the
    * cores. The explicit count matters: a bare repartition(col) of a small
    * table is AQE-coalesced back to one task. Each bucket hashes to exactly
    * one task, so every dir still holds one file (guide §6 file sizing). */
  private[ops] def writeBucketedBy(embs: DataFrame, path: String,
      bucket: Column): Unit =
    embs.withColumn("bucket", bucket)
      .repartition(embs.sparkSession.sparkContext.defaultParallelism,
        col("bucket"))
      .write.mode("overwrite").partitionBy("bucket").parquet(path)

  /** LSH top-k over a bucket-partitioned table written by writeBucketed:
    * the bucket filter is a partition filter, so the scan reads only the
    * probed directories (verified by the pruning test). Must be called with
    * the SAME nPlanes/seed as the write. */
  def lshTopKBucketed(spark: SparkSession, path: String,
      query: Array[Float], k: Int, nPlanes: Int = 8, seed: Long = 42L,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    probeTopK(spark, path, probesOf(query, nPlanes, seed), query, k, idCol, vecCol)

  /** The pruned probe read, for any bucket kernel: cosine top-k over only
    * the `probes` partitions of a writeBucketedBy table. */
  private[ops] def probeTopK(spark: SparkSession, path: String, probes: Seq[Any],
      query: Array[Float], k: Int, idCol: String, vecCol: String): DataFrame =
    bruteForceTopK(spark.read.parquet(path).filter(col("bucket").isin(probes: _*)),
      query, k, idCol, vecCol)

  /** Driver-side bucket of a literal query vector: the signBucket kernel
    * itself, called on the query as ArrayData. */
  def bucketOf(query: Array[Float], nPlanes: Int, seed: Long): Int =
    SignBucket.bucket(ArrayData.toArrayData(query), nPlanes, seed)
}
