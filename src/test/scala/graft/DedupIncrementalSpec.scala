package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Production incremental near-dup (Dedup.minhashNearDupAttach — the xxhash
  * DeltaDedup.attach instantiation) must equal the from-scratch batch
  * (Dedup.minhashNearDup) exactly: on the driver's real sf0.01 documents
  * table, on a constructed stop-key cap-crossing (the survivor-check branch
  * tiny corpora never hit), and under composition through a parquet-
  * committed state (attach ∘ attach == one batch). The md5-twin flavor of
  * the same algebra is oracle-checked cross-engine (CORRECTNESS row g16);
  * this spec is the production-kernel pin. */
class DedupIncrementalSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")
  private def docs() = spark.read.parquet(s"$sfDir/documents.parquet")

  private def dupSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("doc_id").cast("long"), col("dup_of").cast("long"))
      .as[(Long, Long)].collect().toSet

  private def edgeSet(df: DataFrame): Set[(Long, Long)] =
    df.select(col("id_a").cast("long"), col("id_b").cast("long"))
      .as[(Long, Long)].collect().toSet

  test("attach == batch on sf0.01 documents (25% delta)") {
    assume(Files.exists(java.nio.file.Paths.get(s"$sfDir/documents.parquet")))
    val all = docs()
    val isDelta = pmod(xxhash64(col("doc_id")), lit(4)) === 0
    val state = Dedup.minhashDedupState(spark, all.filter(!isDelta))
    val res = Dedup.minhashNearDupAttach(spark, state, all, all.filter(isDelta))
    dupSet(res.dups) shouldBe dupSet(Dedup.minhashNearDup(spark, all))
    // the merged state must equal a from-scratch build over base ∪ delta
    val batchState = Dedup.minhashDedupState(spark, all)
    edgeSet(res.state.edges) shouldBe edgeSet(batchState.edges)
  }

  test("stop-key cap crossing dissolves the over-cap bucket's base pairs") {
    // base: 3 byte-identical docs (every band bucket size 3 — eligible at
    // maxBucket=3, so all 3 pairs are base edges) + 2 unrelated docs.
    // delta: 2 more identical copies → every one of their buckets crosses
    // the cap (5 > 3), no other bucket co-generates the old pairs (identical
    // docs share ALL bands), so attach must retract all 3 edges and
    // dissolve the cluster — exactly what the from-scratch batch (which
    // sees only over-cap buckets) produces: no dup rows for the clones.
    val clone = ("graft dedup cap crossing corpus " * 8).trim
    val base = Seq(
      (1L, clone), (2L, clone), (3L, clone),
      (10L, "completely unrelated text about partition pruning in parquet"),
      (11L, "another singleton document with its own distinct content here"))
      .toDF("doc_id", "text")
    val delta = Seq((4L, clone), (5L, clone)).toDF("doc_id", "text")
    val all = base.unionByName(delta)
    val state = Dedup.minhashDedupState(spark, base, maxBucket = 3)
    // sanity: the base really clustered the clones before the crossing
    dupSet(state.assign.filter(col("url") =!= col("cluster_id"))
      .select(col("url").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("dup_of"))) shouldBe
      Set((2L, 1L), (3L, 1L))
    val res = Dedup.minhashNearDupAttach(spark, state, all, delta, maxBucket = 3)
    res.removed.count() shouldBe 3L
    dupSet(res.dups) shouldBe dupSet(Dedup.minhashNearDup(spark, all,
      maxBucket = 3))
  }

  test("detach == batch over the remaining corpus on sf0.01 (25% delete)") {
    assume(Files.exists(java.nio.file.Paths.get(s"$sfDir/documents.parquet")))
    val all = docs()
    val isDeleted = pmod(xxhash64(col("doc_id")), lit(4)) === 0
    val state = Dedup.minhashDedupState(spark, all)
    val res = Dedup.minhashNearDupDetach(spark, state, all.filter(!isDeleted),
      all.filter(isDeleted).select("doc_id"))
    dupSet(res.dups) shouldBe
      dupSet(Dedup.minhashNearDup(spark, all.filter(!isDeleted)))
    // merged state must equal a from-scratch build over the remaining corpus
    val batchState = Dedup.minhashDedupState(spark, all.filter(!isDeleted))
    edgeSet(res.state.edges) shouldBe edgeSet(batchState.edges)
  }

  test("stop-key re-entry: deleting below the cap regenerates the bucket's pairs") {
    // base: 5 byte-identical docs at maxBucket=3 — every shared bucket is
    // over-cap (5 > 3), so the batch generates NO pairs and the clones are
    // singletons. delete 2 clones -> every bucket drops to 3 (eligible):
    // detach must ADD all 3 remaining pairs and cluster the remaining
    // clones, exactly what the from-scratch batch over the remaining corpus
    // produces.
    val clone = ("graft dedup cap reentry corpus " * 8).trim
    val base = Seq(
      (1L, clone), (2L, clone), (3L, clone), (4L, clone), (5L, clone),
      (10L, "completely unrelated text about partition pruning in parquet"))
      .toDF("doc_id", "text")
    val state = Dedup.minhashDedupState(spark, base, maxBucket = 3)
    // sanity: over-cap buckets generated nothing in the base
    dupSet(state.assign.filter(col("url") =!= col("cluster_id"))
      .select(col("url").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("dup_of"))) shouldBe Set.empty
    val remaining = base.filter(col("doc_id") < 4 || col("doc_id") === 10L)
    val res = Dedup.minhashNearDupDetach(spark, state, remaining,
      Seq(4L, 5L).toDF("doc_id"), maxBucket = 3)
    res.removed.count() shouldBe 0L
    dupSet(res.dups) shouldBe Set((2L, 1L), (3L, 1L))
    dupSet(res.dups) shouldBe dupSet(Dedup.minhashNearDup(spark, remaining,
      maxBucket = 3))
  }

  test("update = detach ∘ attach through a committed state == one batch") {
    assume(Files.exists(java.nio.file.Paths.get(s"$sfDir/documents.parquet")))
    val all = docs()
    // update 20% of docs: new text = old text reversed (changes shingles)
    val isUpdated = pmod(xxhash64(col("doc_id")), lit(5)) === 0
    val updated = all.withColumn("text",
      when(isUpdated, reverse(col("text"))).otherwise(col("text")))
    val dir = Files.createTempDirectory("graft-dedupupdate").toString
    try {
      val s0 = Dedup.minhashDedupState(spark, all)
      // detach the old rows, commit, attach the new rows
      val r1 = Dedup.minhashNearDupDetach(spark, s0, all.filter(!isUpdated),
        all.filter(isUpdated).select("doc_id"))
      Dedup.commitDedupState(r1.state, dir)
      val r2 = Dedup.minhashNearDupAttach(spark,
        Dedup.dedupStateFromDir(spark, dir), updated,
        updated.filter(isUpdated))
      dupSet(r2.dups) shouldBe dupSet(Dedup.minhashNearDup(spark, updated))
    } finally
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }

  test("composition: attach ∘ attach through a committed state == one batch") {
    assume(Files.exists(java.nio.file.Paths.get(s"$sfDir/documents.parquet")))
    val all = docs()
    val part = pmod(xxhash64(col("doc_id")), lit(5))
    val d1 = part === 0
    val d2 = part === 1
    val dir = Files.createTempDirectory("graft-deltadedup").toString
    try {
      val s0 = Dedup.minhashDedupState(spark, all.filter(!d1 && !d2))
      val r1 = Dedup.minhashNearDupAttach(spark, s0,
        all.filter(!d2), all.filter(d1))
      Dedup.commitDedupState(r1.state, dir)
      val r2 = Dedup.minhashNearDupAttach(spark,
        Dedup.dedupStateFromDir(spark, dir), all, all.filter(d2))
      dupSet(r2.dups) shouldBe dupSet(Dedup.minhashNearDup(spark, all))
    } finally
      scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
  }
}
