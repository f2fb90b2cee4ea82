package graft

import org.apache.spark.sql.functions._

import graft.ops.Dedup

/** Dedup family tests on crafted documents with planted exact and near
  * duplicates. */
class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "the quick brown fox jumps over the lazy dog and then " +
    "runs far away into the deep green forest while birds sing overhead"

  private def docs() = Seq(
    (0L, base),
    (1L, base), // exact dup of 0
    (2L, base.replace("quick", "quikc")), // near dup of 0
    (3L, base.replace("lazy", "sleepy").replace("green", "dark")), // near-ish
    (4L, "completely different text about cooking pasta with tomato sauce " +
      "and fresh basil leaves from the garden in summer evenings italy"),
    (5L, "yet another unrelated document discussing quantum computing and " +
      "error correction codes on superconducting hardware platforms today"))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps min id") {
    val out = Dedup.exact(docs()).collect()
    out.length shouldBe 5 // 6 docs, one exact dup collapsed
    val dupRow = out.find(_.getAs[Long]("dup_count") == 2L).get
    dupRow.getAs[Long]("doc_id") shouldBe 0L
  }

  test("minhash near-dup links exact+near duplicates, not unrelated docs") {
    val dups = Dedup.minhashNearDup(spark, docs(), threshold = 0.7)
      .as[(Long, Long)].collect().toMap
    dups(1L) shouldBe 0L
    dups(2L) shouldBe 0L
    dups.keySet should not contain 4L
    dups.keySet should not contain 5L
  }

  test("simhash near-dup catches small edits within hamming budget") {
    val dups = Dedup.simhashNearDup(spark, docs(), maxHamming = 6)
      .as[(Long, Long)].collect().toMap
    dups(1L) shouldBe 0L // identical => hamming 0
    dups.keySet should not contain 4L
    dups.keySet should not contain 5L
  }

  test("ngram jaccard near-dup verifies on word 3-grams") {
    val corpus = new Dedup.NearDupCorpus(spark, docs())
    val dups = try corpus.ngram(threshold = 0.6).as[(Long, Long)].collect().toMap
      finally corpus.close()
    dups(1L) shouldBe 0L
    dups.keySet should not contain 4L
  }

  test("embedding near-dup links only high-cosine vectors") {
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.1f)), // near dup of 0
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val dups = Dedup.embeddingNearDup(spark, embs, threshold = 0.95)
      .as[(Long, Long)].collect().toMap
    dups.get(1L) shouldBe Some(0L)
    dups.keySet should not contain 2L
    dups.keySet should not contain 3L
  }

  test("embedding near-dup bucket cap drops a planted hot bucket, keeps the rest") {
    // 20 identical vectors = one hot sign bucket (boilerplate embeddings);
    // plus one true near-dup pair in a different direction
    val hot = (10L to 29L).map(i => (i, Array(1.0f, 0.0f, 0.0f, 0.1f)))
    val pair = Seq(
      (0L, Array(0.0f, 0.01f, 1.0f, 0.0f)),
      (1L, Array(0.0f, 0.0f, 1.0f, 0.0f)))
    val embs = (hot ++ pair).toDF("vec_id", "embedding")
    val capped = Dedup.embeddingNearDup(spark, embs, threshold = 0.95, maxBucket = 8)
      .as[(Long, Long)].collect().toMap
    // the above-threshold pair OUTSIDE the hot bucket survives the cap
    capped.get(1L) shouldBe Some(0L)
    // the hot bucket is dropped whole (stop-key rule): no dup rows from it
    capped.keySet.intersect((10L to 29L).toSet) shouldBe Set.empty
    // and it is the CAP that excluded it, not the verifier
    val uncapped = Dedup.embeddingNearDup(spark, embs, threshold = 0.95, maxBucket = 100)
      .as[(Long, Long)].collect().toMap
    uncapped.keySet.intersect((10L to 29L).toSet) shouldBe (11L to 29L).toSet
    uncapped.get(1L) shouldBe Some(0L)
  }

  test("simhash near-dup bucket cap drops a planted hot bucket, keeps the rest") {
    // 20 identical boilerplate texts = one hot bucket in every band
    val hot = (10L to 29L).map(i => (i,
      "subscribe to our newsletter for the latest offers and news every week"))
    // 21 distinct tokens, each three times: every bit's vote is an odd
    // multiple of 3, so one appended token cannot flip it — the pair is a
    // near-dup at hamming 0 under any per-occurrence simhash kernel
    val text = Seq.fill(3)("rare disease registry patients report fatigue " +
      "muscle weakness and slow nerve conduction in early childhood onset " +
      "cases across several european clinics").mkString(" ")
    val docs = (hot ++ Seq((0L, text), (1L, text + " today")))
      .toDF("doc_id", "text")
    val kernels = Seq[Int => org.apache.spark.sql.DataFrame](
      cap => Dedup.simhashNearDup(spark, docs, maxBucket = cap),
      cap => graft.ops.Portable.simhashNearDupMd5(spark, docs, maxBucket = cap))
    kernels.foreach { run =>
      val capped = run(8).as[(Long, Long)].collect().toMap
      // the pair OUTSIDE the hot bucket survives the cap
      capped.get(1L) shouldBe Some(0L)
      // the hot bucket is dropped whole (stop-key rule): no dup rows from it
      capped.keySet.intersect((10L to 29L).toSet) shouldBe Set.empty
      // and it is the CAP that excluded it, not the verifier
      val uncapped = run(100).as[(Long, Long)].collect().toMap
      uncapped.keySet.intersect((10L to 29L).toSet) shouldBe (11L to 29L).toSet
      uncapped.get(1L) shouldBe Some(0L)
    }
  }

  test("portable md5 twins find the same planted dups as the production family") {
    import graft.ops.Portable
    val mh = Portable.nearDupMd5(spark, docs(), "doc_id",
      graft.ops.Dedup.charShingles(lower(col("text")), 5), threshold = 0.7)
      .as[(Long, Long)].collect().toMap
    mh(1L) shouldBe 0L
    mh(2L) shouldBe 0L
    mh.keySet should not contain 4L
    val ng = Portable.nearDupMd5(spark, docs(), "doc_id",
      Portable.wordNgramSet(col("text"), 3), threshold = 0.6)
      .as[(Long, Long)].collect().toMap
    ng(1L) shouldBe 0L
    ng.keySet should not contain 4L
    val sim = Portable.simhashNearDupMd5(spark, docs(), maxHamming = 6)
      .as[(Long, Long)].collect().toMap
    sim(1L) shouldBe 0L
    sim.keySet should not contain 4L
    val embs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.1f)),
      (1L, Array(0.99f, 0.01f, 0.0f, 0.1f)),
      (2L, Array(-1.0f, 1.0f, 0.0f, 0.0f)))
      .toDF("vec_id", "embedding")
    val ed = Portable.embeddingNearDupPortable(spark, embs,
      threshold = 0.95, nPlanes = 4).as[(Long, Long)].collect().toMap
    ed.get(1L) shouldBe Some(0L)
    ed.keySet should not contain 2L
  }

  test("charShingles matches the definition") {
    val r = Seq("abcdef").toDF("t")
      .select(Dedup.charShingles(col("t"), 3)).as[Seq[String]].head()
    r.toSet shouldBe Set("abc", "bcd", "cde", "def")
    val short = Seq("ab").toDF("t")
      .select(Dedup.charShingles(col("t"), 3)).as[Seq[String]].head()
    short shouldBe Seq("ab")
  }
}
