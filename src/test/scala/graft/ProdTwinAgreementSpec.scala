package graft

import org.apache.spark.sql.functions._

import graft.ops.{Dedup, Portable}

/** The timed path must carry its own correctness evidence (round-3 advice):
  * Bench measures the PRODUCTION near-dup variants (xxhash kernels) under the
  * same names whose oracle rows Verify earns with the md5 portable twins.
  * This spec closes the gap for g02/g04 by asserting the two families —
  * different hash kernels, same dataflow and the same EXACT verification —
  * produce identical final (doc_id, dup_of) clusters on the driver's real
  * sf0.01 documents table. (g03/g11 twins differ semantically — 60- vs
  * 64-bit simhash, axis- vs hashed-plane buckets on different inputs — and
  * stay pinned by DedupSpec's planted-duplicate agreement instead.) */
class ProdTwinAgreementSpec extends SparkSpec {
  import spark.implicits._

  private val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.01")

  private def docs() = spark.read.parquet(s"$sfDir/documents.parquet")

  override def withFixture(test: NoArgTest) = {
    assume(java.nio.file.Files.exists(
      java.nio.file.Paths.get(s"$sfDir/documents.parquet")), s"no $sfDir")
    super.withFixture(test)
  }

  test("g02: production minhash near-dup == md5 twin on sf0.01 documents") {
    val corpus = new Dedup.NearDupCorpus(spark, docs())
    val prod = try corpus.minhash().as[(Long, Long)].collect().toSet
      finally corpus.close()
    val twin = Portable.nearDupMd5(spark, docs(), "doc_id",
        Dedup.charShingles(lower(col("text")), 5), threshold = 0.8)
      .as[(Long, Long)].collect().toSet
    prod shouldBe twin
  }

  test("g04: production ngram near-dup == md5 twin on sf0.01 documents") {
    val corpus = new Dedup.NearDupCorpus(spark, docs())
    val prod = try corpus.ngram().as[(Long, Long)].collect().toSet
      finally corpus.close()
    val twin = Portable.nearDupMd5(spark, docs(), "doc_id",
        Portable.wordNgramSet(col("text"), 3), threshold = 0.7)
      .as[(Long, Long)].collect().toSet
    prod shouldBe twin
  }

  // maxBucket = 3 makes the stop-key cap bind on sf0.01: 63 md5 band
  // buckets are eligible (1 < n <= 3) over the ~75% of documents outside
  // the md5 slice and over-cap over all documents, so the g16 attach must
  // retract their base pairs and the g17 detach must regenerate them (a cap
  // of 8 crosses 18 buckets but leaves the final clusters unchanged). At
  // the default 256 no bucket crosses the cap.
  private val Caps = Seq(256, 3)

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.as[(Long, Long)].collect().toSet

  private def shingles = Dedup.charShingles(lower(col("text")), 5)

  test("g16: incremental minhash near-dup twin == full-batch twin on sf0.01") {
    // the g16 contract: attaching the deterministic ~25% delta slice to the
    // ~75% base dedup state reproduces the from-scratch dedup exactly (the
    // DuckDB oracle replays the batch SQL; this is the engine-side pin)
    val batches = Caps.map { cap =>
      val batch = pairs(Portable.nearDupMd5(spark, docs(), "doc_id", shingles,
        threshold = 0.8, maxBucket = cap))
      val incr = pairs(Portable.nearDupMd5Incremental(spark, docs(), "doc_id",
        shingles, threshold = 0.8, maxBucket = cap))
      withClue(s"maxBucket=$cap: ") { incr shouldBe batch }
      batch
    }
    // the small cap really binds
    batches(1) should not be batches(0)
  }

  test("g17: detach twin == full-batch twin over the remaining corpus") {
    // the g17 contract: detaching the deterministic ~25% md5 slice from the
    // full-table base state reproduces a from-scratch dedup of the
    // remaining ~75% exactly (the DuckDB oracle replays the batch SQL over
    // the filtered corpus; this is the engine-side pin)
    val remaining = docs().filter(
      !substring(md5(col("doc_id").cast("string")), 1, 1)
        .isin("c", "d", "e", "f"))
    val batches = Caps.map { cap =>
      val batch = pairs(Portable.nearDupMd5(spark, remaining, "doc_id",
        shingles, threshold = 0.8, maxBucket = cap))
      val det = pairs(Portable.nearDupMd5Detach(spark, docs(), "doc_id",
        shingles, threshold = 0.8, maxBucket = cap))
      withClue(s"maxBucket=$cap: ") { det shouldBe batch }
      batch
    }
    batches(1) should not be batches(0)
  }
}
