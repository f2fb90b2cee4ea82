package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Blocking

/** Blocking unit tests: dict keys, block cap (stop-key rule), and the
  * salted self-join preserving the exact pair set (SURVEY.md §5.2). */
class BlockingSpec extends SparkSpec {
  import spark.implicits._

  private def mentionsDf(rows: (String, String)*): DataFrame =
    rows.toSeq.toDF("url", "surface")
      .withColumn("ctx", col("surface"))
      .withColumn("norm_key", graft.functions.norm_alnum(col("surface")))
      .withColumn("mention_id", xxhash64(col("url"), col("surface")))

  private def dictDf(rows: (String, String, Seq[String])*): DataFrame =
    rows.toSeq.toDF("entity_id", "canonical", "keys")
      .withColumn("aliases", col("keys"))

  test("dictionary blocking joins normalized surfaces to exploded keys") {
    val mentions = mentionsDf(
      ("u1", "Alpha Beta"), ("u2", "alphabeta"), ("u3", "Gamma Delta"),
      ("u4", "Unknown Thing"))
    val dict = dictDf(
      ("E1", "Alpha Beta", Seq("alphabeta")),
      ("E2", "Gamma Delta", Seq("gammadelta", "gd")))
    val blocks = Blocking.dictBlocks(mentions, dict)
      .select("block_key", "url").as[(String, String)].collect().toSet
    blocks shouldBe Set(("e:E1", "u1"), ("e:E1", "u2"), ("e:E2", "u3"))
  }

  test("a key shared by two entities blocks the mention into both") {
    val mentions = mentionsDf(("u1", "HD"))
    val dict = dictDf(
      ("E1", "Huntington Disease", Seq("hd", "huntingtondisease")),
      ("E2", "Hodgkin Disease", Seq("hd", "hodgkindisease")))
    val keys = Blocking.dictBlocks(mentions, dict)
      .select("block_key").as[String].collect().toSet
    keys shouldBe Set("e:E1", "e:E2")
  }

  test("block cap keeps top-k of oversized blocks (graceful stop-key rule)") {
    val blocks = ((1 to 10).map(i => ("big", s"u$i")) ++ Seq(("small", "u1"), ("small", "u2")))
      .toDF("block_key", "url")
      .withColumn("block_id", xxhash64(col("block_key")))
      .withColumn("mention_id", xxhash64(col("url")))
    val capped = Blocking.capBlocks(blocks, maxBlock = 5)
    // round-2 semantics dropped "big" whole; the ranked cap keeps exactly
    // maxBlock deterministic members, so popular entities degrade gracefully
    val byKey = capped.groupBy("block_key").count()
      .as[(String, Long)].collect().toMap
    byKey shouldBe Map("big" -> 5L, "small" -> 2L)
    // block_size stays the TRUE pre-cap size (the prevalence signal)
    capped.filter(col("block_key") === "big")
      .select("block_size").distinct().as[Long].collect() shouldBe Array(10L)
    // the kept subset is deterministic (content-derived rank)
    val again = Blocking.capBlocks(blocks, maxBlock = 5)
      .select("block_key", "url").as[(String, String)].collect().toSet
    capped.select("block_key", "url").as[(String, String)].collect().toSet shouldBe again
    // and the drop counter sees exactly the capped-away mentions
    Blocking.cappedDropCount(capped, maxBlock = 5) shouldBe 5L
  }

  test("capped pair set is a subset of the uncapped pair set") {
    val blocks = ((1 to 12).map(i => ("hot", f"h$i%02d")) ++
      (1 to 4).map(i => ("cold", f"c$i%02d")))
      .toDF("block_key", "url")
      .withColumn("block_id", xxhash64(col("block_key")))
      .withColumn("mention_id", xxhash64(col("url")))
    def pairsOf(maxBlock: Int) =
      Blocking.candidatePairs(Blocking.capBlocks(blocks, maxBlock))
        .select("url_a", "url_b").as[(String, String)].collect().toSet
    val capped = pairsOf(6)
    val full = pairsOf(100)
    capped.subsetOf(full) shouldBe true
    // cold block untouched, hot block reduced to C(6,2) pairs
    capped.count(_._1.startsWith("c")) shouldBe 4 * 3 / 2
    capped.count(_._1.startsWith("h")) shouldBe 6 * 5 / 2
  }

  test("salted pair generation emits exactly the plain pair set, once each") {
    val blocks = ((1 to 30).map(i => ("hot", f"u$i%02d")) ++
      (1 to 5).map(i => ("cold", f"c$i%02d")))
      .toDF("block_key", "url")
      .withColumn("block_id", xxhash64(col("block_key")))
      .withColumn("mention_id", xxhash64(col("url")))
      .withColumn("block_size",
        when(col("block_key") === "hot", 30).otherwise(5))

    // force the hot path with a low threshold
    val hotId = Seq(Tuple1("hot")).toDF("k")
      .select(xxhash64(col("k"))).as[Long].head()
    val salted = Blocking.candidatePairs(blocks, saltThreshold = 10, nSalts = 4)
      .select("block_id", "url_a", "url_b").as[(Long, String, String)].collect()
    // plain path for comparison
    val plain = Blocking.candidatePairs(blocks, saltThreshold = 1000, nSalts = 4)
      .select("block_id", "url_a", "url_b").as[(Long, String, String)].collect()

    salted.length shouldBe plain.length // no duplicates
    salted.toSet shouldBe plain.toSet   // same set
    salted.count(_._1 == hotId) shouldBe 30 * 29 / 2
    salted.count(_._1 != hotId) shouldBe 5 * 4 / 2
  }

  test("pairs() dedups multi-block pairs keeping min block key") {
    val mentions = mentionsDf(("a", "Alpha Beta"), ("b", "Alpha Beta"))
    val dict = dictDf(
      ("E1", "Alpha Beta", Seq("alphabeta")),
      ("E2", "Alias Clash", Seq("alphabeta")))
    // both mentions identical => same dict blocks e:E1/e:E2 AND all lsh bands
    val out = Blocking.pairs(mentions, dict, maxBlock = 100).collect()
    out.length shouldBe 1
    // the min block id is deterministic: min over xxhash64 of the shared keys
    val candidates = Blocking.blocks(mentions, dict, maxBlock = 100)
      .select("block_id").as[Long].collect()
    out.head.getAs[Long]("block_id") shouldBe candidates.min
  }
}
