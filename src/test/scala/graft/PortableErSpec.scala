package graft

import org.apache.spark.sql.functions._

import graft.gen.Synth
import graft.ops.Portable

/** The g01 oracle-portable ER twin (ops/Portable.erComponentsPortable): the
  * full snapshot→extract→block→score→CC pipeline from engine-portable
  * primitives, checked here against the PLANTED entity truth — the oracle
  * row (CORRECTNESS g01) then checks the identical dataflow against DuckDB's
  * independent SQL rebuild. */
class PortableErSpec extends SparkSpec {
  import spark.implicits._

  test("portable ER twin: pure non-trivial clusters on the flagship fixture") {
    val p = SparkEntry.FlagshipParams
    val cc = Portable.erComponentsPortable(spark,
      Synth.pages(spark, p).toDF(), Synth.dict(spark, p).toDF())
      .persist()
    try {
      // representatives are members of their own cluster
      val members = cc.select(col("url"), col("cluster_id"))
        .unionByName(cc.select(col("cluster_id").as("url"), col("cluster_id")))
        .distinct()
      val truth = Synth.goldClusters(spark, p).toDF()
        .select(col("url"), col("cluster_id").as("entity"))
      val joined = members.join(truth, Seq("url"), "left").persist()
      try {
        // every clustered page is an entity page (filler pages have no
        // Capitalized mention, so they can never enter a block)
        joined.filter(col("entity").isNull).count() shouldBe 0L
        // purity: no cluster mixes two planted entities (the context-overlap
        // scorer must reject the shared-abbreviation traps)
        val impure = joined.groupBy("cluster_id")
          .agg(countDistinct(col("entity")).as("ents"))
          .filter(col("ents") > 1)
        impure.count() shouldBe 0L
        // non-trivial recall: a large share of entity pages end up clustered
        val clustered = joined.count().toDouble
        val entityPages = truth.select("url").distinct().count().toDouble
        withClue(s"clustered=$clustered of $entityPages entity pages: ") {
          clustered / entityPages should be > 0.5
        }
      } finally joined.unpersist()
    } finally cc.unpersist()
  }

  test("portable ER twin cluster sizes are all >= 2 and deterministic") {
    val p = SparkEntry.FlagshipParams
    def run() = Portable.erClustersPortable(spark,
      Synth.pages(spark, p).toDF(), Synth.dict(spark, p).toDF())
      .as[(String, Long)].collect().sortBy(_._1)
    val a = run()
    a.length should be > 10
    all(a.map(_._2)) should be >= 2L
    a shouldBe run()
  }

  // maxBlock = 8 makes the stop-key cap bind on the fixture: 25 buckets of
  // the twin's dict+LSH table are eligible (1 < n <= 8) over the ~75% of
  // urls outside the md5 slice and over-cap over all urls, so the attach
  // must retract their base pairs and the detach must regenerate them. At
  // the default 256 no bucket crosses the cap.
  private val Caps = Seq(256, 8)

  test("incremental portable twin equals the full-batch twin (g15 contract)") {
    val p = SparkEntry.FlagshipParams
    val pages = Synth.pages(spark, p).toDF()
    val dict = Synth.dict(spark, p).toDF()
    // the 75/25 split is real work on both sides of the attach
    val isDelta = substring(md5(col("url")), 1, 1).isin("c", "d", "e", "f")
    pages.filter(isDelta).select("url").distinct().count() should be > 50L
    val batches = Caps.map { cap =>
      val batch = Portable.erClustersPortable(spark, pages, dict, maxBlock = cap)
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      val incr = Portable.erClustersPortableIncremental(spark, pages, dict,
          maxBlock = cap)
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      withClue(s"maxBlock=$cap: ") { incr shouldBe batch }
      batch
    }
    // the small cap really binds
    batches(1) should not be batches(0)
  }

  test("detach portable twin equals the full-batch twin of the remainder (g18 contract)") {
    val p = SparkEntry.FlagshipParams
    val pages = Synth.pages(spark, p).toDF()
    val dict = Synth.dict(spark, p).toDF()
    val isDeleted = substring(md5(col("url")), 1, 1).isin("c", "d", "e", "f")
    pages.filter(isDeleted).select("url").distinct().count() should be > 50L
    val batches = Caps.map { cap =>
      val batch = Portable.erClustersPortable(spark, pages.filter(!isDeleted),
          dict, maxBlock = cap)
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      val det = Portable.erClustersPortableDetach(spark, pages, dict,
          maxBlock = cap)
        .as[(String, Long)].collect().sortBy(_._1).toSeq
      withClue(s"maxBlock=$cap: ") { det shouldBe batch }
      batch
    }
    batches(1) should not be batches(0)
  }
}
