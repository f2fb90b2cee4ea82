package graft.tools

import org.apache.spark.sql.SparkSession

import graft.SparkEntry
import graft.gen.{Synth, SynthParams}
import graft.ops.{Blocking, Extract, Scoring}

/** Dev tool: dump formatted physical plans for the pipeline stages and key
  * queries (SURVEY.md §4.3's expected-plan table is validated against this
  * output; PLANS.md records the result).
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-plans")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.01")
    val spark = SparkSession.builder()
      .master("local[8]")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(out).mkdirs()

    def dump(name: String, df: org.apache.spark.sql.DataFrame): Unit = {
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$out/$name.txt"), plan)
      println(s"dumped $name")
    }

    val p = SynthParams(nPages = 5000, nEntities = 400)
    val pages = Extract.withInvariant(
      Extract.latestSnapshot(Synth.pages(spark, p).toDF()))
    val mentions = Extract.mentions(pages)
    val dict = Synth.dict(spark, p).toDF()
    val blocks = Blocking.blocks(mentions, dict)
    dump("s0_extract_invariant", pages)
    dump("s1_mentions", mentions)
    dump("s2_blocks", blocks)
    dump("s3_pairs", Blocking.pairsFromBlocks(blocks))
    dump("s4_scored", Scoring.score(Blocking.pairsFromBlocks(blocks), mentions))
    dump("s6_doc_rollup", graft.ops.Taxonomy.rollupFromMentions(mentions, dict,
      Seq(Synth.entityCategories(spark, p) -> "categories",
        Synth.categorySupers(spark) -> "supercategories")))

    Seq("q01_agg", "q03_join_broadcast", "q07_multi_join", "q12_window_topn",
      "q19_docs_exact_dedup", "q24_emb_brute_topk", "q27_rule_gated",
      "q28_taxonomy_rollup").foreach { q =>
      dump(q, SparkEntry.queries(q)(spark, sfDir))
    }
    spark.stop()
  }
}
