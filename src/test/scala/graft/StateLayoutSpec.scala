package graft

import java.nio.file.{Files, Path, Paths}
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.functions._

import graft.gen.{Synth, SynthParams}
import graft.ops.{Dedup, Extract, Incremental}

/** Layout of the committed state: every commit path writes zstd parquet
  * through graft.StateTables, s0 stores html_hash instead of the raw html,
  * s2/s2_overflow are keyed by the numeric block_id only, and mentions read
  * from `text` equal the mentions of the html's extraction. */
class StateLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def freshDir(): String =
    Files.createTempDirectory("graft-layout").toString

  /** Codec of every column chunk in every parquet data file of a table. */
  private def codecs(table: String): Set[CompressionCodecName] = {
    val s = Files.list(Paths.get(table))
    val files = try s.iterator().asScala.toList finally s.close()
    val parts = files.filter(_.getFileName.toString.endsWith(".parquet"))
    parts should not be empty
    parts.flatMap { (f: Path) =>
      val in = HadoopInputFile.fromPath(new HPath(f.toString), new Configuration())
      val r = ParquetFileReader.open(in)
      try r.getFooter.getBlocks.asScala.flatMap(_.getColumns.asScala.map(_.getCodec))
      finally r.close()
    }.toSet
  }

  private def assertZstd(dir: String, tables: Seq[String]): Unit =
    tables.foreach { t =>
      withClue(s"$dir/$t: ") { codecs(s"$dir/$t") shouldBe Set(CompressionCodecName.ZSTD) }
    }

  private val stages = Seq("s0_pages", "s1_mentions", "s2_blocks", "s2_overflow",
    "s3_pairs", "s4_scored", "s5_clusters")

  test("stage tables and attach/detach commits are zstd, without html or block_key") {
    val p = SynthParams(nPages = 300, nEntities = 30)
    val pages = Synth.pages(spark, p).toDF()
    val dict = Synth.dict(spark, p).toDF()
    // a cap of 8 binds on this fixture, so s2_overflow holds rows (a table
    // of no rows has no column chunk to carry a codec)
    val cfg = PipelineConfig(checkpointDir = freshDir(), runId = "layout",
      maxBlock = 8, keepBlockOverflow = true)
    Pipeline.run(spark, pages, dict, cfg)
    assertZstd(cfg.checkpointDir, stages)

    val base = Incremental.stateFromCheckpoint(spark, cfg.checkpointDir)
    val gone = pages.filter(pmod(xxhash64(col("url")), lit(10)) === 0)
      .select("url").distinct()
    val detached = freshDir() + "/detached"
    Incremental.commitAsBase(
      Incremental.detach(spark, base, gone, dict, cfg), detached)
    assertZstd(detached, stages)

    Seq(cfg.checkpointDir, detached).foreach { dir =>
      val st = Incremental.stateFromCheckpoint(spark, dir)
      st.pages.columns should contain("html_hash")
      st.pages.columns should not contain "html"
      st.blocks.columns should contain("block_id")
      st.blocks.columns should not contain "block_key"
      st.blockOverflow.get.columns should contain("block_id")
      st.blockOverflow.get.columns should not contain "block_key"
    }
  }

  test("the committed dedup state is zstd") {
    val p = SynthParams(nPages = 300, nEntities = 30)
    val docs = Synth.pages(spark, p).toDF()
      .select(xxhash64(col("url"), col("warc_ts")).bitwiseAND(lit(Long.MaxValue))
        .as("doc_id"), col("text"))
    val dir = freshDir()
    Dedup.commitDedupState(Dedup.minhashDedupState(spark, docs), dir)
    assertZstd(dir, Seq("keyed", "edges", "assign"))
  }

  test("mentions from text equal mentions from the html's extraction") {
    def page(url: String, body: String, text: String) =
      (url, Timestamp.valueOf("2024-01-01 00:00:00"),
        s"<html><head><title>t</title></head><body><p>$body</p></body></html>"
          .getBytes("UTF-8"), text, "en")
    val repeated = "alpha Gadget Prime beta gamma delta Gadget Prime omega"
    val pages = Seq(
      page("https://h.example/rep", repeated, repeated),
      page("https://h.example/ok", "Rare Disease Zeta here", "Rare Disease Zeta here"),
      // invariant fails: the text column is not the html's extraction
      page("https://h.example/bad", "Other Body Text", "Claimed Text Alpha"))
      .toDF("url", "warc_ts", "html", "text", "lang")

    val checked = Extract.withInvariant(pages)
    val fromText = Extract.mentions(checked)
    // the same pages with text re-derived from the html, kept to the rows
    // that pass the invariant
    val okUrls = checked.filter(col("invariant_ok")).select("url")
    val fromHtml = Extract.mentions(Extract.withInvariant(
        pages.withColumn("text", Extract.extractedText(col("html")))))
      .join(okUrls, Seq("url"), "left_semi")

    val cols = fromText.columns.toSeq
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.map(col): _*).collect().map(_.toSeq).toSet
    rows(fromText) shouldBe rows(fromHtml)
    fromText.filter($"url" === "https://h.example/bad").count() shouldBe 0L
    fromText.filter($"surface" === "Gadget Prime").count() shouldBe 2L
    checked.columns should not contain "html"
    checked.select("html_hash").as[Long].collect().toSet shouldBe
      pages.select(xxhash64(col("html"))).as[Long].collect().toSet
  }
}
