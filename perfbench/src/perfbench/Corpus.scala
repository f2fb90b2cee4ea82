package perfbench

import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.gen.{Synth, SynthParams}

/** The synthetic page corpus of one run, written to parquet and read back,
  * plus the driver-side copies the checks need. */
final case class Corpus(params: SynthParams, pages: DataFrame,
    dict: DataFrame, input: Seq[Checks.InputPage], sha256: String)

object Corpus {

  /** 2% of urls (or doc ids) by content hash: the delta of every round. */
  val DeltaPct = 2
  def inDelta(key: Column): Column = pmod(xxhash64(key), lit(100)) < DeltaPct

  def params(nPages: Int, seed: Long): SynthParams =
    SynthParams(nPages = nPages, nEntities = math.max(200, nPages / 25),
      seed = seed)

  def write(r: Run, p: SynthParams): Corpus = {
    val path = s"${r.work}/pages"
    Synth.pages(r.spark, p).toDF().write.parquet(path)
    val pages = r.spark.read.parquet(path)
    val input = pages.select("url", "warc_ts", "lang", "html", "text").collect()
      .map(x => Checks.InputPage(x.getString(0), x.getTimestamp(1),
        x.getString(2), x.getAs[Array[Byte]](3), x.getString(4)))
      .sortBy(p => (p.url, p.ts.getTime)).toSeq
    val md = MessageDigest.getInstance("SHA-256")
    input.foreach { p =>
      Seq(p.url, p.ts.getTime.toString, p.lang, p.text)
        .foreach(s => md.update((s + "\u0000").getBytes("UTF-8")))
      md.update(p.html)
    }
    Corpus(p, pages, Synth.dict(r.spark, p).toDF(), input, hex(md.digest()))
  }

  private def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  /** SHA-256 of a table's rows, independent of their order. */
  def rowsSha256(rows: Iterable[Product]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    rows.map(_.productIterator.mkString("\u0001")).toSeq.sorted
      .foreach(x => md.update((x + "\u0000").getBytes("UTF-8")))
    hex(md.digest())
  }

  /** Output fingerprint of a run's first batch: runs of one seed must
    * print the same hashes, traced or not. */
  def outputs(r: Run, tables: Seq[(String, Iterable[Product])]): Unit =
    r.info("outputs {" + tables.map { case (k, rows) =>
      s""""${k}_rows": ${rows.size}, "${k}_sha256": "${rowsSha256(rows)}""""
    }.mkString(", ") + "}")

  /** The input fingerprint: a change of the generator shows up here as a
    * change of inputs, not as a change of speed. */
  def fingerprint(r: Run, c: Corpus, counts: Seq[(String, Long)]): Unit =
    r.info(s"""fingerprint {"workload": "${r.workload}", "seed": ${r.seed}, """ +
      s""""pages": ${c.params.nPages}, "entities": ${c.params.nEntities}, """ +
      s""""page_rows": ${c.input.size}, """ +
      counts.map { case (k, v) => s""""$k": $v""" }.mkString(", ") +
      s""", "pages_sha256": "${c.sha256}"}""")

  /** Bytes of the parquet data files under the given table directories. */
  def parquetBytes(dirs: Seq[String]): Long = dirs.map { d =>
    val p = Paths.get(d)
    if (!Files.isDirectory(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter((f: Path) => f.toString.endsWith(".parquet"))
        .mapToLong((f: Path) => Files.size(f)).sum()
      finally s.close()
    }
  }.sum

  def deleteTree(dir: String): Unit =
    scala.reflect.io.Directory(new java.io.File(dir)).deleteRecursively()
}
