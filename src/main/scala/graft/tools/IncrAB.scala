package graft.tools

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.{Pipeline, PipelineConfig}
import graft.gen.{Synth, SynthParams}
import graft.ops.Incremental

/** Dev tool: A/B of incremental attach (ops/Incremental.attach) vs a full
  * batch re-run over base+delta, on a synthetic corpus written to parquet
  * first (both sides read the same on-disk input, like a deployment).
  *
  * The base run (the committed state a deployment already has) is built
  * once outside the timed region; the timed comparison is the choice an
  * operator actually faces when a crawl delta lands: re-run the whole
  * pipeline, or attach. Reported locality counters (dirty urls, touched
  * blocks, rescored pairs, dissolved labels) are the delta-proportionality
  * evidence at the measured size.
  *
  * Usage: IncrAB <nPages> <nEntities> <deltaPctUrls> [reps]
  */
object IncrAB {
  def main(args: Array[String]): Unit = {
    val nPages = args(0).toInt
    val nEntities = args(1).toInt
    val deltaPct = args(2).toInt
    val reps = args.lift(3).map(_.toInt).getOrElse(1)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR", "/tmp"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val p = SynthParams(nPages = nPages, nEntities = nEntities)
    val root = Files.createTempDirectory("graft-incrab").toString
    Synth.pages(spark, p).toDF()
      .write.mode("overwrite").parquet(s"$root/pages.parquet")
    val all = spark.read.parquet(s"$root/pages.parquet")
    val dict = Synth.dict(spark, p).toDF()
    val isDelta = pmod(xxhash64(col("url")), lit(100)) < deltaPct
    val baseInput = all.filter(!isDelta)
    val deltaInput = all.filter(isDelta)
    val nDelta = deltaInput.select("url").distinct().count()
    val nAll = all.select("url").distinct().count()
    println(s"INCR-AB corpus=$nAll urls delta=$nDelta urls " +
      s"(${100.0 * nDelta / nAll}%)")

    // committed base state: built once, NOT part of the comparison
    val baseCfg = PipelineConfig(checkpointDir = s"$root/base", runId = "base",
      keepBlockOverflow = true)
    val tB0 = System.nanoTime()
    Pipeline.run(spark, baseInput, dict, baseCfg)
    println(f"INCR-AB base build wall=${(System.nanoTime() - tB0) / 1e9}%.1f s")

    def load = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
    (1 to reps).foreach { rep =>
      // A: full batch re-run over base+delta (what a deployment without
      // incremental maintenance must do)
      val fullCfg = PipelineConfig(checkpointDir = s"$root/full_$rep",
        runId = s"full_$rep")
      val tF0 = System.nanoTime()
      val full = Pipeline.run(spark, all, dict, fullCfg)
      val fullClusters = full.clusters.select("cluster_id").distinct().count()
      val wallFull = (System.nanoTime() - tF0) / 1e9

      // B: incremental attach against the committed base; materialize the
      // same deliverables (merged clusters + merged scored row counts)
      val base = Incremental.stateFromCheckpoint(spark, baseCfg.checkpointDir)
      val tA0 = System.nanoTime()
      val res = Incremental.attach(spark, base, deltaInput, dict, baseCfg)
      val attachClusters = res.clusters.select("cluster_id").distinct().count()
      val scoredRows = res.scored.count()
      val wallAttach = (System.nanoTime() - tA0) / 1e9

      val dirty = res.dirtyUrls.count()
      val touched = res.touchedKeys.count()
      val rescored = res.rescored.count()
      val dissolved = res.affectedLabels.count()
      val totalPairs = full.scored.count()
      println(f"INCR-AB rep=$rep full=$wallFull%7.1f s  attach=$wallAttach%7.1f s  " +
        f"speedup=${wallFull / wallAttach}%5.2fx  load=$load")
      println(f"INCR-AB rep=$rep locality: dirty=$dirty touched_blocks=$touched " +
        f"rescored=$rescored/$totalPairs (${100.0 * rescored / totalPairs}%.1f%%) " +
        f"dissolved=$dissolved clusters(full=$fullClusters attach=$attachClusters) " +
        f"scored_rows=$scoredRows")
      // the A/B is only meaningful if both sides agree
      require(fullClusters == attachClusters,
        s"cluster count mismatch: full=$fullClusters attach=$attachClusters")
      scala.reflect.io.Directory(
        new java.io.File(s"$root/full_$rep")).deleteRecursively()
    }
    spark.stop()
  }
}
