package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.gen.{GoldGen, Synth, SynthParams}
import graft.ops.Metrics

/** spark-submit-shaped entry point (north_rule: "run via spark-submit"):
  * generates the deterministic fixture, runs the full ER pipeline with
  * checkpoint/resume under `checkpointDir`, evaluates pairwise F1 against the
  * gold pairs, and prints a one-line JSON summary.
  *
  * Usage: graft.Main <checkpointDir> [nPages] [nEntities] [--no-resume]
  *   [--fit] [--durable-cc] [--shuffle-hydration] [--no-eval]
  *
  * --fit inserts the in-engine training stage (weak labels -> IRLS -> swept
  * threshold) and scores with the FITTED model (committed/reloaded as the
  * <ckpt>/s35_model artifact) instead of the default weights. --no-eval
  * skips the gold-pair F1 evaluation and prints -1 in its fields.
  */
object Main {
  def main(args: Array[String]): Unit = {
    val checkpointDir = args.headOption.getOrElse("/tmp/graft-ckpt")
    val nPages = args.lift(1).map(_.toInt).getOrElse(5000)
    val nEntities = args.lift(2).map(_.toInt).getOrElse(400)
    val resume = !args.contains("--no-resume")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

    val spark = applyBuilderConf(SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_GRAFT_MASTER", s"local[$cpus]"))
      .appName("graft-er-pipeline")
      // data-scaled between core count and 8x cores — see graft.Partitioning
      .config("spark.sql.shuffle.partitions",
        Partitioning.shufflePartitions(cpus.toInt, nPages).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
          System.getProperty("java.io.tmpdir", "/tmp")))
      // long single-box runs accumulate shuffle files until a JVM GC triggers
      // the ContextCleaner; with a large heap that can be never, and on
      // tmpfs shuffle dirs the files are RAM — a 9.6M-page run OOM'd at 64G
      // of dead shuffle before this. Periodic GC bounds it; static conf, so
      // it must be set on the builder (SPARK_GRAFT_CONF is session-time only)
      .config("spark.cleaner.periodicGC.interval",
        sys.env.getOrElse("SPARK_GRAFT_PERIODIC_GC", "5min")))
      .getOrCreate()
    // extra session confs via SPARK_GRAFT_CONF="k=v;k=v" (bench experiments)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel("WARN")

    val p = SynthParams(nPages = nPages, nEntities = nEntities)
    val fit = args.contains("--fit")
    // --durable-cc: CC loop lineage cuts commit to parquet instead of
    // BlockManager localCheckpoints — at 9.6M+ pages the accumulated
    // per-round cached blocks plus 32 concurrent sort tasks OOM'd a 56g heap;
    // durable cuts trade a few parquet round-trips for zero storage-memory
    // pinning (the config the PipelineConfig doc prescribes for the largest
    // runs). No effect when the edge set is small enough for CC to finish
    // on the driver (ops/Clustering).
    val cfg = PipelineConfig(checkpointDir = checkpointDir, resume = resume,
      fitWeights = fit,
      ccDurableIterations = args.contains("--durable-cc"),
      // --shuffle-hydration: force the at-scale hydration strategy (narrow
      // shuffle joins) instead of broadcasting the mentions projection —
      // on one box the broadcast's heap residency competes with 32 sort
      // tasks; on a real cluster the byte-auto switch stands
      broadcastMentions =
        if (args.contains("--shuffle-hydration")) Some(false) else None)
    val fitGold =
      if (!fit) None
      else Some(GoldGen.goldPairs(spark, p, cfg.maxBlock, cfg.saltThreshold, cfg.nSalts)
        .filter(col("split") === "valid")
        .select(col("url_a"), col("url_b"), col("gold")))

    val t0 = System.nanoTime()
    val result = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
      Synth.dict(spark, p).toDF(), cfg,
      taxonomyHops = Seq(
        Synth.entityCategories(spark, p) -> "categories",
        Synth.categorySupers(spark) -> "supercategories"),
      fitGold = fitGold)
    val nClusters = result.clusters.select("cluster_id").distinct().count()
    val nPairs = result.scored.count()
    val nRolledDocs = result.docRollup.map(_.count()).getOrElse(0L)
    val wall = (System.nanoTime() - t0) / 1e9

    // --no-eval: skip the gold-pair F1 evaluation (it re-runs blocking over
    // the whole fixture — heavier than some pipelines; at 9.6M pages it
    // OOM'd AFTER the timed wall and took the throughput JSON down with it).
    // The emitted F1 fields are -1 sentinels in that mode.
    val f1 =
      if (args.contains("--no-eval"))
        org.apache.spark.sql.Row(-1.0, -1.0, -1.0)
      else {
        val gold = GoldGen.goldPairs(spark, p, cfg.maxBlock, cfg.saltThreshold, cfg.nSalts)
        Metrics.pairwiseF1(result.scored, gold)
          .filter(col("split") === "test")
          .select("precision", "recall", "f1").head()
      }

    println(
      s"""{"pages":$nPages,"pairs":$nPairs,"clusters":$nClusters,""" +
      s""""rolled_docs":$nRolledDocs,""" +
      s""""precision":${f1.getDouble(0)},"recall":${f1.getDouble(1)},""" +
      s""""f1":${f1.getDouble(2)},"wall_sec":$wall,""" +
      s""""pages_per_sec":${nPages / wall}}""")
    spark.stop()
  }

  /** STATIC confs (must exist before the session does — SPARK_GRAFT_CONF is
    * session-time only): SPARK_GRAFT_BUILDER_CONF="k=v;k=v". Used by the
    * large-run scripts for memory knobs like spark.memory.storageFraction. */
  private def applyBuilderConf(b: org.apache.spark.sql.SparkSession.Builder):
      org.apache.spark.sql.SparkSession.Builder = {
    sys.env.get("SPARK_GRAFT_BUILDER_CONF").foreach(_.split(";")
      .filter(_.contains("=")).foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        b.config(k, v)
      })
    b
  }
}
