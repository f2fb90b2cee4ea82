package graft

import org.apache.spark.sql.SparkSession
import graft.gen.{Synth, SynthParams}

/** Benchmark main (driver contract): runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR plus the full checkpointed ER
  * pipeline at bench scale, and prints ONE JSON line.
  *
  * Extra env knobs:
  *   SPARK_GRAFT_CPUS        executor threads (default 4; driver sets this)
  *   SPARK_GRAFT_BENCH_PAGES ER-pipeline fixture size (default 50000)
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val benchPages = sys.env.getOrElse("SPARK_GRAFT_BENCH_PAGES", "50000").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      // data-scaled between core count and 8x cores — see graft.Partitioning
      // (flat 8x-cores was the round-2 g01/g03 bench regression: 2.2x on the
      // fixed-overhead-bound fixture queries)
      .config("spark.sql.shuffle.partitions",
        Partitioning.shufflePartitions(cpus.toInt, benchPages).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir",
        sys.env.getOrElse("SPARK_GRAFT_LOCAL_DIR",
          System.getProperty("java.io.tmpdir", "/tmp")))
      .getOrCreate()
    // extra session confs via SPARK_GRAFT_CONF="k=v;k=v" (bench experiments)
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel("WARN")

    def loadavg: Double =
      try scala.io.Source.fromFile("/proc/loadavg").mkString
        .split(" ")(0).toDouble
      catch { case _: Throwable => -1.0 }
    val loadStart = loadavg

    // untimed JIT/codegen warmup (JMH-style): g01 runs first and was paying
    // the whole session's codegen+JIT compilation inside its measured wall
    // (~2x on the fixed-size fixture, cold vs warm in an interleaved
    // same-JVM A/B; BENCH/BASELINE.md round 3). Disable
    // with SPARK_GRAFT_BENCH_WARMUP=0. The setting is emitted in the JSON so
    // cross-round comparisons can tell warm from cold g01 numbers
    // (warm since round 3; rounds 1-2 measured cold).
    val warmup = sys.env.getOrElse("SPARK_GRAFT_BENCH_WARMUP", "1") == "1"
    if (warmup) SparkEntry.entry(spark).count()

    // Interleaved best-of-N (round-3 advice: one unguarded single-shot JSON
    // let a noisy host window become the round's official number — a 1.6x
    // phantom regression). All queries run as a full pass, then the pass
    // repeats; per query the MIN across passes is reported (the run least
    // disturbed by external load — this host's noise is strictly additive).
    val reps = math.max(1, sys.env.getOrElse("SPARK_GRAFT_BENCH_REPS", "2").toInt)
    val pipelineOnly = sys.env.get("SPARK_GRAFT_BENCH_ONLY_PIPELINE").contains("1")
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // a crashing query must be visible in the JSON (time = -1 sentinel +
    // "failed" list), never recorded as a fast success
    val failed = scala.collection.mutable.LinkedHashSet[String]()
    for (rep <- 1 to reps) {
      if (!pipelineOnly) {
        // near-dup/ANN names measure the PRODUCTION hash family (xxhash/
        // custom kernels), not the md5 oracle twins Verify checks — same
        // dataflow shape, the hash kernel a deployment actually runs, and the
        // series BENCH_r01/r02 measured (see SparkEntry.benchOverrides doc).
        (SparkEntry.queries ++ SparkEntry.benchOverrides)
          .toSeq.sortBy(_._1).foreach { case (name, fn) =>
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).count()
            val sec = (System.nanoTime() - t0) / 1e9
            results(name) = results.get(name).filter(_ >= 0)
              .fold(sec)(math.min(_, sec))
            failed -= name
          } catch { case e: Throwable =>
            if (!results.get(name).exists(_ >= 0)) {
              results(name) = -1.0
              failed += name
            }
            System.err.println(s"[bench] query $name FAILED (rep $rep): " +
              e.getMessage)
          } finally
            // post-timing resource release (shared corpus handles): outside
            // the measured window, so the timed body is exactly one execution
            SparkEntry.benchQueryDone(name, sfDir)
        }
      }
      // ER pipeline end-to-end (the BASELINE throughput metric) — the REAL
      // product path: the checkpointed Pipeline (stage materialization also
      // prevents the multi-consumer subtrees from being recomputed, so it is
      // both the deployed configuration and the fastest). Fresh throwaway
      // checkpoint per rep: resume must never contaminate the timing.
      val p = SynthParams(nPages = benchPages,
        nEntities = math.max(200, benchPages / 25))
      val ckpt = java.nio.file.Files.createTempDirectory("graft-bench").toString
      val t0 = System.nanoTime()
      val result = Pipeline.run(spark, Synth.pages(spark, p).toDF(),
        Synth.dict(spark, p).toDF(),
        PipelineConfig(checkpointDir = ckpt, resume = false, runId = "bench"))
      result.clusters.count()
      val sec = (System.nanoTime() - t0) / 1e9
      results("er_pipeline") =
        results.get("er_pipeline").fold(sec)(math.min(_, sec))
      scala.reflect.io.Directory(new java.io.File(ckpt)).deleteRecursively()
    }
    SparkEntry.releaseBenchCaches()
    val pagesPerSec = benchPages / results("er_pipeline")

    val qs = results.toSeq.sortBy(_._1).map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.values.filter(_ >= 0).sum
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    println(s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,""" +
      s""""failed":$failedJson,"sf":"$sfDir","bench_pages":$benchPages,""" +
      s""""pages_per_sec":$pagesPerSec,"cpus":$cpus,"reps":$reps,""" +
      s""""warmup":${if (warmup) 1 else 0},"loadavg_start":$loadStart,""" +
      // self-certifying host-load tag (round-4 advice): the official round
      // number must be a quiet-host run; a JSON with quiet:0 is tainted by
      // external load and not comparable across rounds.
      s""""loadavg_end":$loadavg,"quiet":${if (loadStart >= 0 && loadStart < 2.0) 1 else 0}}""")
    spark.stop()
  }
}
