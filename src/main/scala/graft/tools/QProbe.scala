package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{ExplainMode, QueryExecution}
import org.apache.spark.sql.util.QueryExecutionListener

import graft.SparkEntry

/** Dev tool: run ONE SparkEntry query (or bench override) by name against a
  * testdata dir, print its wall per rep and optionally the formatted
  * executed plan of every SQL execution it runs.
  *
  * Usage: QProbe <name> <sfDir> [reps] [--explain] [--override]
  * --explain prints each execution's plan as it ends (one block per
  * execution per rep; reps=1 prints the query's plans once). An entry that
  * finishes eagerly — the driver-finished CC of g03/g11 — returns a
  * one-node LocalTableScan, so its returned frame's plan alone would hide
  * the dataflow that ran.
  * Extra session confs via SPARK_GRAFT_CONF="k=v;k=v" (same knob as Bench),
  * shuffle partitions via SPARK_GRAFT_PARTS (default: Bench's data-scaled
  * setting so probes match bench conditions).
  */
object QProbe {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val sfDir = args(1)
    val reps = args.lift(2).filter(!_.startsWith("--")).map(_.toInt).getOrElse(2)
    val explain = args.contains("--explain")
    val useOverride = args.contains("--override")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val parts = sys.env.getOrElse("SPARK_GRAFT_PARTS",
      graft.Partitioning.shufflePartitions(cpus.toInt, 50000).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", parts)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(";").filter(_.contains("="))
      .foreach { kv =>
        val Array(k, v) = kv.split("=", 2)
        spark.conf.set(k, v)
      })
    spark.sparkContext.setLogLevel("WARN")
    // right-biased ++: the LAST map listed wins for names present in both,
    // so --override must list benchOverrides last (round-5 advice: this was
    // inverted and the flag ran the opposite variant)
    val fn = (if (useOverride) SparkEntry.queries ++ SparkEntry.benchOverrides
              else SparkEntry.benchOverrides ++ SparkEntry.queries)(name)
    if (explain) spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit =
        println(s"QPROBE plan $name action=$funcName\n" +
          qe.explainString(ExplainMode.fromString("formatted")))
      override def onFailure(funcName: String, qe: QueryExecution,
          e: Exception): Unit = ()
    })
    (1 to reps).foreach { rep =>
      val t0 = System.nanoTime()
      val n = fn(spark, sfDir).count()
      println(f"QPROBE $name rep=$rep wall=${(System.nanoTime() - t0) / 1e9}%.2f s rows=$n" +
        "  load=" + scala.io.Source.fromFile("/proc/loadavg").mkString.trim)
      SparkEntry.benchQueryDone(name, sfDir)
    }
    SparkEntry.releaseBenchCaches()
    spark.stop()
  }
}
