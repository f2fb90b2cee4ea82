package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

import graft.Partitioning

/** An operation failed: it threw, or its outputs failed a check. */
final class OpFailed(val op: String, msg: String, cause: Throwable = null)
    extends RuntimeException(msg, cause)

final case class Metric(name: String, value: Double, unit: String)

/** State of one benchmark run: timed operations, recorded values, tracer. */
final class Run(val spark: SparkSession, val workload: String, val seed: Long,
    val seconds: Int, val trace: Boolean, val work: String,
    val tracer: Tracer) {
  private val values = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  var attempted = 0L
  var firstOpMs = -1L
  var setupCpuS = -1.0

  /** Time one operation (CPU seconds of this JVM, recorded as
    * `<name>_cpu_s`; the wall time only goes to the log). An exception
    * inside it fails that operation. */
  def op[A](name: String)(f: => A): A = {
    attempted += 1
    if (firstOpMs < 0) {
      firstOpMs = System.currentTimeMillis()
      setupCpuS = Run.cpuNs() / 1e9
    }
    val t0 = System.nanoTime()
    val c0 = Run.cpuNs()
    val out =
      try f
      catch {
        case e: OpFailed => throw e
        case NonFatal(e) => throw new OpFailed(name, s"threw $e", e)
      }
    val wallS = (System.nanoTime() - t0) / 1e9
    val cpuS = (Run.cpuNs() - c0) / 1e9
    record(s"${name}_cpu_s", cpuS)
    info(f"$name%-7s wall $wallS%.3fs cpu $cpuS%.3fs")
    out
  }

  def record(name: String, v: Double): Unit =
    values.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v

  def median(name: String): Double = Stats.median(values(name).toSeq)

  /** Fail operation `op` if a check found problems. */
  def check(op: String, problems: Checks.Problems): Unit =
    if (problems.nonEmpty) throw new OpFailed(op, problems.mkString(" | "))

  /** Loop whole rounds until `seconds` have passed since the first op. */
  def rounds(body: Int => Unit): Unit = {
    var k = 0
    do { body(k); k += 1 }
    while (System.currentTimeMillis() - firstOpMs < seconds * 1000L)
  }

  private val startNs = System.nanoTime()
  def info(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - startNs) / 1e9}%7.1fs $msg")
}

object Run {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  /** CPU time of this JVM (all threads), in ns. */
  def cpuNs(): Long = os.getProcessCpuTime
}

trait Workload {
  def name: String
  def nPages: Int
  /** Set up, run whole rounds, check every round's outputs. Records
    * `state_bytes` per round on `r`; returns the per-layer outcome counts
    * (only read in traced runs). */
  def run(r: Run): Seq[Metric]
}

/** Benchmark driver: one closed-loop client in one JVM.
  *
  * Args: --workload er_batch|dedup_batch --seed N --seconds S --trace 0|1
  *       --work DIR --cores N
  *
  * Prints the result JSON as the last stdout line; progress and the input
  * fingerprint go to stderr. Exit 1 when an operation failed. */
object BenchMain {

  /** Configured the way graft.Main configures its session (spark.local.dir
    * falls back to java.io.tmpdir, which run.py points into the run's
    * scratch directory). */
  def session(cores: Int, nPages: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("graft-perfbench")
      .config("spark.sql.shuffle.partitions",
        Partitioning.shufflePartitions(cores, nPages).toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", System.getProperty("java.io.tmpdir", "/tmp"))
      .config("spark.cleaner.periodicGC.interval", "5min")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Peak resident set of this JVM (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    finally src.close()
  }

  def num(v: Double): String =
    if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else java.lang.Double.toString(v)

  def main(argv: Array[String]): Unit = {
    val opt = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload: Workload = opt("workload") match {
      case "er_batch" => ErBatch
      case "dedup_batch" => DedupBatch
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val trace = opt("trace") == "1"
    val spark = session(opt("cores").toInt, workload.nPages)
    val tracer = new Tracer(trace)
    if (trace) spark.sparkContext.addSparkListener(tracer)
    val r = new Run(spark, workload.name, opt("seed").toLong, opt("seconds").toInt,
      trace, opt("work"), tracer)

    var failure: Option[OpFailed] = None
    var counts: Seq[Metric] = Nil
    try counts = workload.run(r)
    catch {
      case e: OpFailed => failure = Some(e)
      case NonFatal(e) =>
        failure = Some(new OpFailed(if (r.firstOpMs < 0) "setup" else "run",
          s"threw $e", e))
    }
    val rss = peakRssMb()
    spark.stop() // drains the listener bus before the trace is read

    val metrics: Seq[Metric] =
      if (failure.isDefined) Nil
      else if (trace)
        tracer.measures.map { case (n, v, u) => Metric(n, v, u) } ++ counts :+
          Metric("run.peak_rss_mb", rss, "MB")
      else Seq(
        Metric("setup_s", r.setupCpuS, "s"),
        Metric("batch_cpu_s", r.median("batch_cpu_s"), "s"),
        Metric("state_bytes", r.median("state_bytes"), "bytes"))
    failure.foreach { f =>
      System.err.println(s"[perfbench] FAILED workload=${workload.name} " +
        s"operation=${f.op}: ${f.getMessage}")
      if (f.getCause != null) f.getCause.printStackTrace()
    }
    val body = metrics.map(m =>
      s""""${m.name}": {"value": ${num(m.value)}, "unit": "${m.unit}"}""")
      .mkString(", ")
    println(s"""{"correct": ${failure.isEmpty}, "attempted": ${math.max(1L, r.attempted)}, """ +
      s""""failed": ${if (failure.isDefined) 1 else 0}, "metrics": {$body}}""")
    System.out.flush()
    sys.exit(if (failure.isDefined) 1 else 0)
  }
}
