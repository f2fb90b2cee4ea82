package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}

/** Spans around public layer calls, with the Spark work done inside them.
  *
  * A span is the wall-clock interval of one call. The benchmark is the only
  * client of its session, so every job and stage submitted inside a span's
  * interval belongs to that span (and to the spans enclosing it). Listener
  * events arrive asynchronously, so attribution happens in `measures`,
  * after the caller has stopped the session (which drains the listener bus).
  *
  * With `enabled = false` a span is only the call itself: no listener, no
  * boundary sleeps, nothing recorded.
  */
final class Tracer(val enabled: Boolean) extends SparkListener {

  private final class StageAgg {
    var submittedMs: Long = -1L
    var tasks: Long = 0L
    var busyMs: Long = 0L
    var shuffleBytes: Long = 0L
    var spillBytes: Long = 0L
    var scanBytes: Long = 0L
    var writeBytes: Long = 0L
  }

  private final case class Span(name: String, startMs: Long, endMs: Long,
      wallS: Double)

  private val jobStartMs = mutable.ArrayBuffer.empty[Long]
  private val stages = mutable.HashMap.empty[(Int, Int), StageAgg]
  private val spans = mutable.ArrayBuffer.empty[Span]

  private def stage(id: Int, attempt: Int): StageAgg =
    stages.getOrElseUpdate((id, attempt), new StageAgg)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobStartMs += e.time
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    synchronized {
      val info = e.stageInfo
      stage(info.stageId, info.attemptNumber()).submittedMs =
        info.submissionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId, e.stageAttemptId)
    s.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      s.busyMs += m.executorRunTime
      s.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      s.spillBytes += m.diskBytesSpilled
      s.scanBytes += m.inputMetrics.bytesRead
      s.writeBytes += m.outputMetrics.bytesWritten
    }
  }

  /** Run `f` as span `name`. Sibling spans are separated by a few
    * milliseconds so that no job's submission time falls on two of them. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      Thread.sleep(3)
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      val out = f
      val wall = (System.nanoTime() - t0) / 1e9
      val endMs = System.currentTimeMillis()
      synchronized { spans += Span(name, startMs, endMs, wall) }
      Thread.sleep(3)
      out
    }

  /** The eight measures of every recorded span, as (`<span>.<measure>`,
    * value, unit). A span recorded more than once (several rounds in one
    * run) reports the median of its occurrences. Call after the session has
    * stopped. */
  def measures: Seq[(String, Double, String)] = synchronized {
    def one(s: Span): Seq[(String, Double, String)] = {
      def in(t: Long) = t >= s.startMs && t <= s.endMs
      val st = stages.values.filter(a => in(a.submittedMs)).toSeq
      Seq(
        ("wall_s", s.wallS, "s"),
        ("jobs", jobStartMs.count(in).toDouble, "count"),
        ("tasks", st.map(_.tasks).sum.toDouble, "count"),
        ("busy_s", st.map(_.busyMs).sum / 1000.0, "s"),
        ("shuffle_bytes", st.map(_.shuffleBytes).sum.toDouble, "bytes"),
        ("spill_bytes", st.map(_.spillBytes).sum.toDouble, "bytes"),
        ("scan_bytes", st.map(_.scanBytes).sum.toDouble, "bytes"),
        ("write_bytes", st.map(_.writeBytes).sum.toDouble, "bytes"))
        .map { case (m, v, u) => (s"${s.name}.$m", v, u) }
    }
    spans.groupBy(_.name).toSeq.sortBy(_._1).flatMap { case (_, occ) =>
      occ.map(one).transpose.map { vals =>
        (vals.head._1, Stats.median(vals.map(_._2).toSeq), vals.head._3)
      }
    }
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of nothing")
    val s = xs.sorted
    val n = s.length
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }
}
