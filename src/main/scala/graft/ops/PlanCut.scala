package graft.ops

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

import org.apache.spark.sql.DataFrame

/** Eager plan cuts for the multi-stage delta algebras (ops/Incremental,
  * ops/DeltaDedup, CC's delta form in ops/Clustering) and the portable
  * twins.
  *
  * An eager local checkpoint, NOT persist(): it cuts the LOGICAL plan to a
  * leaf, not just the execution lineage. The delta algebras reference their
  * intermediates multiply (old-vs-new memberships, pair diffs, subgraph
  * assembly), so with persist() the analyzed plan grows exponentially with
  * stage depth — measured on the portable ER twin: analysis time doubling
  * per stage, then a driver analyzer OOM at 800 fixture pages. Checkpoint
  * blocks are reclaimed by the ContextCleaner once the frames go out of
  * scope.
  *
  * Plan audit: when GRAFT_EXPLAIN_DIR is set, each cut first writes its
  * FORMATTED physical plan to <dir>/<tag>.txt (the committed plans/r06
  * before/after dumps are named this way: er_*, ddb_*, dd_*, ddx_*). A
  * no-op env lookup otherwise.
  */
private[graft] object PlanCut {

  /** One small pool for materializing INDEPENDENT cuts concurrently:
    * Spark's scheduler runs jobs submitted from several threads side by
    * side (FIFO back-fill), so two legs that do not consume each other
    * overlap instead of serializing — each eager job carries 0.2-0.9s of
    * fixed coordination cost at bench scale (optimization guide §2.6). */
  private lazy val overlap: ExecutionContext =
    ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newFixedThreadPool(3, r => {
        val t = new Thread(r, "graft-plan-cut")
        t.setDaemon(true)
        t
      }))

  /** Eagerly cut `df` to a local-checkpoint leaf. */
  def apply(tag: String)(df: DataFrame): DataFrame = {
    sys.env.get("GRAFT_EXPLAIN_DIR").foreach { dir =>
      new java.io.File(dir).mkdirs()
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$tag.txt"),
        df.queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("formatted")))
    }
    df.localCheckpoint(eager = true)
  }

  /** `apply` on the overlap pool; join it with `await`. */
  def async(tag: String)(df: DataFrame): Future[DataFrame] =
    Future(apply(tag)(df))(overlap)

  def await(f: Future[DataFrame]): DataFrame = Await.result(f, Duration.Inf)
}
