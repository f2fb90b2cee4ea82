package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.StateTables

/** Transitive clustering: connected components over the match-edge graph via
  * iterative large-star / small-star (Kiveris et al., "Connected Components
  * in MapReduce and Beyond", SOCC'14 — public algorithm), expressed entirely
  * as DataFrame aggregations + joins.
  *
  * Reference analogue: the bounded-depth transitive mapping chains
  * UMLS→ORDO→ICD10→ICD9 (`main_scripts/rare_disease_id_util.py:278-322`) and
  * per-document union-dedup aggregation
  * (`main_scripts/step9_processing_all_documents.py:241-252`) generalized to
  * true transitive closure (SURVEY.md §2.11).
  *
  * Scale notes — two regimes, chosen per call by the measured input size:
  *  - an edge set below the driver byte budget (graft.DriverBudget) is
  *    collected once and finished by union-find on the driver: one job
  *    instead of O(log n) rounds whose per-job planning, codegen and
  *    scheduling dominate a small graph (traced 2,000-page run, 4 cores:
  *    s5 29 -> 11 jobs, 11.0 -> 1.45 MB scanned);
  *  - above it the distributed loop runs: each iteration is groupBy(min) +
  *    join back — both hash-partitioned on the node id, so successive
  *    iterations reuse the same partitioning; lineage is cut EVERY iteration
  *    (localCheckpoint or parquet checkpoint) — without this, Catalyst
  *    analysis time explodes superlinearly (SURVEY.md §4.2.2); iteration
  *    count is O(log n) in component size; convergence is detected by an
  *    aggregate checksum of the edge set, not a driver-side collect of data
  *    rows.
  * Both regimes emit the same rows: (node, component minimum) for every
  * non-root node.
  *
  * `resolveFlips` is the delta form: it maintains a committed assignment
  * under edge flips and node changes, for every attach/detach algebra.
  */
object Clustering {

  /** Large-star: for each node u with neighborhood N(u) (symmetric edges),
    * m = min(N(u) ∪ {u}); emit (v, m) for every v in N(u) with v > u. */
  private def largeStar(edges: DataFrame): DataFrame = {
    val sym = edges.select(col("u"), col("v"))
      .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
    // min(N(u) ∪ {u}) == min over rows of least(u, v)
    val m = sym.select(col("u"), least(col("u"), col("v")).as("uv"))
      .groupBy("u").agg(min(col("uv")).as("m"))
    // no distinct here: smallStar dedups its own output, and duplicate rows
    // do not change its min aggregation — saves one shuffle per iteration
    sym.join(m, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
  }

  /** Small-star: orient edges u > v; for each u, m = min of its smaller
    * neighbors; emit (v, m) for each smaller neighbor and (u, m). */
  private def smallStar(edges: DataFrame): DataFrame = {
    val oriented = edges.select(
      greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      .filter(col("u") =!= col("v"))
    val m = oriented.groupBy("u").agg(min(col("v")).as("m"))
    oriented.join(m, "u")
      .select(col("v").as("u"), col("m").as("v"))
      .unionByName(m.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** Deterministic order-independent checksum exprs: count + sum of per-row
    * hashes (decimal: exact and overflow-free under ANSI mode). Attached via
    * observe() so convergence detection rides the materialization job instead
    * of costing an extra action per iteration. */
  private def checksumExprs = Seq(
    count(lit(1)).as("c"),
    coalesce(sum(xxhash64(col("u"), col("v")).cast("decimal(38,0)")),
      lit(0).cast("decimal(38,0)")).as("h"))

  /** How one connected-components call finished: on the driver (`local`)
    * or in the distributed loop; the distinct input edges, their estimated
    * driver-side size, and the loop's rounds to convergence (0 on the
    * driver). */
  final case class Decision(local: Boolean, inputEdges: Long, estBytes: Long,
      rounds: Int)

  /** A (url, cluster_id) assignment together with the decision that made it. */
  final case class Components(assign: DataFrame, decision: Decision)

  /** Driver-side bytes per collected edge beyond its UTF-8 payload: the Row,
    * two String objects and the union-find map entry. */
  private val EdgeOverheadBytes = 200L

  /** Connected components over undirected string edges (u, v).
    * Returns (node, cluster_id) for every non-root node, where cluster_id =
    * min node of the component (roots are absent).
    *
    * The distinct input edge set is cut once, eagerly; an Observation on
    * that cut measures its rows and payload bytes at no extra job. When
    * rows × EdgeOverheadBytes + payload is below `driverBudgetBytes` (default
    * graft.DriverBudget; 0 always takes the loop) the cut is collected and
    * finished by union-find on the driver: a fixture- or delta-sized graph
    * otherwise pays O(log n) rounds of per-job planning, codegen and
    * scheduling for a few thousand edges. Above the budget the
    * large/small-star loop runs.
    *
    * Loop only: `checkpointDir`, when set, persists each round's cut to
    * parquet (resumable lineage cut; otherwise localCheckpoint);
    * `partitions` sizes the per-round shuffles (by-name: evaluated only
    * when the loop runs, so a caller may size it by a Spark job); the loop
    * throws on
    * non-convergence within maxIter rounds — returning a half-converged edge
    * set as final clusters would be silently wrong downstream.
    */
  def connectedComponents(spark: SparkSession, edges0: DataFrame,
      checkpointDir: Option[String] = None, maxIter: Int = 50,
      partitions: => Option[Int] = None,
      driverBudgetBytes: Long = graft.DriverBudget.bytes): DataFrame =
    components(spark, edges0, checkpointDir, maxIter, partitions,
      driverBudgetBytes).assign

  /** connectedComponents with the decision that produced it. */
  def components(spark: SparkSession, edges0: DataFrame,
      checkpointDir: Option[String] = None, maxIter: Int = 50,
      partitions: => Option[Int] = None,
      driverBudgetBytes: Long = graft.DriverBudget.bytes): Components = {
    // Materialize the INPUT edge set before any CC-scoped conf: the caller's
    // un-materialized upstream (blocking + scoring in entry(), the band
    // self-join + verification in the near-dup family) would otherwise
    // execute inside the loop's byte-targeted coalescing and get starved of
    // parallelism — those subtrees are CPU-heavy per byte, exactly what the
    // scoped confs are wrong for (measured: the whole 800-page flagship
    // upstream ran as CC "round 0" at ~12s). One eager cut of the distinct
    // edge set, executed under the session's own parallelism policy.
    val size = org.apache.spark.sql.Observation("cc_input")
    val edgesIn = edges0.select(col("u"), col("v"))
      .filter(col("u") =!= col("v")).distinct()
      .observe(size, count(lit(1)).as("n"), coalesce(
        sum(octet_length(col("u")).cast("long") + octet_length(col("v"))),
        lit(0L)).as("payload"))
      .localCheckpoint(true)
    val measured = size.get
    val n = measured("n").asInstanceOf[Long]
    val est = measured("payload").asInstanceOf[Long] + n * EdgeOverheadBytes
    if (est < driverBudgetBytes)
      Components(unionFind(spark, edgesIn.collect()), Decision(true, n, est, 0))
    else {
      val (assign, rounds) = withLoopConfs(spark, partitions)(
        loop(spark, edgesIn, checkpointDir, maxIter))
      Components(assign, Decision(false, n, est, rounds))
    }
  }

  /** Driver finish: union-find whose root is always the smallest node of its
    * set, so every non-root node ends labeled with its component minimum —
    * the rows the converged loop emits, as a local DataFrame. Nodes are
    * ordered as Spark orders strings (UTF-8 bytes), not by String.compareTo
    * (UTF-16 units), which disagrees past the surrogate range. */
  private def unionFind(spark: SparkSession,
      edges: Array[org.apache.spark.sql.Row]): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[UTF8String, UTF8String]
    // iterative with path compression: insertion order can build chains as
    // long as the component, too deep for a recursive find
    def find(x: UTF8String): UTF8String = {
      var r = x
      var p = parent.getOrElse(r, r)
      while (p != r) { r = p; p = parent.getOrElse(r, r) }
      var c = x
      while (c != r) { val next = parent(c); parent(c) = r; c = next }
      r
    }
    edges.foreach { e =>
      val a = find(UTF8String.fromString(e.getString(0)))
      val b = find(UTF8String.fromString(e.getString(1)))
      val c = a.binaryCompare(b)
      if (c < 0) parent(b) = a else if (c > 0) parent(a) = b
    }
    import spark.implicits._
    parent.keys.toSeq.map(k => (k.toString, find(k).toString))
      .toDF("url", "cluster_id")
  }

  /** Run `body` under the loop's conf scope; the session values are
    * restored after.
    *
    * CC is coordination-bound: O(log n) rounds of SMALL shuffles. A
    * data-scaled global shuffle-partition setting (right for the one-pass
    * stages) multiplies per-round task count and made CC 3.5x slower at
    * 2.4M pages (54s -> 189s at 32 -> 256 partitions, measured). So CC's
    * shuffles default to the core count — but a flat pin OOMs once
    * edges/cores no longer fits a task's sort (9.6M pages / 56g heap,
    * measured): large inputs must pass a data-scaled `partitions`
    * (Partitioning.ccPartitions; Pipeline does).
    *
    * CC rounds are NOT CPU-heavy per byte (hash agg + join over two id
    * columns), so AQE's byte-targeted coalescing is the right parallelism
    * policy inside the loop: a small round collapses to 1-2 tasks (the
    * per-round task overhead dominated small-graph CC; measured 2-3x on the
    * 800-page flagship fixture), while a 10^8-edge round still fans out to
    * advisory-sized partitions.
    * parallelismFirst (the default) would instead hold every tiny round at
    * defaultParallelism tasks. The one-pass stages (scoring) ARE CPU-heavy
    * per byte and need parallelism-first (measured 3x slower at 50k pages
    * under byte-targeted coalescing), hence the scope. */
  private def withLoopConfs[T](spark: SparkSession, partitions: => Option[Int])(
      body: => T): T = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    val pfKey = "spark.sql.adaptive.coalescePartitions.parallelismFirst"
    val advKey = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    val prevPf = spark.conf.getOption(pfKey)
    val prevAdv = spark.conf.getOption(advKey)
    spark.conf.set("spark.sql.shuffle.partitions",
      math.max(2, partitions.getOrElse(spark.sparkContext.defaultParallelism)).toString)
    spark.conf.set(pfKey, "false")
    // small advisory: the coalescer only MERGES below the pinned partition
    // count, so a big run (partitions sized by Partitioning.ccPartitions,
    // each >> 1m) is untouched, a mid-size graph keeps a handful of tasks,
    // and only genuinely tiny rounds collapse to 1
    spark.conf.set(advKey, "1m")
    try body
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevParts)
      prevPf match {
        case Some(v) => spark.conf.set(pfKey, v)
        case None => spark.conf.unset(pfKey)
      }
      prevAdv match {
        case Some(v) => spark.conf.set(advKey, v)
        case None => spark.conf.unset(advKey)
      }
    }
  }

  /** The large/small-star loop over the materialized distinct edge set:
    * one lineage cut per round, convergence by the Observation-attached
    * checksum of the round's output. Returns the converged assignment and
    * the rounds it took. */
  private def loop(spark: SparkSession, edges0: DataFrame,
      checkpointDir: Option[String], maxIter: Int): (DataFrame, Int) = {
    var edges = edges0
    var last: (Long, BigDecimal) = (-1L, BigDecimal(-1))
    var round = 0
    var converged = false
    var prevCutPath: Option[String] = None
    while (!converged && round < maxIter) {
      val obs = org.apache.spark.sql.Observation(s"cc_round_$round")
      val next = smallStar(largeStar(edges))
        .observe(obs, checksumExprs.head, checksumExprs.tail: _*)
      val cut = checkpointDir match {
        case Some(dir) =>
          val path = s"$dir/cc_round_$round"
          StateTables.write(next, path, "overwrite")
          // the PREVIOUS cut fed this write and is never read again (no
          // mid-loop resume is implemented; the caller reads only the FINAL
          // cut) — delete it once the new cut's write has committed. At
          // 9.6M pages each cut is GBs.
          prevCutPath.map(new java.io.File(_)).filter(_.exists()).foreach(f =>
            scala.reflect.io.Directory(f).deleteRecursively())
          prevCutPath = Some(path)
          spark.read.parquet(path)
        case None =>
          next.localCheckpoint(eager = true)
      }
      val cs = (obs.get("c").asInstanceOf[Long],
        BigDecimal(obs.get("h").asInstanceOf[java.math.BigDecimal]))
      converged = cs == last
      last = cs
      edges = cut
      round += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge within $maxIter rounds — " +
          "refusing to return a partial clustering")
    // converged edge set is (node -> component-min) star edges
    (edges.select(col("u").as("url"), col("v").as("cluster_id")), round)
  }

  /** Cluster assignment for every node that appears in `nodes`: CC labels for
    * connected nodes, self-cluster for isolated ones. */
  def clusters(spark: SparkSession, matchPairs: DataFrame, nodes: DataFrame,
      checkpointDir: Option[String] = None,
      partitions: => Option[Int] = None,
      driverBudgetBytes: Long = graft.DriverBudget.bytes): DataFrame =
    clustered(spark, matchPairs, nodes, checkpointDir, partitions,
      driverBudgetBytes).assign

  /** clusters with the CC decision that produced it. */
  def clustered(spark: SparkSession, matchPairs: DataFrame, nodes: DataFrame,
      checkpointDir: Option[String] = None,
      partitions: => Option[Int] = None,
      driverBudgetBytes: Long = graft.DriverBudget.bytes): Components = {
    val edges = matchPairs.filter(col("is_match"))
      .select(col("url_a").as("u"), col("url_b").as("v"))
    val cc = components(spark, edges, checkpointDir, partitions = partitions,
      driverBudgetBytes = driverBudgetBytes)
    cc.copy(assign = nodes.select(col("url")).distinct()
      .join(cc.assign, Seq("url"), "left")
      .select(col("url"), coalesce(col("cluster_id"), col("url")).as("cluster_id")))
  }

  /** A maintained assignment and the base labels dissolved to make it. */
  final case class Resolved(
      /** (url, cluster_id) for every node of the changed graph. */
      assign: DataFrame,
      /** (cluster_id) base labels dissolved and re-solved. */
      affectedLabels: DataFrame)

  /** The delta form of `clusters`: the assignment `clusters` would give over
    * the base edges minus `removed` plus `added`, computed from the
    * committed `baseAssign` without re-solving the whole graph.
    *
    * Labels are component minima, so a component no flip and no
    * `changedNodes` url touches keeps its base label verbatim. Every other
    * base component is dissolved; its members (`memberUrls`) are re-solved
    * over their surviving base edges plus the added ones, on the node set
    * `subNodes(memberUrls)` (the caller adds new nodes and drops deleted
    * ones there). Components are edge-closed, so a member's base edges
    * never leave the member set. The ER attach/detach (ops/Incremental)
    * and the near-dup attach/detach (ops/DeltaDedup) both run this tail.
    *
    * Every probe into the base edges/assignment broadcasts its
    * flip-proportional side. `affectedLabels`, `memberUrls` and the merged
    * assignment are plan cuts tagged `<tag>_<name>`.
    *
    * @param baseEdges  (url_a, url_b) match edges of the base state.
    * @param baseAssign (url, cluster_id) `clusters` output of the base state.
    * @param removed    (url_a, url_b) base edges that no longer match.
    * @param added      (url_a, url_b) new match edges.
    */
  def resolveFlips(spark: SparkSession, tag: String, baseEdges: DataFrame,
      baseAssign: DataFrame, removed: DataFrame, added: DataFrame,
      changedNodes: Seq[DataFrame],
      subNodes: DataFrame => DataFrame): Resolved = {
    val changedUrls = (Seq(removed.select(col("url_a").as("url")),
        removed.select(col("url_b").as("url")),
        added.select(col("url_a").as("url")),
        added.select(col("url_b").as("url"))) ++ changedNodes)
      .reduce(_ union _).distinct()
    val affectedLabels = PlanCut(s"${tag}_affectedLabels")(baseAssign
      .join(broadcast(changedUrls), Seq("url"), "left_semi")
      .select("cluster_id").distinct())
    val memberUrls = PlanCut(s"${tag}_memberUrls")(baseAssign
      .join(broadcast(affectedLabels), Seq("cluster_id"), "left_semi")
      .select("url"))
    val subEdges = baseEdges.select("url_a", "url_b")
      .join(broadcast(memberUrls.withColumnRenamed("url", "url_a")),
        Seq("url_a"), "left_semi")
      .join(broadcast(removed), Seq("url_a", "url_b"), "left_anti")
      .unionByName(added)
      .withColumn("is_match", lit(true))
    val resolved = clusters(spark, subEdges, subNodes(memberUrls))
    Resolved(PlanCut(s"${tag}_assign")(baseAssign
        .join(broadcast(affectedLabels), Seq("cluster_id"), "left_anti")
        .select("url", "cluster_id")
        .unionByName(resolved.select("url", "cluster_id"))),
      affectedLabels)
  }
}
