package perfbench

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Output checks written apart from the code under test. Each returns the
  * problems it found (empty = pass). Most work on rows collected to the
  * driver; the table-equality and left-behind checks are plain Spark
  * set operations over the committed parquet. */
object Checks {

  type Problems = Seq[String]

  def firstFew(label: String, bad: Iterable[String]): Problems =
    if (bad.isEmpty) Nil
    else Seq(s"$label (${bad.size}): ${bad.take(3).mkString("; ")}")

  /** Connected components by union-find: node -> minimum member. */
  def components(nodes: Iterable[String],
      edges: Iterable[(String, String)]): Map[String, String] = {
    val parent = mutable.HashMap.empty[String, String]
    nodes.foreach(n => parent(n) = n)
    def find(x: String): String = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var y = x
      while (parent(y) != r) { val nx = parent(y); parent(y) = r; y = nx }
      r
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // the root of each set is its minimum: unions always keep the smaller
    parent.keys.map(n => n -> find(n)).toMap
  }

  /** Clusters are exactly the connected components of the match edges over
    * `nodes`: one row per node, no other rows, label = minimum member. */
  def clustersAreComponents(clusters: Seq[(String, String)],
      nodes: Set[String], matchEdges: Seq[(String, String)]): Problems = {
    val dupRows = clusters.groupBy(_._1).collect { case (u, rs) if rs.size > 1 => u }
    val labels = clusters.toMap
    val outside = matchEdges.filter { case (a, b) => !nodes(a) || !nodes(b) }
    val expected = components(nodes, matchEdges.filter { case (a, b) =>
      nodes(a) && nodes(b) })
    firstFew("urls with more than one cluster row", dupRows) ++
      firstFew("cluster rows for non-nodes", labels.keys.filterNot(nodes)) ++
      firstFew("nodes without a cluster row", nodes.filterNot(labels.contains)) ++
      firstFew("match edges leaving the node set", outside.map(_.toString)) ++
      firstFew("labels differing from the component minimum",
        nodes.filter(n => labels.get(n).exists(_ != expected(n)))
          .map(n => s"$n -> ${labels(n)} (expected ${expected(n)})"))
  }

  final case class PR(precision: Double, recall: Double, tp: Long, fp: Long,
      fn: Long)

  /** Pairwise precision and recall of the match decisions on the scored
    * (same-block) pairs, against the planted entity of each url. A url with
    * no planted entity matches nothing. */
  def pairwise(scored: Seq[(String, String, Boolean)],
      gold: Map[String, String]): PR = {
    var tp, fp, fn = 0L
    scored.foreach { case (a, b, m) =>
      val same = gold.get(a).exists(e => gold.get(b).contains(e))
      if (m && same) tp += 1 else if (m) fp += 1 else if (same) fn += 1
    }
    PR(if (tp + fp == 0) 0.0 else tp.toDouble / (tp + fp),
      if (tp + fn == 0) 0.0 else tp.toDouble / (tp + fn), tp, fp, fn)
  }

  def plantedTruth(scored: Seq[(String, String, Boolean)],
      gold: Map[String, String], min: Double): Problems = {
    val pr = pairwise(scored, gold)
    if (pr.precision >= min && pr.recall >= min) Nil
    else Seq(f"pairwise precision ${pr.precision}%.5f / recall ${pr.recall}%.5f " +
      s"below $min (tp=${pr.tp} fp=${pr.fp} fn=${pr.fn})")
  }

  /** Cluster-level pairwise precision/recall against planted truth, over
    * clustered urls that have a planted entity (a figure, not a gate). */
  def clusterPairwise(clusters: Seq[(String, String)],
      gold: Map[String, String]): (Double, Double) = {
    val rows = clusters.filter(r => gold.contains(r._1))
    def pairs(groups: Iterable[Int]) = groups.map(n => n.toLong * (n - 1) / 2).sum
    val predicted = pairs(rows.groupBy(_._2).values.map(_.size))
    val truth = pairs(rows.groupBy(r => gold(r._1)).values.map(_.size))
    val both = pairs(rows.groupBy(r => (r._2, gold(r._1))).values.map(_.size))
    (if (predicted == 0) 1.0 else both.toDouble / predicted,
      if (truth == 0) 1.0 else both.toDouble / truth)
  }

  final case class InputPage(url: String, ts: java.sql.Timestamp, lang: String,
      html: Array[Byte], text: String)
  final case class SnapshotRow(url: String, ts: java.sql.Timestamp,
      lang: String, invariantOk: Boolean)

  /** s0: one row per input url, carrying that url's latest snapshot, with
    * the extraction invariant (the <p> body equals the text column)
    * recomputed here. The synthetic urls are already canonical. */
  def latestSnapshots(s0: Seq[SnapshotRow], input: Seq[InputPage]): Problems = {
    val latest = input.groupBy(_.url).map { case (u, rs) => u -> rs.maxBy(_.ts.getTime) }
    val body = "(?s).*<p>(.*)</p>.*".r
    def invariant(p: InputPage) = new String(p.html, "UTF-8") match {
      case body(t) => t == p.text
      case _ => false
    }
    val byUrl = s0.groupBy(_.url)
    firstFew("urls with more than one s0 row", byUrl.collect { case (u, rs) if rs.size > 1 => u }) ++
      firstFew("s0 urls not in the input", byUrl.keys.filterNot(latest.contains)) ++
      firstFew("input urls missing from s0", latest.keys.filterNot(byUrl.contains)) ++
      firstFew("s0 rows that are not the latest snapshot",
        s0.filter(r => latest.get(r.url).exists(p =>
          p.ts != r.ts || p.lang != r.lang || invariant(p) != r.invariantOk))
          .map(_.url))
  }

  /** Rows of `df` whose `cols` hold one of `gone` (no deleted key may be
    * left in a committed table). */
  def noneLeft(table: String, df: DataFrame, cols: Seq[String],
      gone: Seq[Any]): Problems = {
    val left = df.filter(cols.map(c => col(c).isin(gone: _*)).reduce(_ || _))
      .limit(3).collect()
    firstFew(s"$table rows still holding a deleted key", left.map(_.toString).toSeq)
  }

  /** Two tables hold the same multiset of rows (columns matched by name). */
  def sameRows(label: String, a: DataFrame, b: DataFrame): Problems = {
    val bb = b.select(a.columns.map(col).toIndexedSeq: _*)
    def only(x: DataFrame, y: DataFrame) =
      x.exceptAll(y).limit(3).collect().map(_.toString).toSeq
    firstFew(s"$label: rows only in the first", only(a, bb)) ++
      firstFew(s"$label: rows only in the second", only(bb, a))
  }

  /** Near-dup output equals the identical-text groups: every doc whose
    * text another doc with a smaller id also has is a dup of that group's
    * minimum id, and nothing else is a dup. */
  def dupsAreIdenticalTexts(dups: Seq[(Long, Long)],
      docs: Seq[(Long, String)]): Problems = {
    val expected = docs.groupBy(_._2).values.flatMap { g =>
      val min = g.map(_._1).min
      g.map(_._1).filter(_ != min).map(_ -> min)
    }.toMap
    val got = dups.toMap
    firstFew("doc ids listed twice", dups.groupBy(_._1).collect { case (d, rs) if rs.size > 1 => d.toString }) ++
      firstFew("dups that are not identical-text duplicates",
        got.filter { case (d, o) => !expected.get(d).contains(o) }.map(_.toString)) ++
      firstFew("identical-text duplicates missing",
        expected.filter { case (d, _) => !got.contains(d) }.map(_.toString))
  }

  /** Character 5-shingle Jaccard of the lowercased texts. */
  def shingleJaccard(a: String, b: String, k: Int = 5): Double = {
    def sh(t: String) = {
      val l = t.toLowerCase
      if (l.length < k) Set(l) else (0 to l.length - k).map(i => l.substring(i, i + k)).toSet
    }
    val (x, y) = (sh(a), sh(b))
    val inter = x.count(y)
    inter.toDouble / (x.size + y.size - inter)
  }

  def edgesPassJaccard(label: String, edges: Seq[(Long, Long)],
      texts: Map[Long, String], threshold: Double): Problems =
    firstFew(s"$label edges below shingle Jaccard $threshold",
      edges.filter { case (a, b) =>
        !(texts.contains(a) && texts.contains(b)) ||
          shingleJaccard(texts(a), texts(b)) < threshold
      }.map(_.toString))

  /** Self-test: a checker must reject its corrupted input. */
  def mustReject(name: String, problems: => Problems): Problems =
    if (problems.nonEmpty) Nil
    else Seq(s"self-test: checker '$name' accepted a corrupted output")
}
