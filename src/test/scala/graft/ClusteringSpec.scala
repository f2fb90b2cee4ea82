package graft

import graft.ops.Clustering

/** CC unit graphs per SURVEY.md §5.2: chain, star, two components,
  * self-loop; label = min node of the component (property). Every graph runs
  * through both regimes: a budget of 0 forces the distributed loop, the
  * default driver budget finishes these small graphs on the driver. */
class ClusteringSpec extends SparkSpec {
  import spark.implicits._

  private val regimes = Seq("loop" -> 0L, "driver" -> DriverBudget.bytes)

  private def ccRows(edges: Seq[(String, String)], budget: Long): Seq[(String, String)] =
    Clustering.connectedComponents(spark, edges.toDF("u", "v"),
      driverBudgetBytes = budget).as[(String, String)].collect().toSeq

  /** Run `check` on the graph's labels under each regime. */
  private def inBothRegimes(edges: Seq[(String, String)])(
      check: Map[String, String] => Unit): Unit =
    regimes.foreach { case (name, budget) =>
      withClue(s"[$name] ") { check(ccRows(edges, budget).toMap) }
    }

  /** Seeded random graph over `n` nodes named with `prefix`. */
  private def randomGraph(seed: Int, prefix: String, n: Int,
      m: Int): Seq[(String, String)] = {
    val rnd = new scala.util.Random(seed)
    val nodes = (0 until n).map(i => f"$prefix$i%02d")
    (0 until m).map { _ =>
      (nodes(rnd.nextInt(nodes.size)), nodes(rnd.nextInt(nodes.size)))
    }.filter { case (a, b) => a != b }
  }

  test("two components") {
    inBothRegimes(Seq(("a", "b"), ("b", "c"), ("x", "y"))) { m =>
      m("b") shouldBe "a"
      m("c") shouldBe "a"
      m("y") shouldBe "x"
      m.get("a").foreach(_ shouldBe "a") // root may or may not self-report
    }
  }

  test("long chain converges (log-round large/small star)") {
    val n = 64
    val chain = (0 until n - 1).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
    // reversed insertion order builds the deepest union-find chains
    Seq(chain, chain.reverse.map(_.swap)).foreach { edges =>
      inBothRegimes(edges) { m =>
        (1 until n).foreach { i => m(f"n$i%03d") shouldBe "n000" }
      }
    }
  }

  test("star graph") {
    inBothRegimes((1 to 10).map(i => ("hub", f"leaf$i%02d"))) { m =>
      // min node is "hub" lexicographically < "leafXX"
      (1 to 10).foreach { i => m(f"leaf$i%02d") shouldBe "hub" }
    }
  }

  test("self loops and duplicate edges are harmless") {
    inBothRegimes(Seq(("a", "a"), ("a", "b"), ("b", "a"), ("a", "b"))) { m =>
      m("b") shouldBe "a"
      m.contains("a") shouldBe false
    }
  }

  test("property: every node's label is the component minimum") {
    // random graph, seeded; compare against a test-local union-find oracle
    val edges = randomGraph(7, "v", 60, 80)
    val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
    val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
    def find(x: String): String = {
      var r = x; while (parent(r) != r) r = parent(r); r
    }
    edges.foreach { case (a, b) =>
      val ra = find(a); val rb = find(b)
      if (ra != rb) parent(math.Ordering[String].max(ra, rb)) = math.Ordering[String].min(ra, rb)
    }
    inBothRegimes(edges) { m =>
      nodes.foreach { n => m.getOrElse(n, n) shouldBe find(n) }
    }
  }

  test("non-convergence within maxIter throws instead of returning partial clusters") {
    // the loop only: the driver finish has no round limit to hit
    val chain = (0 until 40).map(i => (f"n$i%03d", f"n${i + 1}%03d"))
    val e = intercept[IllegalStateException] {
      Clustering.connectedComponents(spark, chain.toDF("u", "v"), maxIter = 1,
        driverBudgetBytes = 0L).collect()
    }
    e.getMessage should include("did not converge")
  }

  test("loop and driver finish produce identical clusterings") {
    val edges = randomGraph(11, "w", 40, 50)
    val loop = ccRows(edges, 0L)
    loop should not be empty
    ccRows(edges, DriverBudget.bytes).sorted shouldBe loop.sorted
    // Spark orders strings by UTF-8 bytes: U+E000 < U+F000 < U+1F600, while
    // String.compareTo's UTF-16 order puts the surrogate pair first
    val wide = Seq(("\uE000", "\uD83D\uDE00"), ("\uD83D\uDE00", "\uF000"))
    ccRows(wide, DriverBudget.bytes).toMap shouldBe ccRows(wide, 0L).toMap
    ccRows(wide, 0L).toMap shouldBe Map("\uD83D\uDE00" -> "\uE000", "\uF000" -> "\uE000")
  }

  test("the driver budget gates the regime on the measured input") {
    // 4 distinct non-loop edges, 2 UTF-8 bytes per endpoint
    val df = Seq(("aa", "bb"), ("bb", "aa"), ("bb", "cc"), ("cc", "cc"),
      ("dd", "ee"), ("ee", "ff")).toDF("u", "v")
    val loop = Clustering.components(spark, df, driverBudgetBytes = 0L)
    loop.decision.local shouldBe false
    loop.decision.rounds should be > 0
    loop.decision.inputEdges shouldBe 5L // (aa,bb) and (bb,aa) are distinct rows
    val driver = Clustering.components(spark, df)
    driver.decision shouldBe loop.decision.copy(local = true, rounds = 0)
    driver.decision.estBytes should be > 5L * 4
    // the estimate must be strictly below the budget to finish on the driver
    val est = driver.decision.estBytes
    Clustering.components(spark, df, driverBudgetBytes = est).decision.local shouldBe false
    Clustering.components(spark, df, driverBudgetBytes = est + 1).decision.local shouldBe true
    driver.assign.as[(String, String)].collect().sorted shouldBe
      loop.assign.as[(String, String)].collect().sorted
  }

  test("the loop's partition count is evaluated only when the loop runs") {
    val matches = Seq(("a", "b", true), ("b", "c", true))
      .toDF("url_a", "url_b", "is_match")
    val nodes = Seq("a", "b", "c").toDF("url")
    var sized = 0
    def run(budget: Long) = Clustering.clusters(spark, matches, nodes,
      partitions = { sized += 1; Some(2) }, driverBudgetBytes = budget).collect()
    run(DriverBudget.bytes)
    sized shouldBe 0
    run(0L)
    sized shouldBe 1
  }

  test("resolveFlips equals clusters() over the flipped edge set") {
    // base: chain 1-2-3-4, pair 10-11, isolated 12
    val baseEdges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L))
    val baseNodes = Seq(1L, 2L, 3L, 4L, 10L, 11L, 12L)
    // (case, removed edges, added edges, new nodes, deleted nodes)
    val changes = Seq(
      ("split", Seq((2L, 3L)), Nil, Nil, Nil),
      ("merge", Nil, Seq((4L, 10L), (12L, 13L)), Seq(13L, 14L), Nil),
      ("removed node", Seq((1L, 2L), (2L, 3L)), Nil, Nil, Seq(2L)))
    // url keys order "p10" < "p2"; lpad keys order like the numbers
    val keyings = Seq[(String, Long => String)](
      "url" -> (i => s"https://site.example/p$i"),
      "lpad" -> (i => f"$i%020d"))
    for ((keying, key) <- keyings; (name, removed, added, newNodes, deleted) <- changes)
      withClue(s"[$keying, $name] ") {
        def edgeDf(es: Seq[(Long, Long)]) =
          es.map { case (a, b) => (key(a), key(b), true) }
            .toDF("url_a", "url_b", "is_match")
        def nodeDf(ns: Seq[Long]) = ns.map(key).toDF("url")
        val baseAssign = Clustering.clusters(spark, edgeDf(baseEdges), nodeDf(baseNodes))
        val res = Clustering.resolveFlips(spark, "test", edgeDf(baseEdges), baseAssign,
          edgeDf(removed).select("url_a", "url_b"), edgeDf(added).select("url_a", "url_b"),
          changedNodes = if (deleted.isEmpty) Nil else Seq(nodeDf(deleted)),
          subNodes = _.join(nodeDf(deleted), Seq("url"), "left_anti")
            .union(nodeDf(newNodes)).distinct())
        val expected = Clustering.clusters(spark,
          edgeDf(baseEdges.filterNot(removed.contains) ++ added),
          nodeDf(baseNodes.filterNot(deleted.contains) ++ newNodes))
        res.assign.as[(String, String)].collect().sorted shouldBe
          expected.as[(String, String)].collect().sorted
        val baseLabel = baseAssign.as[(String, String)].collect().toMap
        val touched = (removed ++ added).flatMap(e => Seq(e._1, e._2)) ++ deleted
        res.affectedLabels.as[String].collect().toSet shouldBe
          touched.map(key).flatMap(baseLabel.get).toSet
      }
  }

  test("clusters() assigns isolated nodes to themselves") {
    val matches = Seq(("a", "b", true), ("c", "d", false))
      .toDF("url_a", "url_b", "is_match")
    val nodes = Seq("a", "b", "c", "d", "e").toDF("url")
    regimes.foreach { case (name, budget) =>
      withClue(s"[$name] ") {
        val m = Clustering.clusters(spark, matches, nodes, driverBudgetBytes = budget)
          .as[(String, String)].collect().toMap
        m shouldBe Map("a" -> "a", "b" -> "a", "c" -> "c", "d" -> "d", "e" -> "e")
      }
    }
  }
}
