package graft

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.Lineage

/** Transitive-closure correctness — SURVEY §5.3: random graphs
  * (cycles and self-edges included) checked against a trivial in-memory
  * reachability oracle. */
class LineageSpec extends SparkSuite {

  /** In-memory oracle: pairs (a, b), b reachable from a via ≥1 edge of
    * the self-edge-filtered graph. */
  private def reachOracle(edges: Seq[(String, String)]): Set[(String, String)] = {
    val adj = edges.filter { case (a, b) => a != b }.distinct
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    def from(root: String): Set[String] = {
      var seen = Set.empty[String]
      var frontier = adj.getOrElse(root, Set.empty)
      while (frontier.nonEmpty) {
        seen ++= frontier
        frontier = frontier.flatMap(n => adj.getOrElse(n, Set.empty)) -- seen
      }
      seen
    }
    adj.keySet.flatMap(r => from(r).map(r -> _))
  }

  private def closureOf(edges: Seq[(String, String)]): Set[(String, String)] = {
    val s = spark
    import s.implicits._
    val df =
      if (edges.isEmpty) Seq.empty[(String, String)].toDF("src", "dst")
      else edges.toDF("src", "dst")
    Lineage.closure(df).collect().map(r => (r.getString(0), r.getString(1))).toSet
  }

  test("pagerank: mass conserved, ranks total-ordered, sinks outrank " +
    "their feeders on the star schema") {
    val rows = Lineage.pageRank(spark, sf).collect()
    val pr = rows.map(r => r.getString(0) -> r.getLong(1)).toMap
    // dangling redistribution conserves total mass (1e8 units, ±1 ulp
    // of rounding per node per iteration)
    val total = pr.values.sum
    assert(math.abs(total - 100000000L) <= rows.length * 8,
      s"mass not conserved: $total")
    // ranks are 1..n following (pr desc, node asc)
    val ranked = rows.sortBy(_.getLong(2))
    assert(ranked.map(_.getLong(2)).toSeq === (1L to rows.length).toSeq)
    ranked.sliding(2).foreach { w =>
      val (a, b) = (w(0), w(1))
      assert(a.getLong(1) > b.getLong(1) ||
        (a.getLong(1) == b.getLong(1) && a.getString(0) < b.getString(0)))
    }
    // structure: the terminal authority (region) accumulates the most
    // mass; every node holds at least the undamped floor 0.15/n
    assert(ranked.head.getString(0) === "region")
    assert(pr.values.forall(_ >= (0.15e8 / rows.length).toLong))
  }

  test("closure matches oracle on the star-schema fixture DAG") {
    val fx = Lineage.edgeFixture(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    assert(closureOf(fx) === reachOracle(fx))
  }

  test("closure over parquet-backed edges (the q20 shape: scan " +
    "constraints must survive the checkpoint/union loop)") {
    val s = spark
    import s.implicits._
    val fx = Lineage.edgeFixture(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    val dir = tempDir("graft_pq_edges")
      .toString + "/edges"
    fx.toDF("src", "dst").write.parquet(dir)
    val got = Lineage.closure(spark.read.parquet(dir))
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(got === reachOracle(fx))
  }

  test("closure handles a cycle without divergence") {
    val cyc = Seq("a" -> "b", "b" -> "c", "c" -> "a", "x" -> "x")
    assert(closureOf(cyc) === reachOracle(cyc))
    // every node in the 3-cycle reaches every node incl. itself
    assert(closureOf(cyc).contains("a" -> "a"))
  }

  test("property: closure == reachability oracle on random graphs") {
    val nodes = Gen.choose(0, 7).map(i => s"n$i")
    val edgeGen = Gen.zip(nodes, nodes)
    val graphGen = Gen.choose(0, 14).flatMap(n => Gen.listOfN(n, edgeGen))
    val prop = Prop.forAllNoShrink(graphGen) { edges =>
      closureOf(edges) == reachOracle(edges)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(12), prop)
    assert(res.passed, res.status.toString)
  }

  /** In-memory components oracle: BFS labeling with min-id labels. */
  private def ccOracle(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val adj = (pairs ++ pairs.map(_.swap))
      .filter { case (a, b) => a != b }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    var label = Map.empty[Long, Long]
    adj.keys.toSeq.sorted.foreach { root =>
      if (!label.contains(root)) {
        var comp = Set(root)
        var frontier = adj(root)
        while (frontier.nonEmpty) {
          comp ++= frontier
          frontier = frontier.flatMap(adj.getOrElse(_, Set.empty)) -- comp
        }
        val m = comp.min
        comp.foreach(v => label += v -> m)
      }
    }
    label
  }

  private def ccOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df =
      if (pairs.isEmpty) Seq.empty[(Long, Long)].toDF("d1", "d2")
      else pairs.toDF("d1", "d2")
    Lineage.connectedComponents(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("property: connected components == BFS oracle on random graphs") {
    val vGen = Gen.choose(0L, 9L)
    val pairGen = Gen.zip(vGen, vGen)
    val graphGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, pairGen))
    val prop = Prop.forAllNoShrink(graphGen) { pairs =>
      ccOf(pairs) == ccOracle(pairs)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("connected components: empty input and self-edges-only are empty") {
    assert(ccOf(Seq.empty).isEmpty)
    assert(ccOf(Seq(3L -> 3L)).isEmpty)
  }

  test("property: incremental components ≡ from-scratch CC on the " +
    "union edge set (random base + random delta), and the contracted " +
    "delta graph stays delta-sized") {
    val s = spark
    import s.implicits._
    val vGen = Gen.choose(0L, 11L)
    val pairGen = Gen.zip(vGen, vGen)
    val caseGen = for {
      base <- Gen.choose(0, 10).flatMap(n => Gen.listOfN(n, pairGen))
      delta <- Gen.choose(0, 8).flatMap(n => Gen.listOfN(n, pairGen))
    } yield (base, delta)
    val prop = Prop.forAllNoShrink(caseGen) { case (base, delta) =>
      val prev =
        if (base.isEmpty) Seq.empty[(Long, Long)].toDF("v", "label")
        else Lineage.connectedComponents(base.toDF("d1", "d2"))
      val dd =
        if (delta.isEmpty) Seq.empty[(Long, Long)].toDF("d1", "d2")
        else delta.toDF("d1", "d2")
      val incr = Lineage.incrementalComponents(prev, dd)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      incr == ccOracle(base ++ delta)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
    // the work-bound claim: a one-pair append against a large labeling
    // contracts to at most one edge
    val bigBase = (0L until 200L).map(i => (i, i + 200L))
    val prev = Lineage.connectedComponents(bigBase.toDF("d1", "d2"))
    val merged = Lineage.incrementalComponents(
      prev, Seq((0L, 1L)).toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged === ccOracle(bigBase :+ (0L, 1L)))
  }

  private def ccStarOf(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val s = spark
    import s.implicits._
    val df =
      if (pairs.isEmpty) Seq.empty[(Long, Long)].toDF("d1", "d2")
      else pairs.toDF("d1", "d2")
    Lineage.connectedComponentsBigStar(df)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("property: big-star components == BFS oracle on random graphs") {
    val vGen = Gen.choose(0L, 9L)
    val pairGen = Gen.zip(vGen, vGen)
    val graphGen = Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, pairGen))
    val prop = Prop.forAllNoShrink(graphGen) { pairs =>
      ccStarOf(pairs) == ccOracle(pairs)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("big-star labels a 60-node path without hitting the round cap") {
    // A path this deep needs ~60 min-label rounds but only O(log²) star
    // rounds — the case the algorithm exists for. Cap is 64, so passing
    // here means contraction, not diameter, bounded the rounds.
    val path = (0L until 60L).map(i => i -> (i + 1))
    val labels = ccStarOf(path)
    assert(labels.keySet === (0L to 60L).toSet)
    assert(labels.values.toSet === Set(0L))
  }

  test("big-star: empty input and self-edges-only are empty") {
    assert(ccStarOf(Seq.empty).isEmpty)
    assert(ccStarOf(Seq(5L -> 5L)).isEmpty)
  }

  test("schema-derived edges equal the documented FK contract") {
    val derived = Lineage.lineageEdges(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(derived === Set(
      "nation" -> "region", "customer" -> "nation", "supplier" -> "nation",
      "orders" -> "customer", "lineitem" -> "orders", "lineitem" -> "part",
      "lineitem" -> "supplier"))
  }

  test("schema-derived raw edges contain pk self-edges (filtered by P5)") {
    val raw = Lineage.edgesFromSchema(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1))).toSet
    assert(raw.contains("nation" -> "nation")) // n_nationkey is nation's pk
    assert(!raw.contains("orders" -> "lineitem")) // l_orderkey is NOT a pk
  }
}
