package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.observe.{ArtifactSpec, Decomp, IndexStore}

/** Lineage graph operators — SURVEY.md §2.6, the reference's most
  * distinctive computation (`dlt_assets.py:59-77` recursive upstream
  * crawl with visited-set cycle guard, self-edge filter, final dedup).
  *
  * The reference walks the graph root-by-root with O(V·E) REST calls; here
  * the edge relation is a DataFrame and the transitive closure is computed
  * for ALL roots at once by semi-naïve iteration: each round joins only
  * the newly-discovered frontier against the edge table, anti-joins
  * against the accumulated closure (the `visited` set, D4), and stops when
  * the frontier is empty. `localCheckpoint` truncates the logical plan per
  * round so the plan doesn't grow unboundedly (SURVEY §7.4 risk 1).
  *
  * 100 TB design: each iteration is one shuffle join keyed on the join
  * column; pre-partitioning `edges` by `src` and reusing that partitioning
  * for every round avoids re-shuffling the (static) edge side. Iterations
  * are bounded by graph diameter, not vertex count.
  */
object Lineage {

  /** Lineage edges DERIVED from the warehouse's actual schemas AND data
    * (replaces round 1's hardcoded literal). Convention: a column named
    * `x_<suffix>key` in table A is a foreign key to the table whose
    * FIRST column carries the same `<suffix>key` and is verifiably a
    * primary key (count == countDistinct — checked against the data, so
    * `lineitem.l_orderkey`, a non-unique first column, does NOT claim
    * ownership of `orderkey`; `orders.o_orderkey` does). Each pk matches
    * its own table, so dimensions emit self-edges — the reference's
    * self-lineage case (`dlt_assets.py:68-69`), removed by the P5 filter
    * downstream.
    *
    * Cost: footer-only schema walk plus one count-distinct agg per pk
    * candidate (a single-column scan). At 100 TB this is a catalog-build
    * step run once and cached, not a per-query cost. */
  /** The FK catalog is a catalog-build artifact (footer walk + pk
    * checks), not a per-query cost — persisted per warehouse state via
    * [[graft.observe.IndexStore]] and rebuilt automatically when the
    * source tables' fingerprint changes (a process-lifetime memo served
    * stale edges after a dir rewrite). */
  def edgesFromSchema(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, fkEdgesSpec, dir)

  /** Keyed on the whole warehouse dir (the empty table). */
  private[graft] val fkEdgesSpec: ArtifactSpec = ArtifactSpec(
    "fk_edges", 1, "", Decomp.Full { (s, dir) =>
      import s.implicits._
      computeEdges(s, dir).toDF("src", "dst")
    })

  private def computeEdges(s: SparkSession, dir: String): Seq[(String, String)] = {
    def suffix(c: String): Option[String] =
      c.split("_", 2) match {
        case Array(_, rest) if rest.endsWith("key") => Some(rest)
        case _ => None
      }
    val schemas = graft.Tables.discover(dir)
      .map(n => n -> graft.Tables.load(s, dir, n).schema.fields.map(_.name).toSeq)
    // One unioned job for all pk-uniqueness checks (not one Spark job
    // per table — the N+1 the rest of this engine exists to avoid).
    val pkCandidates = schemas.flatMap { case (t, cols) =>
      suffix(cols.head).map(sfx => (t, cols.head, sfx))
    }
    val pkBySuffix: Map[String, String] =
      if (pkCandidates.isEmpty) Map.empty
      else pkCandidates.map { case (t, c, _) =>
        graft.Tables.load(s, dir, t)
          .agg(count(lit(1)).as("n"), countDistinct(col(c)).as("d"))
          .select(lit(t).as("t"), col("n"), col("d"))
      }.reduce(_.unionByName(_))
        .collect()
        .filter(r => r.getLong(1) == r.getLong(2))
        .map { r =>
          val t = r.getString(0)
          pkCandidates.find(_._1 == t).get._3 -> t
        }.toMap
    val edges = for {
      (t, cols) <- schemas
      c <- cols
      sfx <- suffix(c).toSeq
      pkTable <- pkBySuffix.get(sfx).toSeq
    } yield (t, pkTable)
    edges.distinct
  }

  /** Kept for property tests and as the reference shape of the DAG. */
  def edgeFixture(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    Seq(
      ("nation", "region"),
      ("customer", "nation"),
      ("supplier", "nation"),
      ("orders", "customer"),
      ("lineitem", "orders"),
      ("lineitem", "part"),
      ("lineitem", "supplier"),
      ("events", "events") // self-edge: must be dropped (P5)
    ).toDF("src", "dst")
  }

  /** Edge list with self-edges removed (P5), total order for the oracle.
    * The oracle is the documented FK contract of the star schema — this
    * query verifies the schema-derived edges equal it. */
  def lineageEdges(s: SparkSession, dir: String): DataFrame =
    edgesFromSchema(s, dir)
      .filter(col("src") =!= col("dst"))
      .orderBy(col("src"), col("dst"))

  /** Transitive closure of an arbitrary (src, dst) edge DataFrame.
    * Cycle-safe: the anti-join against the accumulated closure guarantees
    * termination (a cycle stops producing new pairs after one lap). */
  /** `localCheckpoint` re-wrapped as a constraint-free LogicalRDD. The
    * checkpoint copies the pre-checkpoint plan's constraints, which can
    * reference pre-checkpoint attribute ids; when the checkpointed
    * frame is then unioned with plans DERIVED from it (the semi-naïve
    * loop below), Union's constraint rewrite looks those stale ids up
    * in the child output and dies with "key not found: src#N"
    * (observed once the edge source became a parquet scan with
    * isnotnull filter constraints). Rebuilding the frame over the
    * already-materialized RDD keeps the data and the truncated lineage
    * and drops the stale constraint set. */
  private def checkpointed(df: DataFrame): DataFrame = {
    val cp = df.localCheckpoint()
    cp.sparkSession.createDataFrame(cp.rdd, cp.schema)
  }

  def closure(edges: DataFrame): DataFrame = {
    val e = checkpointed(
      edges.select(col("src"), col("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct())
    var acc = e.select(col("src"), col("dst").as("anc"))
    var frontier = acc
    var done = frontier.isEmpty
    while (!done) {
      val next = checkpointed(
        frontier.as("f")
          .join(e.as("g"), col("f.anc") === col("g.src"))
          .select(col("f.src").as("src"), col("g.dst").as("anc"))
          .distinct()
          .join(acc, Seq("src", "anc"), "left_anti")) // visited guard (D4)
      done = next.isEmpty
      if (!done) {
        acc = checkpointed(acc.union(next))
        frontier = next
      }
    }
    acc
  }

  /** Full ancestor set per table over the schema-derived DAG (§2.6). */
  def lineageClosure(s: SparkSession, dir: String): DataFrame =
    closure(edgesFromSchema(s, dir)).orderBy(col("src"), col("anc"))

  /** Connected components of the undirected graph given as a 2-column
    * pair DataFrame: iterative min-label propagation —
    * `L(v) ← min(L(v), min over neighbors L(u))` each round, converging
    * in diameter rounds to `label = min vertex id of the component`.
    * Same semi-naïve machinery as [[closure]] (per-round
    * `localCheckpoint` plan truncation, monotone state, join-per-round).
    *
    * This is the clustering step every near-dup pipeline needs after
    * candidate verification: pairs → components → one canonical doc per
    * component. At 100 TB the labels relation is one row per vertex
    * *touched by a pair* (far smaller than the corpus), each round is
    * one shuffle join keyed on the vertex, and rounds are bounded by
    * component diameter — near-dup components are shallow (dup chains,
    * not paths), so 2-4 rounds in practice; the large-star/small-star
    * algorithm (Kiveris et al., "Connected Components in MapReduce")
    * is the drop-in upgrade if diameters ever grow.
    *
    * Returns (v, label). Vertices are the pair endpoints, so every
    * component here has ≥ 2 members; singletons never enter the graph.
    */
  def connectedComponents(pairs: DataFrame): DataFrame = {
    val Seq(c1, c2) = pairs.columns.toSeq.map(col)
    val edges = pairs.select(c1.as("src"), c2.as("dst"))
      .union(pairs.select(c2.as("src"), c1.as("dst")))
      .filter(col("src") =!= col("dst"))
      .distinct()
      .localCheckpoint()
    var labels = edges.select(col("src").as("v")).distinct()
      .select(col("v"), col("v").as("label"))
      .localCheckpoint()
    var converged = edges.isEmpty
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "label propagation exceeded 64 rounds")
      val prop = edges.join(labels, edges("dst") === labels("v"))
        .groupBy(col("src")).agg(min(col("label")).as("nl"))
        .select(col("src").as("pv"), col("nl"))
      // Carry the previous label through the round so convergence is a
      // filter over the (already materialized) round output, not an
      // extra join against the previous state.
      val step = labels.join(prop, labels("v") === prop("pv"), "left_outer")
        .select(col("v"), col("label").as("prev"),
          least(col("label"), coalesce(col("nl"), col("label"))).as("label"))
        .localCheckpoint()
      converged = step.filter(col("label") < col("prev")).isEmpty
      labels = step.select(col("v"), col("label"))
    }
    labels
  }

  /** Connected components via alternating large-star/small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce
    * and Beyond", SoCC 2014 — public algorithm): the O(log²)-round
    * upgrade over [[connectedComponents]]' O(diameter) min-label
    * propagation, for graphs with DEEP components (long dup chains,
    * crawl-frontier paths) where diameter-bounded rounds don't scale.
    *
    *  - large-star(u): attach every strictly-larger neighbor to
    *    `min(Γ(u) ∪ u)` — hooks tall trees onto small ids in one hop;
    *  - small-star(u): orient each edge to its larger endpoint, attach
    *    the smaller neighbors and u itself to their minimum — contracts
    *    local stars.
    *
    * Each half-round is one groupBy(min) + one equi-join on the node id
    * (both map-side combinable), edge multiplicity stays ≤ the input
    * edge count, and per-round `localCheckpoint` truncates the plan.
    * Terminates when the edge set is a fixpoint (a union of stars
    * rooted at component minima), detected by a single-action
    * (count, order-independent `bit_xor(xxhash64)` checksum)
    * comparison per round — NOT a pairwise `exceptAll` diff, which
    * costs two extra shuffle joins per round and dominated wall-clock
    * when this was first measured (28 s at sf0.1). A checksum
    * collision masking a real change needs equal count AND equal
    * 64-bit xor over distinct edge sets — vanishing, and correctness
    * stays oracle-gated. Same contract as
    * [[connectedComponents]]: input is a 2-column pair relation,
    * output (v, label = component min). */
  def connectedComponentsBigStar(pairs: DataFrame): DataFrame = {
    def sym(df: DataFrame): DataFrame =
      df.select(col("a"), col("b"))
        .union(df.select(col("b").as("a"), col("a").as("b")))
        .filter(col("a") =!= col("b"))
        .distinct()
    def sig(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        count(lit(1)), bit_xor(xxhash64(col("a"), col("b")))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    val Seq(c1, c2) = pairs.columns.toSeq.map(col)
    var edges = sym(pairs.select(c1.as("a"), c2.as("b"))).localCheckpoint()
    var edgeSig = sig(edges)
    var converged = edgeSig._1 == 0L
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "star contraction exceeded 64 rounds")
      // large-star: for every u, (v > u) ↦ min(Γ(u) ∪ u)
      val minsL = edges.groupBy(col("a")).agg(min(col("b")).as("mn"))
        .select(col("a").as("u"), least(col("mn"), col("a")).as("m"))
      val large = edges.filter(col("b") > col("a"))
        .join(minsL, col("a") === col("u"))
        .select(col("b").as("a"), col("m").as("b"))
      // small-star: orient to the larger endpoint, attach its smaller
      // neighborhood (and itself) to the neighborhood minimum.
      // afterLarge stays lazy — only `next` materializes per round, so
      // a full round is two shuffles + one checkpoint + one agg action.
      val afterLarge = sym(large)
      val oriented = afterLarge.filter(col("b") < col("a"))
      val minsS = oriented.groupBy(col("a")).agg(min(col("b")).as("m"))
      val next = sym(
        oriented.join(minsS.select(col("a").as("u"), col("m")), col("a") === col("u"))
          .select(col("b").as("a"), col("m").as("b"))
          .union(minsS.select(col("a"), col("m").as("b"))))
        .localCheckpoint()
      val nextSig = sig(next)
      // A signature match is only a candidate fixpoint: confirm with one
      // exact set diff so a (count, xor)-collision can never end the
      // loop early. Both relations are distinct()ed with equal counts
      // here, so a one-sided exceptAll emptiness check proves equality.
      // The exact diff runs at most once per convergence (plus once per
      // vanishing collision), so the per-round cost argument for the
      // checksum is untouched.
      converged = nextSig == edgeSig && next.exceptAll(edges).isEmpty
      edgeSig = nextSig
      edges = next
    }
    edges.groupBy(col("a")).agg(min(col("b")).as("mn"))
      .select(col("a").as("v"), least(col("a"), col("mn")).as("label"))
  }

  /** Incremental connected-components maintenance: fold NEW pairs
    * into a previous labeling without re-clustering the corpus — the
    * append path of the dup-cluster lifecycle (the label analog of the
    * band-index delta segments). A previous labeling is a CONTRACTED
    * view of its edge set: every old component is one super-node named
    * by its min-id label. New edges can only (a) merge existing
    * components, (b) attach new vertices, or (c) land inside one
    * component — so CC over the contracted delta graph (endpoints
    * mapped through their old labels; new endpoints label themselves)
    * decides everything that can change. That graph has ≤ |new pairs|
    * edges, so the append cost is O(delta + affected components) and
    * NEVER O(all pairs ever) — at 100 TB the full relabel is the
    * hidden rebuild this path exists to avoid. The relabel join is on
    * the old LABEL (component-count-sized); min-label composition is
    * exact: a merged component's final label is the min over its
    * merged old labels, each already the min over its members.
    *
    * Both inputs use the caller's column pairing: `prevLabels` is
    * (v, label) as produced by [[connectedComponents]] /
    * [[connectedComponentsBigStar]]; returns the same shape for the
    * union edge set, provably equal to a from-scratch run (LineageSpec
    * property). */
  def incrementalComponents(prevLabels: DataFrame,
      newPairs: DataFrame): DataFrame = {
    val Seq(c1, c2) = newPairs.columns.toSeq.map(col)
    val prev = prevLabels.select(col("v"), col("label"))
    val d = newPairs.select(c1.as("a"), c2.as("b"))
    def tagged(side: String) = prev
      .select(col("v").as(side), col("label").as(s"l$side"))
    val contracted = d
      .join(tagged("a"), Seq("a"), "left_outer")
      .join(tagged("b"), Seq("b"), "left_outer")
      .select(coalesce(col("la"), col("a")).as("ca"),
        coalesce(col("lb"), col("b")).as("cb"))
      .filter(col("ca") =!= col("cb"))
    // CC over super-nodes: rows only for labels/new vertices that a
    // new edge actually touches — everything else keeps its label
    val merged = connectedComponents(contracted)
      .select(col("v").as("old"), col("label").as("nl"))
    val relabeled = prev
      .join(merged, prev("label") === col("old"), "left_outer")
      .select(col("v"), coalesce(col("nl"), col("label")).as("label"))
    // New vertices: delta endpoints the previous labeling never saw.
    // Any legitimate one (a pair with DISTINCT endpoints) survives the
    // contraction and is labeled by `merged`; the inner join therefore
    // also drops self-pair-only vertices, which a from-scratch run
    // excludes too (singletons never enter the graph).
    val newLabeled = d.select(col("a").as("v"))
      .union(d.select(col("b").as("v")))
      .distinct()
      .join(prev.select(col("v")), Seq("v"), "left_anti")
      .join(merged, col("v") === col("old"))
      .select(col("v"), col("nl").as("label"))
    relabeled.union(newLabeled)
  }

  /** PageRank rounds and damping — shared, via interpolation, with the
    * unrolled-CTE oracle so both engines iterate the identical
    * recurrence. */
  private val prIters = 8
  private val prDampLit = "0.85e0" // e-notation: both engines parse DOUBLE
  private val prRestLit = "0.15e0"

  /** DuckDB's `round(x, n)` on a double: `floor(x·10ⁿ + 0.5)/10ⁿ` on
    * the BINARY value (verified by fuzz against the engine). q111's
    * recurrence runs driver-side and is checked against a DuckDB CTE —
    * Spark expressions are never involved — so DuckDB semantics IS the
    * parity contract here. (Spark's `round` goes through the decimal
    * shortest-repr instead and disagrees exactly on repr-boundary
    * values like 0.283357775 whose binary value sits below the .5;
    * iteration state built from rounded quantities lands on such
    * boundaries often, so the distinction is load-bearing.) */
  private def roundN(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    math.floor(x * p + 0.5) / p
  }

  /** q111: PageRank over the lineage DAG — "which tables does the
    * warehouse lean on". Damping 0.85, [[prIters]] synchronous rounds,
    * dangling mass redistributed uniformly.
    *
    * Scale note: a lineage graph is CATALOG-sized (tables, not rows —
    * ≤10⁵ edges on any real warehouse), so the 100 TB design is the
    * model-loop pattern (`computeIvfCentroids` precedent): collect the
    * persisted FK-edge artifact once and iterate on the driver —
    * 8 tiny in-memory rounds instead of 8 shuffling join+agg stages
    * whose inputs would never exceed driver scale anyway. Row-scale
    * graphs (the doc near-dup graph) use the distributed
    * [[connectedComponents]]/[[connectedComponentsBigStar]] family
    * instead.
    *
    * Parity: per-round state is rounded to 8 dp and per-edge
    * contributions to 12 dp (sum terms rounded BEFORE summing), the
    * same recurrence the oracle unrolls as a CTE chain; ranks emitted
    * in integer 1e8-units. */
  def pageRank(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val es = lineageEdges(s, dir).collect()
      .map(r => (r.getString(0), r.getString(1))) // catalog-sized
    val nodes = (es.map(_._1) ++ es.map(_._2)).distinct.sorted
    val n = nodes.length
    val outdeg = es.groupBy(_._1).map { case (k, v) => k -> v.length }
    var pr: Map[String, Double] = nodes.map(_ -> roundN(1.0 / n, 8)).toMap
    (1 to prIters).foreach { _ =>
      val inflow = es.sortBy(_._1).groupBy(_._2).map { case (dst, in) =>
        dst -> in.map { case (src, _) => roundN(pr(src) / outdeg(src), 12) }.sum
      }
      val dang = nodes.filterNot(outdeg.contains).map(pr).sum
      pr = nodes.map { v =>
        v -> roundN(0.15 / n + 0.85 * (inflow.getOrElse(v, 0.0) + dang / n), 8)
      }.toMap
    }
    val ranked = nodes.map(v => (v, math.round(pr(v) * 100000000.0)))
      .sortBy { case (v, e8) => (-e8, v) }
      .zipWithIndex
      .map { case ((v, e8), i) => (v, e8, (i + 1).toLong) }
    ranked.toSeq.toDF("node", "pr_e8", "rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q19_lineage_edges" -> lineageEdges,
    "q20_lineage_closure" -> lineageClosure,
    "q111_pagerank" -> pageRank,
  )

  private val edgeValues =
    """(VALUES ('nation','region'),('customer','nation'),
      |  ('supplier','nation'),('orders','customer'),
      |  ('lineitem','orders'),('lineitem','part'),
      |  ('lineitem','supplier'),('events','events')) AS t(src, dst)""".stripMargin

  val oracles: Map[String, String] = Map(
    "q19_lineage_edges" ->
      s"""SELECT src, dst FROM $edgeValues
         |WHERE src <> dst ORDER BY src, dst""".stripMargin,
    "q20_lineage_closure" ->
      s"""WITH RECURSIVE e(src, dst) AS (
         |  SELECT src, dst FROM $edgeValues WHERE src <> dst),
         |c(src, anc) AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT c.src, e.dst FROM c JOIN e ON c.anc = e.src)
         |SELECT src, anc FROM c ORDER BY src, anc""".stripMargin,
    "q111_pagerank" -> {
      val steps = (0 until prIters).map { t =>
        s"""inf$t AS (SELECT dst AS node,
           |    sum(round(pr / outdeg, 12)) AS inflow
           |  FROM e JOIN pr$t ON e.src = pr$t.node
           |  JOIN od ON e.src = od.src GROUP BY dst),
           |dg$t AS (SELECT coalesce(sum(pr), 0e0) AS dang FROM pr$t
           |  LEFT JOIN od ON pr$t.node = od.src WHERE od.src IS NULL),
           |pr${t + 1} AS (SELECT nodes.node,
           |    round($prRestLit / n
           |      + $prDampLit * (coalesce(inflow, 0e0) + dang / n), 8) AS pr
           |  FROM nodes CROSS JOIN nn CROSS JOIN dg$t
           |  LEFT JOIN inf$t ON nodes.node = inf$t.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH e AS (SELECT src, dst FROM $edgeValues WHERE src <> dst),
         |nodes AS (SELECT DISTINCT src AS node FROM e
         |  UNION SELECT DISTINCT dst FROM e),
         |nn AS (SELECT count(*) AS n FROM nodes),
         |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY src),
         |pr0 AS (SELECT node, round(1.0 / n, 8) AS pr
         |  FROM nodes CROSS JOIN nn),
         |$steps
         |SELECT node, CAST(round(pr * 100000000.0) AS BIGINT) AS pr_e8,
         |  row_number() OVER (ORDER BY pr DESC, node) AS rank
         |FROM pr$prIters ORDER BY rank""".stripMargin
    },
  )
}
