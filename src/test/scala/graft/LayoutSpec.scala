package graft

import org.apache.spark.sql.functions._

import graft.sources.Layout

/** Z-order layout: the interleave math against an independent Scala
  * reimplementation, and the pruning claim MEASURED — row groups a
  * two-dimensional box predicate must touch, z-ordered vs linear. */
class LayoutSpec extends SparkSuite {

  /** Independent bit-interleave (loop over bits, no Spark). */
  private def zRef(a: Long, b: Long): Long = {
    var z = 0L
    var i = 0
    while (i < 31) {
      z |= ((a >> i) & 1L) << (2 * i)
      z |= ((b >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    z
  }

  test("zvalue matches an independent bit-interleave on edge and " +
    "random keys") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(7)
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (Int.MaxValue.toLong, 0L),
      (0L, Int.MaxValue.toLong), (Int.MaxValue.toLong, Int.MaxValue.toLong)) ++
      Seq.fill(50)((rnd.nextInt(Int.MaxValue).toLong,
        rnd.nextInt(Int.MaxValue).toLong))
    val got = cases.toDF("a", "b")
      .select(col("a"), col("b"), Layout.zvalue(col("a"), col("b")).as("z"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    cases.foreach { case (a, b) =>
      assert(got((a, b)) === zRef(a, b), s"z($a, $b)")
    }
  }

  test("z-order layout prunes 2-D boxes: over an aligned 4×4 grid of " +
    "box predicates, far fewer row-group rectangles intersect than " +
    "under a linear sort layout") {
    val s = spark
    val li = s.read.parquet(s"$sf/lineitem.parquet")
      .select("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey")
    val base = tempDir("graft-layout").toString
    val nFiles = 64
    // linear layout: the single-column sort a naive pipeline writes
    li.repartitionByRange(nFiles, col("l_partkey"))
      .sortWithinPartitions("l_partkey")
      .write.mode("overwrite").parquet(s"$base/linear")
    Layout.zorderWrite(li, "l_partkey", "l_suppkey", s"$base/zorder", nFiles)

    // same data landed in both layouts
    val n = li.count()
    assert(s.read.parquet(s"$base/linear").count() === n)
    assert(s.read.parquet(s"$base/zorder").count() === n)

    val Array(pMax, sMax) = li
      .agg(max("l_partkey"), max("l_suppkey")).collect()
      .map(r => Array(r.getLong(0), r.getLong(1))).head
    // every box of the aligned 4×4 grid: each constrains BOTH dims to
    // a quarter of their range — the workload shape (point-ish slices
    // on two keys) multi-dimensional clustering exists for
    val boxes = for (i <- 0 until 4; j <- 0 until 4) yield Map(
      "l_partkey" -> (pMax * i / 4 + 1, pMax * (i + 1) / 4),
      "l_suppkey" -> (sMax * j / 4 + 1, sMax * (j + 1) / 4))

    def touched(path: String): Long = {
      val stats = Layout.rowGroupStats(s, path,
        Seq("l_partkey", "l_suppkey"))
        .collect()
        .groupBy(r => (r.getString(0), r.getInt(1)))
        .view.mapValues(_.map(r =>
          r.getString(3) -> (r.getLong(4), r.getLong(5))).toMap)
        .toMap
      // a row group survives pruning iff its [min,max] rectangle
      // intersects the box on EVERY predicate column
      boxes.map { box =>
        stats.count { case (_, rect) =>
          box.forall { case (c, (lo, hi)) =>
            rect.get(c).exists { case (mn, mx) => mx >= lo && mn <= hi }
          }
        }.toLong
      }.sum
    }

    val linear = touched(s"$base/linear")
    val zorder = touched(s"$base/zorder")
    // the linear layout prunes l_partkey fine but every surviving
    // group spans all of l_suppkey; z-order must beat it decisively
    assert(zorder * 2 <= linear,
      s"expected ≥2× pruning across the grid: z=$zorder linear=$linear")
  }

  test("prunedScan: a range-clustered layout serves a narrow range " +
    "from a strict file subset, result identical to the full scan") {
    import org.apache.spark.sql.functions._
    val base = tempDir("graft_prune")
      .toString
    val out = s"$base/clustered"
    graft.observe.Compact.clusteredWrite(
      spark, s"$sf/orders.parquet", out, 4, Seq("o_orderkey"))
    // a range inside one quarter of the key space
    val keys = spark.read.parquet(out)
      .agg(min(col("o_orderkey")), max(col("o_orderkey"))).collect()(0)
    val (kMin, kMax) = (keys.getLong(0), keys.getLong(1))
    val lo = kMin
    val hi = kMin + (kMax - kMin) / 8
    val (kept, total) = graft.sources.Layout.pruneFiles(
      spark, out, "o_orderkey", lo, hi)
    assert(total === 4)
    assert(kept.size < total,
      s"narrow range must skip files: kept ${kept.size} of $total")
    val served = graft.sources.Layout
      .prunedScan(spark, out, "o_orderkey", lo, hi)
      .agg(count(lit(1)), sum(col("o_totalprice"))).collect()(0)
    val full = spark.read.parquet(out)
      .filter(col("o_orderkey").between(lo, hi))
      .agg(count(lit(1)), sum(col("o_totalprice"))).collect()(0)
    assert(served === full, "pruned serve path must equal the full scan")
    // disjoint range → zero files, empty result, schema intact
    val (none, _) = graft.sources.Layout.pruneFiles(
      spark, out, "o_orderkey", kMax + 10, kMax + 20)
    assert(none.isEmpty)
    assert(graft.sources.Layout
      .prunedScan(spark, out, "o_orderkey", kMax + 10, kMax + 20)
      .count() === 0L)
  }

  test("bloom layout: point lookups skip files zone maps cannot, " +
    "serve path identical to the full scan") {
    import org.apache.spark.sql.functions._
    // scoped index root so the layout builds fresh in this test
    val prevRoot = spark.conf.getOption("spark.graft.indexDir")
    val scratch = tempDir("graft_bloom").toString
    spark.conf.set("spark.graft.indexDir", scratch)
    try {
      val layout = Layout.bloomLayout(spark, sf, nFiles = 8)
      val mx = spark.read.parquet(s"$sf/lineitem.parquet")
        .agg(max("l_orderkey")).collect()(0).getLong(0)
      val probe = Seq(math.max(1L, mx / 3))
      // hash-scattered: every file's min/max rectangle spans the
      // domain, so ZONE-MAP pruning keeps everything...
      val (zoneKept, total) = Layout.pruneFiles(
        spark, layout, "l_orderkey", probe.head, probe.head)
      assert(total === 8)
      assert(zoneKept.size === total,
        "scattered layout must defeat min/max pruning (the bloom regime)")
      // ...while the BLOOM proves absence for all but the key's own
      // file (plus ~1% false positives; 8 files ⇒ strict subset whp)
      val (bloomKept, _) = Layout.bloomPruneFiles(
        spark, layout, "l_orderkey", probe)
      assert(bloomKept.nonEmpty && bloomKept.size < total,
        s"bloom must skip files: kept ${bloomKept.size} of $total")
      val served = Layout
        .bloomPointScan(spark, layout, "l_orderkey", probe)
        .agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
      val full = spark.read.parquet(layout)
        .filter(col("l_orderkey").isin(probe: _*))
        .agg(count(lit(1)), sum(col("l_quantity"))).collect()(0)
      assert(served === full, "bloom serve path must equal the full scan")
      assert(served.getLong(0) > 0L, "the probe key must exist")
      // an absent key: pruned to (whp) nothing, result empty regardless
      assert(Layout.bloomPointScan(
        spark, layout, "l_orderkey", Seq(mx + 987654321L)).count() === 0L)
    } finally {
      prevRoot match {
        case Some(r) => spark.conf.set("spark.graft.indexDir", r)
        case None => spark.conf.unset("spark.graft.indexDir")
      }
    }
  }
}
