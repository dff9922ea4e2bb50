package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multi-dimensional clustering (Z-order) layout for scan pruning —
  * the lakehouse `OPTIMIZE … ZORDER BY` operation re-expressed on
  * plain Spark + parquet (reference tables are point-and-range
  * filtered on more than one key, e.g. `observe_assets.py:60-103`'s
  * per-entity slices over time; a single-column sort layout prunes
  * only its leading column).
  *
  * A Z-value interleaves the bits of two keys, so sorting by it makes
  * every contiguous run of rows — hence every parquet ROW GROUP — a
  * small rectangle in (a, b) space. A reader with predicates on
  * EITHER or BOTH keys skips row groups whose footer min/max
  * rectangle misses the box; with a linear layout the non-leading
  * column's min/max spans the whole domain in every row group and
  * nothing skips. 31 bits per dimension are interleaved — complete
  * for any non-negative int32-range key, not a tuned constant; keys
  * simply never set higher bits ([[Zcurve]] in Morton 1966's
  * formulation).
  *
  * Scale shape: computing z is a map-only codegen'd projection;
  * laying out is ONE range shuffle (`repartitionByRange` samples z)
  * plus an in-partition spill-safe sort — the exact cost of the
  * single-column sort layout it replaces. The payoff is footer-stat
  * row-group pruning on every clustered dimension at read time,
  * which at 100 TB is the difference between scanning a file set and
  * scanning a rectangle. [[rowGroupStats]] exposes the footer
  * rectangles as a relation so the pruning claim is MEASURED
  * (LayoutSpec counts box-intersecting row groups, z vs linear), the
  * same footer-only distributed read as `Compact.footerInventory`.
  */
object Layout {

  /** Morton Z-value of two non-negative long keys: bit i of `a` lands
    * at bit 2i, bit i of `b` at 2i+1 — 62 result bits, sign-safe in a
    * BIGINT. A 62-term codegen'd shift/mask sum, no UDF.
    *
    * Interleave NORMALIZED inputs: raw keys of different magnitudes
    * (an 8-bit supplier id against a 21-bit part id) put one
    * dimension entirely into low-order bits — the "z" order collapses
    * to a linear sort on the wide key with jitter, and the layout
    * prunes WORSE than a plain sort (measured in LayoutSpec's first
    * failing iteration). [[bucketOf]] is the normalizer. */
  def zvalue(a: Column, b: Column): Column =
    (0 until 31).map { i =>
      shiftleft(shiftright(a, i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b, i).bitwiseAND(lit(1L)), 2 * i + 1)
    }.reduce(_ + _)

  /** Equal-width bucket index of `c` in [0, buckets): integer-exact
    * `(c - mn) * buckets / (mx - mn + 1)` — the normalization that
    * puts both dimensions on one scale before interleaving (the
    * range-id normalization of lakehouse ZORDER implementations,
    * equal-width because the fixture keys are dense surrogates; a
    * skewed dimension would derive cut points from a quantile sketch
    * instead). min/max ride as literals: one metadata-sized agg. */
  def bucketOf(c: String, mn: Long, mx: Long, buckets: Int): Column =
    // SQL `div` — INTEGER division (Column./ is floating and would
    // drift at bignum boundaries)
    expr(s"(($c - ${mn}L) * ${buckets}L) div ${mx - mn + 1}L")

  /** The DuckDB formulation of the normalized z-value — the same
    * bucket + 31-step interleave, for oracle parity. `a`/`b` are SQL
    * fragments already in bucket space. */
  def duckZvalue(a: String, b: String): String =
    s"list_sum([((($a >> i) & 1) << (2*i)) + ((($b >> i) & 1) << (2*i+1)) " +
      s"for i in generate_series(0, 30)])"

  /** `bucketOf` as a DuckDB fragment (integer division). */
  def duckBucket(c: String, mn: String, mx: String, buckets: Int): String =
    s"(($c - $mn) * $buckets // ($mx - $mn + 1))"

  /** Write `df` Z-ordered on (`ca`, `cb`) into `nFiles` parquet files:
    * one range shuffle on z, one in-partition sort, original schema
    * (the z column does not land in the layout — it is an ordering
    * device, recomputable from the keys). */
  def zorderWrite(df: DataFrame, ca: String, cb: String, path: String,
      nFiles: Int, buckets: Int = 256): Unit = {
    val cols = df.columns.map(col)
    val Seq(aMn, aMx, bMn, bMx) = df
      .agg(min(ca), max(ca), min(cb), max(cb)).collect()
      .headOption.map(r => Seq(r.getLong(0), r.getLong(1),
        r.getLong(2), r.getLong(3))).getOrElse(Seq(0L, 0L, 0L, 0L))
    df.withColumn("_z", zvalue(
        bucketOf(ca, aMn, aMx, buckets),
        bucketOf(cb, bMn, bMx, buckets)))
      .repartitionByRange(nFiles, col("_z"))
      .sortWithinPartitions("_z")
      .select(cols.toIndexedSeq: _*)
      .write.mode("overwrite").parquet(path)
  }

  /** Per-row-group footer min/max of integer columns, as a relation:
    * `(file, rg, rows, col, min_v, max_v)`. Footer-only — zero data
    * pages — distributed with the session's Hadoop conf broadcast to
    * the tasks (the `footerInventory` discipline: a bare
    * `Configuration()` would drop object-store credentials exactly
    * where this matters). This is the reader's own pruning input
    * surfaced as data: a layout's quality IS the size of these
    * rectangles. */
  def rowGroupStats(s: SparkSession, path: String,
      cols: Seq[String]): DataFrame = {
    import s.implicits._
    import scala.jdk.CollectionConverters._
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(new Path(path)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val confEntries = {
      val hc = s.sessionState.newHadoopConf()
      hc.iterator().asScala.map(e => (e.getKey, e.getValue)).toArray
    }
    val hcB = s.sparkContext.broadcast(confEntries)
    val slices = math.max(1,
      math.min(files.size, s.sparkContext.defaultParallelism))
    val want = cols.toSet
    s.sparkContext.parallelize(files, slices).mapPartitions { it =>
      val conf = new org.apache.hadoop.conf.Configuration(false)
      hcB.value.foreach { case (k, v) => conf.set(k, v) }
      it.flatMap { f =>
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new Path(f), conf))
        try {
          reader.getFooter.getBlocks.asScala.toSeq.zipWithIndex.flatMap {
            case (b, i) =>
              b.getColumns.asScala
                .filter(c => want(c.getPath.toDotString))
                .flatMap { c =>
                  val st = c.getStatistics
                  if (st == null || !st.hasNonNullValue) None
                  else Some((f.substring(f.lastIndexOf('/') + 1), i,
                    b.getRowCount, c.getPath.toDotString,
                    st.genericGetMin.toString.toLong,
                    st.genericGetMax.toString.toLong))
                }
          }
        } finally reader.close()
      }
    }.toDF("file", "rg", "rows", "col", "min_v", "max_v")
  }

  /** q105: the normalized Z-curve itself, verified bit-for-bit — the
    * first 100 lineitem rows along the (l_partkey, l_suppkey) curve.
    * Dimension min/max ride as literals (one metadata-sized agg, the
    * Lloyd-model pattern); the engine plans a TakeOrderedAndProject
    * (top-k, never a full sort). */
  def zorderKeys(s: SparkSession, dir: String): DataFrame = {
    val li = s.read.parquet(s"$dir/lineitem.parquet")
    val Seq(pMn, pMx, sMn, sMx) = li
      .agg(min("l_partkey"), max("l_partkey"),
        min("l_suppkey"), max("l_suppkey")).collect()
      .map(r => Seq(r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).head
    li.select(col("l_orderkey"), col("l_linenumber"), col("l_partkey"),
        col("l_suppkey"))
      .withColumn("z", zvalue(
        bucketOf("l_partkey", pMn, pMx, 256),
        bucketOf("l_suppkey", sMn, sMx, 256)))
      .orderBy(col("z"), col("l_orderkey"), col("l_linenumber"))
      .limit(100)
  }

  /** Zone-map pruning as an EXECUTABLE read path (not just the
    * [[rowGroupStats]] report): the per-file min/max rectangles of
    * `probeCol` decide which files a range predicate needs, and only
    * those paths reach `spark.read`. The rectangle collect is
    * #files-sized metadata (the `Tables.discover` class — zero data
    * pages, footer stats only); the payoff is the governing scan-cost
    * equation at 100 TB: a range query over a [[clusteredWrite]] /
    * [[zorderWrite]] layout opens O(selectivity · files), not O(files)
    * — LayoutSpec measures the skipped-file count on a 4-file range
    * layout, and correctness (≡ the full filtered scan) is q126's
    * oracle. Files without footer stats never appear in the rectangle
    * relation, so they are conservatively... NOT read — which is why
    * [[pruneFiles]] keeps a file unless its rectangle PROVES
    * disjointness: absence of stats keeps the file. `probeCol` must be
    * a physical int64 column (footer min/max parse as longs — the
    * [[rowGroupStats]] constraint). */
  def pruneFiles(s: SparkSession, path: String, probeCol: String,
      lo: Long, hi: Long): (Seq[String], Int) = {
    import s.implicits._
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(new Path(path)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val rects = rowGroupStats(s, path, Seq(probeCol))
      .groupBy(col("file"))
      .agg(min(col("min_v")).as("mn"), max(col("max_v")).as("mx"))
      .collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    val kept = all.filter { f =>
      rects.get(f.substring(f.lastIndexOf('/') + 1)) match {
        case Some((mn, mx)) => mx >= lo && mn <= hi // overlap
        case None => true // no stats — cannot prove disjoint, must read
      }
    }
    (kept.sorted, all.size)
  }

  /** The pruned scan itself; the residual filter still applies (file
    * granularity over-approximates the predicate). */
  def prunedScan(s: SparkSession, path: String, probeCol: String,
      lo: Long, hi: Long): DataFrame = {
    val (kept, _) = pruneFiles(s, path, probeCol, lo, hi)
    if (kept.isEmpty)
      s.read.parquet(path).filter(lit(false))
    else
      s.read.parquet(kept: _*)
        .filter(col(probeCol).between(lo, hi))
  }

  // ---- E93: bloom-filtered point-lookup layout ------------------------

  private val bloomLock = new Object

  /** Hash-scattered parquet layout of lineitem with a COLUMN BLOOM
    * FILTER on `l_orderkey` (parquet-mr's split-block bloom, written
    * via the `parquet.bloom.filter.enabled#col` option). This is the
    * layout regime zone maps cannot serve: a high-cardinality key
    * hash-scattered across files makes every file's min/max rectangle
    * span the whole domain ([[pruneFiles]] keeps everything), while
    * each file's bloom proves ABSENCE for a point key with ~1% false
    * positives — the complementary pruning structure (zone maps answer
    * ranges on clustered keys; blooms answer equality on scattered
    * ones). Expected NDV is DERIVED from the table's row count (a
    * parquet-metadata count, no data pages), never a fixture constant.
    *
    * Built once per source state under the IndexStore root, keyed by
    * the same (files × version) fingerprint — later sessions attach.
    * Staged and published by one rename like every artifact, with the
    * store's retention. Not a registry artifact: its writer sets bloom
    * options and a fixed file count that publish-time compaction would
    * undo. */
  def bloomLayout(s: SparkSession, dir: String,
      nFiles: Int = 8): String = bloomLock.synchronized {
    val src = s"$dir/lineitem.parquet"
    val fp = graft.observe.IndexStore.fingerprint(s, src, version = nFiles)
    val base = new Path(s"${graft.observe.IndexStore.root(s)}/bloom_lineitem")
    val loc = new Path(base, s"fp=$fp")
    val f = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!f.exists(new Path(loc, "_SUCCESS"))) {
      if (f.exists(loc)) f.delete(loc, true) // torn earlier build
      val tmp = new Path(base, s".build-$fp-${System.nanoTime()}")
      val rows = graft.Tables.rowCount(s, Seq(src)) // footer count
      graft.Tables.scan(s, Seq(src))
        .repartition(nFiles, col("l_orderkey"))
        .write.mode("overwrite")
        .option("parquet.bloom.filter.enabled#l_orderkey", "true")
        .option("parquet.bloom.filter.expected.ndv#l_orderkey",
          math.max(1024L, rows / 2).toString)
        // parquet-mr SKIPS the bloom when a chunk stays fully
        // dictionary-encoded (the dictionary already proves absence).
        // At 100 TB a surrogate key always overflows the dictionary
        // into plain encoding and the bloom appears on its own; the
        // small fixture would dictionary-encode and write NO bloom, so
        // plain encoding is forced on the key column to exercise the
        // same layout the production regime produces.
        .option("parquet.enable.dictionary#l_orderkey", "false")
        .parquet(tmp.toString)
      // another process may have published meanwhile: keep its layout
      if (f.exists(new Path(loc, "_SUCCESS")) || !f.rename(tmp, loc))
        f.delete(tmp, true)
      graft.observe.IndexStore.retainNewest(f, base)
    }
    loc.toString
  }

  /** Bloom-pruned file set for a point-lookup key list: a file is kept
    * only if SOME row group's bloom admits SOME probe key (or proof is
    * unavailable — missing column chunk or bloom ⇒ conservatively
    * read, the [[pruneFiles]] discipline). Footer + bloom bitset reads
    * only — bitsets are bounded by the writer (≤ ~1 MiB each), so this
    * is #files-sized metadata like the rectangle collect. */
  def bloomPruneFiles(s: SparkSession, path: String, keyCol: String,
      keys: Seq[Long]): (Seq[String], Int) = {
    import scala.jdk.CollectionConverters._
    val fs = new Path(path).getFileSystem(s.sparkContext.hadoopConfiguration)
    val all = fs.listStatus(new Path(path)).toSeq
      .filter(st => st.isFile && st.getPath.getName.endsWith(".parquet"))
      .map(_.getPath.toString)
    val conf = s.sessionState.newHadoopConf()
    val kept = all.filter { file =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
          new Path(file), conf))
      try {
        reader.getFooter.getBlocks.asScala.exists { b =>
          b.getColumns.asScala.find(_.getPath.toDotString == keyCol) match {
            case None => true // column chunk missing — cannot prove
            case Some(c) =>
              val bf = reader.getBloomFilterDataReader(b).readBloomFilter(c)
              if (bf == null) true // no bloom written — must read
              else keys.exists(k => bf.findHash(bf.hash(k)))
          }
        }
      } finally reader.close()
    }
    (kept.sorted, all.size)
  }

  /** The bloom-pruned point scan; the exact `isin` filter still
    * applies (a bloom keeps false-positive files, never drops true
    * ones). */
  def bloomPointScan(s: SparkSession, path: String, keyCol: String,
      keys: Seq[Long]): DataFrame = {
    val (kept, _) = bloomPruneFiles(s, path, keyCol, keys)
    if (kept.isEmpty) s.read.parquet(path).filter(lit(false))
    else s.read.parquet(kept: _*).filter(col(keyCol).isin(keys: _*))
  }

  /** q130: a point-lookup rollup served through the bloom-pruned
    * layout — must equal the plain filtered aggregate over the source
    * table whatever the file layout (the q126 contract, equality
    * flavor). Probe keys derive from the key domain (max/7 × 1..5 —
    * the oracle re-derives the same five), so the query is meaningful
    * at every scale factor. */
  def bloomPointRollup(s: SparkSession, dir: String): DataFrame = {
    val layout = bloomLayout(s, dir)
    val mx = s.read.parquet(s"$dir/lineitem.parquet")
      .agg(max("l_orderkey")).collect().head.getLong(0)
    val keys = (1L to 5L).map(i => math.max(1L, (mx / 7) * i))
    bloomPointScan(s, layout, "l_orderkey", keys)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("bigint").as("sum_qty"),
        countDistinct(col("l_orderkey")).as("n_keys"))
  }

  /** q126: a range rollup served through [[prunedScan]] — must equal
    * the plain filtered aggregate (the oracle), whatever the file
    * layout. */
  def prunedRangeRollup(s: SparkSession, dir: String): DataFrame =
    prunedScan(s, s"$dir/lineitem.parquet", "l_orderkey", 1000L, 2000L)
      .agg(
        count(lit(1)).as("n"),
        sum(col("l_quantity")).cast("bigint").as("sum_qty"),
        min(col("l_orderkey")).as("min_key"),
        max(col("l_orderkey")).as("max_key"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q105_zorder_keys" -> zorderKeys,
    "q126_pruned_range_rollup" -> prunedRangeRollup,
    "q130_bloom_point_lookup" -> bloomPointRollup,
  )

  def oracles: Map[String, String] = {
    // min/max ride via a one-row CTE cross join — DuckDB forbids
    // subqueries inside the interleave lambda
    val pb = duckBucket("l_partkey", "pmn", "pmx", 256)
    val sb = duckBucket("l_suppkey", "smn", "smx", 256)
    Map(
      // the plain filtered scan the bloom-pruned serve path must equal;
      // the oracle re-derives the same five probe keys from the domain
      "q130_bloom_point_lookup" ->
        """WITH mm AS (SELECT max(l_orderkey) AS mx FROM lineitem),
          |ks AS (SELECT DISTINCT greatest(1, (mx // 7) * i) AS k
          |       FROM mm, generate_series(1, 5) AS t(i))
          |SELECT count(*) AS n,
          |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |  count(DISTINCT l_orderkey) AS n_keys
          |FROM lineitem WHERE l_orderkey IN (SELECT k FROM ks)""".stripMargin,
      // the plain filtered scan the pruned serve path must equal
      "q126_pruned_range_rollup" ->
        """SELECT count(*) AS n,
          |  CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
          |  min(l_orderkey) AS min_key, max(l_orderkey) AS max_key
          |FROM lineitem
          |WHERE l_orderkey BETWEEN 1000 AND 2000""".stripMargin,
      "q105_zorder_keys" ->
        s"""WITH mm AS (SELECT min(l_partkey) AS pmn, max(l_partkey) AS pmx,
           |  min(l_suppkey) AS smn, max(l_suppkey) AS smx FROM lineitem)
           |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
           |  CAST(${duckZvalue(pb, sb)} AS BIGINT) AS z
           |FROM lineitem, mm
           |ORDER BY z, l_orderkey, l_linenumber LIMIT 100""".stripMargin,
    )
  }
}
