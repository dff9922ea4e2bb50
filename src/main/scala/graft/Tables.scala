package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, GraftBridge, SparkSession}
import org.apache.spark.sql.types.StructType

/** Parquet table loader over a scale-factor directory.
  *
  * Stands in for the reference's catalog walk + managed-table reads
  * (reference `table_discovery.py:16-43` S1-S3, `customer_assets.py:11` S7):
  * in our engine the "warehouse" is a directory of Parquet files and every
  * read goes through Spark's vectorized Parquet reader, so filter pushdown
  * and column pruning reach the scan for free.
  *
  * 100 TB design note: at scale each logical table would be a partitioned
  * directory (`lineitem/ship_date=YYYY-MM-DD/part-N.parquet`) registered in a real
  * catalog; the loader API stays identical — one parquet scan per path
  * ([[scan]]) — and partition pruning replaces file-level pruning
  * automatically.
  */
object Tables {
  val tpch: Seq[String] =
    Seq("region", "nation", "customer", "supplier", "part", "orders", "lineitem")
  val all: Seq[String] = tpch ++ Seq("events", "documents", "embeddings")

  /** REAL discovery (S1-S3): list `*.parquet` tables from the
    * warehouse directory — a single file or a part-file directory, so
    * a new table appears in the catalog without code changes.
    * Driver-side O(#tables) metadata, like the reference's SHOW walk. */
  def discover(dir: String): Seq[String] = {
    val d = new java.io.File(dir)
    val found = Option(d.listFiles())
      .getOrElse(Array.empty)
      .filter(_.getName.endsWith(".parquet"))
      .map(_.getName.stripSuffix(".parquet"))
      .toSeq
      .sorted
    if (found.nonEmpty) found else all // fallback: S1's literal-DF analog
  }

  /** The data files of a parquet path, as Spark's file index sees
    * them: the path itself when it is a file, else every non-empty
    * file below it — `k=v` partition dirs included — whose name Spark
    * does not skip (`.`-prefixed, or `_`-prefixed without an `=`),
    * sorted by path; empty when the path is missing. A table is either
    * form, so every per-file consumer (footer memo, split estimates,
    * footer inventories) lists through here. */
  private[graft] def dataFiles(spark: SparkSession, path: String)
      : Seq[org.apache.hadoop.fs.FileStatus] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    val st = try fs.getFileStatus(p) catch {
      case _: java.io.FileNotFoundException => return Nil
    }
    def skipped(n: String) =
      n.startsWith(".") || (n.startsWith("_") && !n.contains("="))
    def walk(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
      fs.listStatus(d).toSeq.filterNot(f => skipped(f.getPath.getName))
        .flatMap(f => if (f.isDirectory) walk(f.getPath)
          else if (f.getLen > 0) Seq(f) else Nil)
    if (!st.isDirectory) Seq(st)
    else walk(p).sortBy(_.getPath.toString)
  }

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    if (name == "events") loadEvents(spark, dir) else
      scan(spark, Seq(s"$dir/$name.parquet"))

  /** Per-file FOOTER memo — the role a metastore's table statistics
    * play at 100 TB: a bare `spark.read.parquet(paths)` runs a
    * schema-inference job on every call, and a `count()` over a plain
    * scan runs a job to sum what the footers already hold. The memo
    * keeps each data file's Spark schema and row count — metadata
    * only, never rows — keyed by the file's `path|len|mtime` identity
    * ([[graft.observe.IndexStore.manifestLine]], the artifact
    * fingerprint's own preimage line), so a rewritten file gets a new
    * key and is read again, and an append reads only the new files'
    * footers. Schemas are converted under the reading session's conf
    * (the converter flags prefix the key: the legacy nanos flag turns
    * `events.ts` into a long). */
  private final case class Footer(schema: StructType, rows: Long)

  private val footers = new java.util.concurrent.ConcurrentHashMap[String, Footer]()

  /** Files in many artifacts share one schema: one instance each. */
  private val schemas =
    new java.util.concurrent.ConcurrentHashMap[StructType, StructType]()

  /** Leak guard for a long-lived process over many source states. */
  private val maxFooters = 1 << 16

  /** Footers read from storage since the process started: the memo's
    * miss traffic. */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong()

  private def footersOf(spark: SparkSession,
      files: Seq[org.apache.hadoop.fs.FileStatus]): Seq[Footer] = {
    val conf = spark.sessionState.conf
    val conv = Seq(conf.isParquetBinaryAsString, conf.isParquetINT96AsTimestamp,
      conf.caseSensitiveAnalysis, conf.parquetInferTimestampNTZEnabled,
      conf.legacyParquetNanosAsLong, conf.parquetIgnoreVariantAnnotation)
      .map(b => if (b) '1' else '0').mkString
    val keys = files.map(f => s"$conv|${graft.observe.IndexStore.manifestLine(f)}")
    val hits = keys.map(footers.get)
    val missing = files.indices.filter(hits(_) == null)
    if (missing.isEmpty) hits
    else {
      if (footers.size > maxFooters) { footers.clear(); schemas.clear() }
      val metas = GraftBridge.readFooters(
        spark.sessionState.newHadoopConf(), missing.map(files))
      footerReads.addAndGet(metas.size)
      val read = missing.zip(metas).map { case (i, meta) =>
        val schema = GraftBridge.footerSchema(conf, files(i).getPath, meta)
        val ft = Footer(schemas.computeIfAbsent(schema, identity[StructType]),
          meta.getBlocks.asScala.map(_.getRowCount).sum)
        footers.put(keys(i), ft)
        i -> ft
      }.toMap
      hits.indices.map(i => read.getOrElse(i, hits(i)))
    }
  }

  /** The one parquet scan entry for source tables and artifact
    * segments: `spark.read.parquet(paths)` with the schema inference
    * answered from the footer memo. Like inference, the schema is the
    * first data file's (by path; partition columns under `k=v` dirs
    * are still discovered from the paths). Paths without any data
    * file read bare, so Spark reports them as it always has. */
  private[graft] def scan(spark: SparkSession, paths: Seq[String],
      basePath: Option[String] = None): DataFrame = {
    val reader = basePath.fold(spark.read)(b => spark.read.option("basePath", b))
    val files = paths.flatMap(dataFiles(spark, _))
    if (files.isEmpty) reader.parquet(paths: _*)
    else reader.schema(footersOf(spark, Seq(files.minBy(_.getPath.toString)))
      .head.schema).parquet(paths: _*)
  }

  /** `scan(paths).count()` summed from the footers, no job: a
    * steady-state call reads only the footers of files it has not
    * seen. Paths without any data file count through the scan, which
    * fails the way the bare read does. */
  def rowCount(spark: SparkSession, paths: Seq[String]): Long = {
    val files = paths.flatMap(dataFiles(spark, _))
    if (files.isEmpty) scan(spark, paths).count()
    else footersOf(spark, files).map(_.rows).sum
  }

  /** [[rowCount]] of warehouse table `name`. */
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    rowCount(spark, Seq(s"$dir/$name.parquet"))

  /** Load + spread: round-robin repartition to the cluster's core count
    * before CPU-heavy per-row transforms (shingling, hashing, JSON
    * parsing). Parquet parallelism is bounded by row groups, and a
    * corpus often arrives as few large single-row-group files (the
    * fixture tables do; real corpora arrive as big gzip/WET dumps with
    * the same problem) — without the spread, a 32-core executor runs
    * the transform stage on one thread. The exchange moves only the raw
    * rows once and is far cheaper than serializing the transform; ops
    * whose cost is the scan or the aggregation (not per-row CPU) keep
    * using [[load]] so their filters still push into the scan.
    *
    * The spread is CONDITIONAL on the scan actually under-filling the
    * cluster: a 100 TB table already plans thousands of file splits,
    * and an unconditional repartition there would shuffle the whole
    * corpus for nothing. The split estimate is derived from the FILE
    * LISTING (Σ ceil(len / maxPartitionBytes), the planner's own
    * packing bound) — an earlier draft asked `df.rdd.getNumPartitions`,
    * which compiles the plan to an RDD and cost a measured ~0.2 s per
    * CALL even warm; the listing is one FS metadata round instead. */
  def loadSpread(spark: SparkSession, dir: String, name: String): DataFrame = {
    val df = load(spark, dir, name)
    val cores = spark.sparkContext.defaultParallelism
    if (estimatedSplits(spark, dir, name) >= cores) df
    else df.repartition(cores)
  }

  /** [[loadSpread]] scoped to the columns the transform actually needs:
    * the projection lands BELOW the round-robin exchange, so the spread
    * shuffles only those columns (measured ~0.35 s off the events JSON
    * queries at sf0.1; at 100 TB the saved bytes are the wide columns ×
    * the corpus). Prefer this overload whenever the consumer's column
    * set is known. */
  def loadSpread(spark: SparkSession, dir: String, name: String,
      columns: Seq[String]): DataFrame = {
    import org.apache.spark.sql.functions.col
    val df = load(spark, dir, name).select(columns.map(col): _*)
    val cores = spark.sparkContext.defaultParallelism
    if (estimatedSplits(spark, dir, name) >= cores) df
    else df.repartition(cores)
  }

  /** Planner-faithful split estimate from file metadata only,
    * mirroring `FilePartition.maxSplitBytes`: the planner ADAPTS its
    * split size downward for small scans —
    * `min(maxPartitionBytes, max(openCostInBytes, totalBytes/parallelism))`
    * — so a scan well under `cores × maxPartitionBytes` still plans
    * ~one split per core. Estimating with the static conf value alone
    * under-counts exactly there, and loadSpread would then add a
    * round-robin exchange the planner's own splitting already made
    * redundant. Per-file ceil (ignoring the final bin-packing)
    * over-estimates only when many files are tiny — in which case the
    * scan fills the cluster anyway and the spread correctly no-ops. */
  private def estimatedSplits(
      spark: SparkSession, dir: String, name: String): Long = {
    val files = dataFiles(spark, s"$dir/$name.parquet")
    val conf = spark.sessionState.conf
    val openCost = conf.filesOpenCostInBytes
    val totalBytes = files.map(_.getLen + openCost).sum
    val bytesPerCore =
      totalBytes / math.max(1, spark.sparkContext.defaultParallelism)
    val maxSplit = math.max(1L, math.min(conf.filesMaxPartitionBytes,
      math.max(openCost, bytesPerCore)))
    files.map(f => math.max(1L, (f.getLen + maxSplit - 1) / maxSplit)).sum
  }

  /** Normalize `events.ts` across fixture generations. Older generated
    * fixtures encode `ts` as Parquet TIMESTAMP(NANOS), which Spark's
    * vectorized reader rejects: those are read as raw longs (legacy
    * nanosAsLong flag) and truncated to microseconds with integer
    * `div` — a `/ 1000` double division would lose precision above
    * 2^53 ns (~1970+104 days); DuckDB performs the same ns→µs
    * truncation, so oracle parity holds. Newer fixtures write a native
    * timestamp[us] column (isAdjustedToUTC=false, so Spark infers
    * TIMESTAMP_NTZ): that is cast to the session-zoned TIMESTAMP —
    * sessions here pin `spark.sql.session.timeZone=UTC`, so the cast
    * reinterprets the same epoch micros and every downstream consumer
    * (`unix_micros`, watermarks, `Row.getTimestamp`) sees the exact
    * type and values the engine has always produced. The dispatch is
    * on the RESOLVED column type, so both generations (and batch or
    * streaming frames alike) load through the same call. */
  def normalizeEventTs(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    df.schema("ts").dataType match {
      case LongType =>
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        df.withColumn("ts", col("ts").cast(TimestampType))
      case _ => df
    }
  }

  /** The legacy nanos flag is set at session build by [[graft.Session]];
    * the set below is an idempotent safety net (same constant value, so
    * a concurrent duplicate set is harmless) for callers that hand us a
    * session built elsewhere. */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    normalizeEventTs(
      scan(spark, Seq(s"$dir/events.parquet")))
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
  }
}
