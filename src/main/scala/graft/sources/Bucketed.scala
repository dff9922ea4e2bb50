package graft.sources

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.observe.IndexStore

/** Persisted BUCKETED twins of warehouse tables — the co-located-join
  * layout (reference joins its runs/outputs planes by entity key on
  * every refresh, `observe_assets.py:60-103`; at 100 TB neither side of
  * such a fact-to-fact join fits a broadcast, so the only shuffle-free
  * plan is matching pre-bucketed layouts on the join key).
  *
  * Spark's bucketing metadata lives in the CATALOG, not the parquet
  * footers, so a bucketed layout written once (`bucketBy.saveAsTable`)
  * is re-attached by a later session with a metadata-only
  * `CREATE TABLE … CLUSTERED BY … LOCATION` over the same files —
  * Spark recovers each file's bucket id from the writer's `_NNNNN`
  * file-name suffix. Layout identity follows [[IndexStore]]'s
  * content-address discipline: the directory is keyed by the SOURCE
  * fingerprint (with the bucket count folded into the preimage), so a
  * changed source or a re-derived bucket count builds a fresh layout
  * and never serves a stale one, and an unchanged source re-uses the
  * files across sessions and JVMs without a single data page read.
  *
  * Scale shape: the build is one shuffle of the source (the same
  * shuffle the first co-located join would have paid), after which
  * every join on the bucket key is exchange-free forever. The
  * pre-write `repartition(n, key)` aligns task partitioning with
  * bucket ids (both are `pmod(murmur3(key), n)`), so each task holds
  * exactly one bucket and the layout lands as one file per bucket
  * instead of tasks×buckets fragments.
  */
object Bucketed {

  /** Bucket count for a table's bucketed twin, derived from source
    * bytes (pure file metadata — no job): one bucket per ~`targetBytes`
    * of source so buckets stay executor-memory-sized at any corpus
    * scale, floored at the cluster's parallelism so the bucketed join
    * still fills every core when the table is small. Both sides of an
    * intended co-located join must pass the SAME count (take the max of
    * their derivations) — mismatched counts re-introduce the shuffle.
    */
  def bucketCount(s: SparkSession, dir: String, name: String,
      targetBytes: Long = 128L << 20): Int = {
    val p = new Path(s"$dir/$name.parquet")
    val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
    def bytes(st: FileStatus): Long =
      if (st.isDirectory) f.listStatus(st.getPath).map(bytes).sum
      else st.getLen
    val total = if (f.exists(p)) bytes(f.getFileStatus(p)) else 0L
    val sizeDriven = math.max(1L, (total + targetBytes - 1) / targetBytes)
    math.max(s.sparkContext.defaultParallelism.toLong, sizeDriven).toInt
  }

  // One build/registration at a time per JVM: concurrent queries attach
  // the same twin instead of racing the write or the CREATE TABLE.
  private val lock = new Object

  /** The bucketed twin of `dir/name`, clustered into `buckets` on
    * `key`: builds the layout on first use for this source state,
    * re-registers the existing files (metadata-only) on later sessions,
    * and returns the catalog-backed DataFrame whose scans carry the
    * bucket spec. */
  def table(s: SparkSession, dir: String, name: String, key: String,
      buckets: Int): DataFrame = lock.synchronized {
    // Bucket count folds into the fingerprint preimage via `version`:
    // a layout at a different count is a different artifact.
    val fp = IndexStore.fingerprint(s, s"$dir/$name.parquet", version = buckets)
    val ident = s"graft_${name}_b_$fp".take(64)
    if (!s.catalog.tableExists(ident)) {
      val base = new Path(s"${IndexStore.root(s)}/bucketed_$name")
      val loc = new Path(base, s"fp=$fp")
      val f: FileSystem = loc.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(new Path(loc, "_SUCCESS"))) {
        // Files already on disk from a previous session: attach only.
        val schema = s.read.parquet(loc.toString).schema
        s.sql(
          s"""CREATE TABLE $ident (${schema.toDDL})
             |USING PARQUET CLUSTERED BY ($key) INTO $buckets BUCKETS
             |LOCATION '$loc'""".stripMargin)
      } else {
        if (f.exists(loc)) f.delete(loc, true) // torn earlier build
        graft.Tables.load(s, dir, name)
          .repartition(buckets, org.apache.spark.sql.functions.col(key))
          .write.bucketBy(buckets, key).sortBy(key)
          .option("path", loc.toString)
          .saveAsTable(ident)
        // keep the newest layouts (IndexStore's retention rule). A
        // catalog entry in ANOTHER live session pointing at a reclaimed
        // layout fails at its next scan and recovers by calling [[table]]
        // again
        IndexStore.retainNewest(f, base)
      }
    }
    s.table(ident)
  }
}
