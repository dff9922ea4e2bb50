package graft.observe

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** The hourly materialization plane — SURVEY.md §3.2 (reference
  * `dlt_assets.py:136-188`): per-table row counts (A1), last-modified
  * freshness (S6/A3), schema snapshot size (S5), `kinds` set (A6),
  * markdown explore link (F3), assembled into one `materializations`
  * relation and appendable to an events table (K2/K3).
  *
  * The reference does this as N+1 warehouse queries per hour (one COUNT,
  * one DESCRIBE DETAIL, one columns query *per table*); here the whole
  * plane is one Spark job over the parquet-footer manifest
  * ([[Compact.footerInventory]]): row counts and timestamp maxima are
  * lifted from row-group metadata — no data page is ever decoded — and
  * aggregated per table. At 100 TB the hourly observation tick costs
  * O(#files) footer reads, distributed, exactly like the reference's
  * transaction-log `DESCRIBE DETAIL`, instead of an O(data) column scan.
  */
object Materialize {

  /** Timestamp column per table for freshness (max event-time); tables
    * without an event-time column report NULL last_modified, like the
    * reference's `lastModified or createdAt or None` (P9). */
  private val tsColumn: Map[String, String] = Map(
    "orders" -> "o_orderdate",
    "lineitem" -> "l_shipdate",
    "events" -> "ts")

  /** The unified materializations relation over every discovered table.
    *
    * Row counts AND freshness come from the parquet-footer manifest
    * ([[Compact.footerInventory]]) — the engine analog of the
    * reference's `DESCRIBE DETAIL` transaction-log read
    * (`dlt_assets.py:154-156`). The previous implementation scanned the
    * full timestamp column for `max(ts)` per table per observation
    * tick; at 100 TB that is an O(data) scan every hour where the
    * reference reads O(1) metadata. The footer path decodes ZERO data
    * pages (ObserveSpec asserts input records stay ≈ #files via the
    * task-metrics listener); per-table aggregation of the per-file
    * stats is a tiny shuffle of one row per file. Footer maxes are
    * exact (not truncated-bound) for the fixture's INT64 timestamp
    * columns, normalized to µs with the same ns-truncation the data
    * read applies — so results are identical to the scan path. */
  def materializations(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val names = Tables.discover(dir)
    val files = names.flatMap(n => Tables.dataFiles(s, s"$dir/$n.parquet")
      .map(f => (n, f.getPath.toString)))
    val nCols = names
      .map(n => (n, Tables.load(s, dir, n).schema.fields.length.toLong))
      .toDF("table_name", "n_columns")
    val perTable = Compact.footerInventory(s, files, tsColumn)
      .groupBy(col("table_name"))
      .agg(
        sum(col("n_rows")).as("row_count"),
        max(col("max_ts_micros")).as("mx"))
      .withColumn("last_modified", timestamp_micros(col("mx")))
      .join(broadcast(nCols), "table_name")
      .select(col("table_name"), col("row_count"), col("last_modified"),
        col("n_columns"))
    perTable
      .withColumn("kinds",
        concat_ws(",", array_distinct(array(
          lit("table"), lit("parquet"), lit("graft")))))
      .withColumn("md_link",
        format_string("[main.%s](graft://main/%s)",
          col("table_name"), col("table_name")))
      .orderBy(col("table_name"))
  }

  /** §1.1 metadata-dictionary fidelity (reference
    * `dlt_assets.py:172-179`): the reference attaches a HETEROGENEOUS
    * per-event metadata dict — ints, text, a markdown link, a rendered
    * TableSchema. The engine form is a `MapType(String, String)`
    * `metadata` column (the wire form every event bus / parquet sink
    * handles) plus a `schema_md` column rendering the table's
    * column/type contract, both riding on every materialization row.
    * The schema rendering comes from the same footer-only discovery
    * as information_schema.columns — no data scan. */
  def materializationMetadata(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val schemaMd = Tables.discover(dir).map { name =>
      val cols = Tables.load(s, dir, name).schema.fields
        .map { f =>
          val dt = f.dataType.simpleString match {
            case "timestamp_ntz" => "timestamp" // NTZ normalization, as q24
            case other => other
          }
          s"${f.name}:$dt"
        }
        .mkString(",")
      (name, cols)
    }.toDF("table_name", "schema_md")
    materializations(s, dir)
      .join(broadcast(schemaMd), "table_name")
      .withColumn("metadata", map(
        lit("row_count"), col("row_count").cast("string"),
        lit("n_columns"), col("n_columns").cast("string"),
        lit("kinds"), col("kinds"),
        lit("link"), col("md_link"),
        lit("schema"), col("schema_md")))
  }

  /** q86: the metadata dict rendered to a deterministic string —
    * `sort_array(map_entries(...))` orders by key, so the rendering is
    * engine-portable and the DuckDB oracle can state the expected dict
    * literally (map columns themselves don't hash portably across
    * engines; the ObserveSpec asserts the typed MapType payload). */
  def metadataRendered(s: SparkSession, dir: String): DataFrame =
    materializationMetadata(s, dir)
      .select(col("table_name"),
        concat_ws(";",
          transform(sort_array(map_entries(col("metadata"))),
            e => concat(e.getField("key"), lit("="), e.getField("value"))))
          .as("metadata_rendered"))
      .orderBy(col("table_name"))

  /** K2/K3 sink: append materialization events (observation timestamp
    * stamped at write time, like `AssetMaterialization`'s event time),
    * carrying the full metadata dict ([[materializationMetadata]])
    * when given one — parquet serializes the map column natively.
    * Side-effecting — exercised by ScalaTest, not the oracle harness. */
  def appendEvents(df: DataFrame, outPath: String): Unit =
    df.withColumn("observed_at", current_timestamp())
      .withColumn("event_kind", lit("materialization"))
      .write.mode("append").parquet(outPath)

  /** Mergeable-sketch profile (X6 scale flavor): percentile_approx +
    * HLL approx_count_distinct in ONE pass with NO Expand — compare
    * `Relational.profileLineitem` (exact countDistinct×4 ⇒ Catalyst
    * Expand ≈5× input rows through the shuffle). Sketches merge
    * associatively, so partial aggregation stays map-side at 100 TB.
    * The oracle checks the percentile fields (deterministic cross-engine
    * on these heavily-duplicated columns); the HLL estimates are
    * engine-specific and gated by a ScalaTest tolerance check instead. */
  def profileSketch(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_discount", "l_tax")
    // accuracy 1e5 ⇒ rank error ≤ 6 rows at sf0.1; the tightest
    // duplicate-value boundary in the fixture sits 27 rows from a
    // percentile target (measured), so the sketch equals the exact
    // discrete quantile with 4.5× margin. (At 10k accuracy the ±60-row
    // slack crossed that boundary and flipped p50.) At 100 TB you dial
    // accuracy down and accept ±n/accuracy.
    // ONE sketch per column (array-of-percentiles form), not one per
    // requested percentile — 3× less sketch building and merging.
    val aggs = cols.flatMap { c =>
      Seq(
        percentile_approx(col(c),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(100000)).as(s"pq_$c"),
        round(min(col(c)), 4).as(s"min_$c"),
        round(max(col(c)), 4).as(s"max_$c"))
    } :+ count(lit(1)).as("n_rows")
    val stackExpr = cols
      .map(c => s"'$c', pq_$c[0], pq_$c[1], pq_$c[2], min_$c, max_$c")
      .mkString(s"stack(${cols.size}, ", ", ", ")")
    Tables.load(s, dir, "lineitem")
      .agg(aggs.head, aggs.tail: _*)
      .select(col("n_rows"),
        expr(s"$stackExpr as (col_name, p25, p50, p75, min_v, max_v)"))
      .select(col("col_name"), col("n_rows"), col("p25"), col("p50"),
        col("p75"), col("min_v"), col("max_v"))
      .orderBy(col("col_name"))
  }

  /** Grouped sketch profile (X6 per-key flavor): per-language document-
    * length quantiles — one `percentile_approx` sketch per group, built
    * map-side and merged, so a 100 TB corpus profiles every language in
    * a single pass with `groups × sketch` shuffle bytes. Accuracy 1e5
    * makes the sketch exact below 100 k rows per group (fixture groups
    * are ≤ ~21 k at sf0.1); at real scale you dial accuracy down and
    * accept rank error n/accuracy, as q42 documents. */
  def langLengthProfile(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        percentile_approx(col("n_chars"),
          array(lit(0.25), lit(0.5), lit(0.75)), lit(100000)).as("pq"),
        min(col("n_chars")).as("min_chars"),
        max(col("n_chars")).as("max_chars"))
      .select(col("lang"), col("n_docs"),
        col("pq")(0).as("p25"), col("pq")(1).as("p50"), col("pq")(2).as("p75"),
        col("min_chars"), col("max_chars"))
      .orderBy(col("lang"))

  /** Full HLL profile (engine-specific estimates; ScalaTest asserts
    * within-2% of exact — no cross-engine oracle is possible because
    * HLL++ implementations differ). rsd=0.01. */
  def profileHll(s: SparkSession, dir: String): DataFrame = {
    val cols = Seq("l_quantity", "l_discount", "l_tax", "l_extendedprice", "l_partkey")
    val aggs = cols.map(c => approx_count_distinct(col(c), 0.01).as(s"ad_$c")) :+
      count(lit(1)).as("n_rows")
    Tables.load(s, dir, "lineitem").agg(aggs.head, aggs.tail: _*)
  }

  /** Incremental materialization: diff the current snapshot against the
    * previous one and emit events ONLY for added/removed/changed tables
    * — at 100 TB the hourly loop re-observes thousands of tables but
    * only the drifted few produce events (full-outer join on the key,
    * both sides metadata-thin). */
  def snapshotDelta(prev: DataFrame, curr: DataFrame): DataFrame = {
    val p = prev.select(col("table_name"), col("row_count").as("prev_count"),
      col("last_modified").as("prev_modified"))
    val c = curr.select(col("table_name"), col("row_count"),
      col("last_modified"))
    c.join(p, Seq("table_name"), "full_outer")
      .withColumn("change",
        when(col("prev_count").isNull, "added")
          .when(col("row_count").isNull, "removed")
          .when(col("row_count") =!= col("prev_count") ||
            (col("last_modified").isNotNull &&
              col("last_modified") =!= col("prev_modified")), "changed")
          .otherwise("unchanged"))
      .filter(col("change") =!= "unchanged")
      .select(col("table_name"), col("change"),
        col("prev_count"), col("row_count"))
      .orderBy(col("table_name"))
  }

  /** q61 fixture: previous snapshot = current minus the events table,
    * with lineitem's count off by one — yields one "added" and one
    * "changed" row, deterministically. */
  def materializationDelta(s: SparkSession, dir: String): DataFrame = {
    // The snapshot is 1 row per table but costs #tables scan jobs to
    // build — pin the 10-row result instead of replaying every
    // per-table agg on both diff sides.
    val curr = materializations(s, dir).localCheckpoint()
    val prev = curr
      .filter(col("table_name") =!= "events")
      .withColumn("row_count",
        when(col("table_name") === "lineitem", col("row_count") - 1)
          .otherwise(col("row_count")))
    snapshotDelta(prev, curr)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q41_materializations" -> materializations,
    "q42_profile_sketch" -> profileSketch,
    "q61_materialization_delta" -> materializationDelta,
    "q65_lang_length_profile" -> langLengthProfile,
    "q86_materialization_metadata" -> metadataRendered,
  )

  /** The documented fixture schema contract, rendered `name:type` — the
    * q86 oracle states it literally, so the query verifies that what
    * the engine discovers from footers matches the published contract
    * (same philosophy as q24). */
  private val schemaContract: Map[String, String] = Map(
    "region" -> "r_regionkey:int,r_name:string",
    "nation" -> "n_nationkey:int,n_name:string,n_regionkey:int",
    "customer" -> ("c_custkey:bigint,c_name:string,c_nationkey:int," +
      "c_acctbal:double,c_mktsegment:string"),
    "supplier" -> "s_suppkey:bigint,s_name:string,s_nationkey:int,s_acctbal:double",
    "part" -> ("p_partkey:bigint,p_name:string,p_brand:string,p_type:string," +
      "p_size:int,p_retailprice:double"),
    "orders" -> ("o_orderkey:bigint,o_custkey:bigint,o_orderstatus:string," +
      "o_totalprice:double,o_orderdate:timestamp,o_orderpriority:string"),
    "lineitem" -> ("l_orderkey:bigint,l_partkey:bigint,l_suppkey:bigint," +
      "l_linenumber:int,l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_tax:double,l_returnflag:string," +
      "l_linestatus:string,l_shipdate:timestamp"),
    "events" -> ("event_id:bigint,ts:timestamp,user_id:bigint," +
      "event_type:string,value:double,props:string"),
    "documents" -> "doc_id:bigint,text:string,lang:string,source:string,n_chars:bigint",
    "embeddings" -> "vec_id:bigint,embedding:array<float>,label:int")

  val oracles: Map[String, String] = Map(
    "q41_materializations" -> {
      val rows = Seq(
        ("customer", "CAST(NULL AS TIMESTAMP)"),
        ("documents", "CAST(NULL AS TIMESTAMP)"),
        ("embeddings", "CAST(NULL AS TIMESTAMP)"),
        ("events", "CAST(max(ts) AS TIMESTAMP)"),
        ("lineitem", "CAST(max(l_shipdate) AS TIMESTAMP)"),
        ("nation", "CAST(NULL AS TIMESTAMP)"),
        ("orders", "CAST(max(o_orderdate) AS TIMESTAMP)"),
        ("part", "CAST(NULL AS TIMESTAMP)"),
        ("region", "CAST(NULL AS TIMESTAMP)"),
        ("supplier", "CAST(NULL AS TIMESTAMP)"))
      val nColsSql = Map(
        "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4,
        "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
        "documents" -> 5, "embeddings" -> 3)
      rows.map { case (t, freshExpr) =>
        s"""SELECT '$t' AS table_name, count(*) AS row_count,
           |  $freshExpr AS last_modified,
           |  CAST(${nColsSql(t)} AS BIGINT) AS n_columns,
           |  'table,parquet,graft' AS kinds,
           |  '[main.$t](graft://main/$t)' AS md_link FROM $t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },
    "q61_materialization_delta" ->
      """SELECT 'events' AS table_name, 'added' AS change,
        |  CAST(NULL AS BIGINT) AS prev_count,
        |  (SELECT count(*) FROM events) AS row_count
        |UNION ALL
        |SELECT 'lineitem', 'changed',
        |  (SELECT count(*) - 1 FROM lineitem),
        |  (SELECT count(*) FROM lineitem)
        |ORDER BY table_name""".stripMargin,
    "q65_lang_length_profile" ->
      """SELECT lang, count(*) AS n_docs,
        |  quantile_disc(n_chars, 0.25) AS p25,
        |  quantile_disc(n_chars, 0.5) AS p50,
        |  quantile_disc(n_chars, 0.75) AS p75,
        |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q86_materialization_metadata" -> {
      val nColsSql = Map(
        "region" -> 2, "nation" -> 3, "customer" -> 5, "supplier" -> 4,
        "part" -> 6, "orders" -> 6, "lineitem" -> 11, "events" -> 6,
        "documents" -> 5, "embeddings" -> 3)
      // sorted map keys: kinds < link < n_columns < row_count < schema
      schemaContract.keys.toSeq.sorted.map { t =>
        s"""SELECT '$t' AS table_name,
           |  'kinds=table,parquet,graft;link=[main.$t](graft://main/$t);' ||
           |  'n_columns=${nColsSql(t)};row_count=' ||
           |  (SELECT count(*) FROM $t) ||
           |  ';schema=${schemaContract(t)}' AS metadata_rendered""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY table_name")
    },
    "q42_profile_sketch" -> {
      val cols = Seq("l_discount", "l_quantity", "l_tax")
      cols.map { c =>
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |  quantile_disc($c, 0.25) AS p25, quantile_disc($c, 0.5) AS p50,
           |  quantile_disc($c, 0.75) AS p75,
           |  round(min($c), 4) AS min_v, round(max($c), 4) AS max_v
           |FROM lineitem""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
  )
}
