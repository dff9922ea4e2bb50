package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Aggregates the per-module query registries. Every entry has a matching
  * DuckDB oracle in [[oracleSql]] unless the operator is not
  * SQL-expressible (those are covered by ScalaTest specs instead).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    ops.Relational.flagship(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    ops.Relational.queries ++
      ops.Lineage.queries ++
      catalog.Discovery.queries ++
      catalog.Nodes.queries ++
      ops.Llm.queries ++
      functions.TopK.queries ++
      functions.Sketches.queries ++
      ops.Multimodal.queries ++
      observe.Materialize.queries ++
      model.Runs.queries ++
      sources.Layout.queries ++
      ops.Retrieval.queries ++
      ops.Cdc.queries ++
      observe.Expectations.queries

  /** The declared query `name`; an unknown name fails with the list of
    * valid ones instead of a bare `NoSuchElementException`. */
  def query(name: String): (SparkSession, String) => DataFrame =
    queries.getOrElse(name, throw new IllegalArgumentException(
      s"unknown query $name; valid: " +
        queries.keys.toSeq.sorted.mkString(", ")))

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    ops.Relational.oracles ++
      ops.Lineage.oracles ++
      catalog.Discovery.oracles ++
      catalog.Nodes.oracles ++
      ops.Llm.oracles ++
      functions.TopK.oracles ++
      functions.Sketches.oracles ++
      ops.Multimodal.oracles ++
      observe.Materialize.oracles ++
      model.Runs.oracles ++
      sources.Layout.oracles ++
      ops.Retrieval.oracles ++
      ops.Cdc.oracles ++
      observe.Expectations.oracles
}
