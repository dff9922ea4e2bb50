package org.apache.spark.sql

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.expressions.Expression

/** Bridge into `private[sql]` Column ↔ Expression conversion for the
  * custom Catalyst expressions in `graft.functions`. Spark 4's classic
  * Column wraps a ColumnNode; `classic.ExpressionUtils` performs the
  * conversion but is sql-package-private, so this shim lives in
  * `org.apache.spark.sql` — the standard pattern for library-level
  * Catalyst extensions that don't need a full SparkSessionExtensions
  * registration. */
object GraftBridge {
  def column(e: Expression): Column = classic.ExpressionUtils.column(e)
  def expression(c: Column): Expression = classic.ExpressionUtils.expression(c)

  /** Execute a hand-built/rewritten logical plan as a DataFrame —
    * used by the plan-rewrite tests to run a rule's output and compare
    * it against the original query's result. */
  def ofRows(spark: SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(spark.asInstanceOf[classic.SparkSession], plan)

  /** Last-executed micro-batch physical plan of a streaming query —
    * lets specs assert streaming plan shape (e.g. that an admission
    * gate's verify side scans the persisted index artifact and never
    * the source table). The wrapper/execution types are sql-private,
    * hence this bridge. */
  def lastExecutedPlan(q: org.apache.spark.sql.streaming.StreamingQuery): String =
    q.asInstanceOf[execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan.toString

  /** Block until every event already posted to the context's listener
    * bus has been delivered, so a listener's tallies (including a
    * `QueryExecutionListener`'s, which rides the same bus) are complete
    * for the actions that have returned. The bus is spark-private. */
  def drainListenerBus(spark: SparkSession): Unit =
    spark.sparkContext.listenerBus.waitUntilEmpty()

  /** The operation scope of an RDD a listener event describes — the
    * name of the plan node or RDD operation that created it (e.g.
    * `Exchange`, `BroadcastExchange`). The scope type is spark-private. */
  def scopeName(rdd: org.apache.spark.storage.RDDInfo): Option[String] =
    rdd.scope.map(_.name)

  /** Every SparkListener on the context's bus and QueryExecutionListener
    * on the session — lets a test assert a tool left none of its own. */
  def listeners(spark: SparkSession): Seq[AnyRef] =
    spark.sparkContext.listenerBus.listeners.asScala.toSeq ++
      spark.listenerManager.listListeners().toSeq

  /** Session-local function registration (the non-extensions path). */
  def registerFunction(
      spark: SparkSession,
      name: String,
      info: org.apache.spark.sql.catalyst.expressions.ExpressionInfo,
      builder: Seq[Expression] => Expression): Unit =
    spark.sessionState.functionRegistry.registerFunction(
      org.apache.spark.sql.catalyst.FunctionIdentifier(name), info, builder)

  /** The footers of parquet `files` with their row-group metadata (so
    * a footer yields the file's row count as well as its schema): one
    * file is read inline, several on the footer-reader pool Spark's own
    * schema inference uses (`ThreadUtils.parmap`, 8 threads). The pool
    * is spark-private. */
  def readFooters(conf: org.apache.hadoop.conf.Configuration,
      files: Seq[org.apache.hadoop.fs.FileStatus])
      : Seq[org.apache.parquet.hadoop.metadata.ParquetMetadata] = {
    def one(st: org.apache.hadoop.fs.FileStatus) =
      execution.datasources.parquet.ParquetFooterReader.readFooter(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, conf),
        org.apache.parquet.format.converter.ParquetMetadataConverter.NO_FILTER)
    if (files.size <= 1) files.map(one)
    else org.apache.spark.util.ThreadUtils.parmap(files, "readingParquetFooters", 8)(one)
  }

  /** A footer's Spark schema, as schema inference derives it: the
    * schema Spark wrote into the file's metadata when present, else the
    * parquet schema converted under the session's conf. */
  def footerSchema(conf: internal.SQLConf, path: org.apache.hadoop.fs.Path,
      meta: org.apache.parquet.hadoop.metadata.ParquetMetadata)
      : types.StructType = {
    import execution.datasources.parquet._
    ParquetFileFormat.readSchemaFromFooter(
      new org.apache.parquet.hadoop.Footer(path, meta),
      new ParquetToSparkSchemaConverter(conf))
  }
}
