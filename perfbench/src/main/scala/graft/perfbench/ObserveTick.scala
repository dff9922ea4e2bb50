package graft.perfbench

import java.nio.file.{Files, Paths}
import java.time.{Instant, LocalDateTime, ZoneOffset}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types._

import graft.Tables
import graft.stream.Sensors
import graft.stream.Sensors.{SensorEmit, UpdateEvent}

/** The reference's loop, once after each append of new part files to
  * `events`, `documents` and `embeddings`, over a warehouse in which
  * every table is a part-file directory: discovery, lineage closure,
  * per-table materializations diffed against the previous tick, latest
  * run per entity, and the rising-edge sensor as one available-now
  * micro-batch whose checkpoint persists across ticks.
  *
  * Planted facts checked per tick: the table list, per-table row counts
  * and the events maximum event time, the FK-edge closure, the latest
  * run of every entity, and the sensor's emissions, which must equal
  * the runs this tick made newly terminal. */
final class ObserveTick(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  import spark.implicits._

  private val wh = s"${ctx.work}/wh"
  private val checkpoint = s"${ctx.work}/sensor-checkpoint"

  /** The FK contract of the star schema (self-edges dropped). */
  private val fkEdges = Seq("nation" -> "region", "customer" -> "nation",
    "supplier" -> "nation", "orders" -> "customer", "lineitem" -> "orders",
    "lineitem" -> "part", "lineitem" -> "supplier")
  private val expectedClosure: Set[(String, String)] = {
    var acc = fkEdges.toSet
    var grown = true
    while (grown) {
      val next = acc ++ (for ((a, b) <- acc; (c, d) <- fkEdges if b == c)
        yield a -> d)
      grown = next.size > acc.size
      acc = next
    }
    acc
  }

  private val entities = 20
  private lazy val eventsSchema: StructType =
    spark.read.parquet(s"${ctx.fixture}/events.parquet").schema
  private lazy val docSchema: StructType =
    spark.read.parquet(s"${ctx.fixture}/documents.parquet").schema
  private lazy val embSchema: StructType =
    spark.read.parquet(s"${ctx.fixture}/embeddings.parquet").schema
  private lazy val baseRows: Map[String, Long] = Tables.all.map(t =>
    t -> spark.read.parquet(s"${ctx.fixture}/$t.parquet").count()).toMap
  private lazy val baseMaxTsMicros: Long = Tables.normalizeEventTs(
    spark.read.parquet(s"${ctx.fixture}/events.parquet"))
    .agg(max(unix_micros(col("ts")))).head().getLong(0)
  private lazy val baseTerminal: Long =
    spark.read.parquet(s"${ctx.fixture}/events.parquet")
      .filter(col("event_type").isin("purchase", "error")).count()
  private lazy val sampleDocs: Vector[Row] = spark.read
    .parquet(s"${ctx.fixture}/documents.parquet").orderBy("doc_id")
    .limit(50).collect().toVector
  private lazy val sampleEmbs: Vector[Row] = spark.read
    .parquet(s"${ctx.fixture}/embeddings.parquet").orderBy("vec_id")
    .limit(50).collect().toVector

  private val rows = mutable.Map.empty[String, Long]
  private var maxTsMicros = 0L
  private var prevSnapshot: Option[DataFrame] = None
  /** Runs left RUNNING by the previous tick, completed by this one. */
  private var pending = Seq.empty[(Long, Long)]
  /** Runs the sensor already emitted, one of which is re-delivered. */
  private var emittedRuns = Seq.empty[(Long, Long, String)]
  private val emissions = mutable.ArrayBuffer.empty[SensorEmit]
  private var stateRows = 0L

  def setUp(): Unit = {
    Main.deleteTree(Paths.get(wh))
    Main.deleteTree(Paths.get(checkpoint))
    Tables.all.foreach { t =>
      val dst = Paths.get(wh, s"$t.parquet")
      Files.createDirectories(dst)
      Main.copyTree(Paths.get(ctx.fixture, s"$t.parquet"),
        dst.resolve("part-00000-base.parquet"))
    }
    rows.clear()
    rows ++= baseRows
    maxTsMicros = baseMaxTsMicros
    prevSnapshot = None
    pending = Nil
    emittedRuns = Nil
  }

  /** The sensor's first micro-batch catches up on the base events. */
  override def baseline(n: Int): Unit = {
    val emitted = sensorBatch()
    if (emitted != baseTerminal)
      throw new IllegalStateException(
        s"sensor baseline emitted $emitted, expected $baseTerminal")
  }

  def prepare(): Unit = ()

  private def updates(): Dataset[UpdateEvent] =
    Tables.normalizeEventTs(
      spark.readStream.schema(eventsSchema).parquet(s"$wh/events.parquet"))
      .select(
        (col("user_id") % entities).as("entityId"),
        col("event_id").as("updateId"),
        when(col("event_type") === "purchase", "COMPLETED")
          .when(col("event_type") === "error", "FAILED")
          .otherwise("RUNNING").as("state"),
        col("ts"))
      .as[UpdateEvent]

  /** One available-now micro-batch; returns how many rows it emitted. */
  private def sensorBatch(): Long = {
    val before = emissions.size
    val q = Sensors.risingEdge(updates()).writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (ds: Dataset[SensorEmit], _: Long) =>
        emissions ++= ds.collect(); ()
      }
      .start()
    try q.awaitTermination() finally q.stop()
    Option(q.lastProgress).flatMap(_.stateOperators.headOption)
      .foreach(s => stateRows = s.numRowsTotal)
    (emissions.size - before).toLong
  }

  private def tsValue(micros: Long): Any = eventsSchema("ts").dataType match {
    case LongType => micros * 1000L
    case TimestampNTZType =>
      LocalDateTime.ofEpochSecond(Math.floorDiv(micros, 1000000L),
        (Math.floorMod(micros, 1000000L) * 1000L).toInt, ZoneOffset.UTC)
    case _ => java.sql.Timestamp.from(Instant.EPOCH.plusNanos(micros * 1000L))
  }

  def plan(n: Int): Seq[(String, String, () => Unit)] =
    (1 to n).map(t => (s"tick_$t", "tick", () => tick(t)))

  private def tick(t: Int): Unit = {
    val rnd = new Random(ctx.seed * 1000003L + t)
    val tickBase = baseMaxTsMicros + t * 3600L * 1000000L
    // events: one new run per entity, the completion of every run the
    // previous tick left RUNNING, and one re-delivered terminal event
    val fresh = (0 until entities).map { e =>
      val kind = Seq("purchase", "error", "view")(rnd.nextInt(3))
      (100000000L + t * 1000L + e, e.toLong, tickBase + (e + 1) * 1000000L,
        kind)
    }
    val completions = pending.map { case (id, e) =>
      (id, e, tickBase + 500000L, if (rnd.nextBoolean()) "purchase" else "error")
    }
    val redelivered = emittedRuns.headOption.toSeq.map { case (id, e, k) =>
      (id, e, tickBase + 250000L, k)
    }
    val events = fresh ++ completions ++ redelivered
    val newlyTerminal = (fresh.filter(_._4 != "view") ++ completions)
      .map(r => (r._2, r._1)).toSet
    appendRows("events", events.map { case (id, e, ts, kind) =>
      Row(id, tsValue(ts), e, kind, rnd.nextDouble(), "{}")
    }, eventsSchema)
    val nDocs = 1 + rnd.nextInt(3)
    appendRows("documents", (0 until nDocs).map { k =>
      val src = sampleDocs(rnd.nextInt(sampleDocs.size))
      Row(20000000L + t * 100L + k, src.get(1), src.get(2), src.get(3),
        src.get(4))
    }, docSchema)
    val nEmbs = 1 + rnd.nextInt(3)
    appendRows("embeddings", (0 until nEmbs).map { k =>
      val src = sampleEmbs(rnd.nextInt(sampleEmbs.size))
      Row(20000000L + t * 100L + k, src.get(1), src.get(2))
    }, embSchema)
    rows("events") += events.size
    rows("documents") += nDocs
    rows("embeddings") += nEmbs
    maxTsMicros = math.max(maxTsMicros, fresh.map(_._3).max)

    val failures = mutable.ArrayBuffer.empty[String]
    def stage(layer: String, call: String)(body: => Unit): Unit =
      try ctx.tracer.span(layer, layer)(body)
      catch {
        case NonFatal(e) =>
          failures += s"$call: ${e.getClass.getName}: " +
            Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString
      }
    def check(ok: Boolean, what: => String): Unit =
      if (!ok) throw new IllegalStateException(what)

    stage("catalog", "catalog.Discovery.tablesMeta/columnsMeta") {
      val tables = graft.catalog.Discovery.tablesMeta(spark, wh)
        .select("table_name").as[String].collect().toSet
      val cols = graft.catalog.Discovery.columnsMeta(spark, wh)
        .select("table_name").distinct().as[String].collect().toSet
      check(tables == Tables.all.toSet && cols == tables,
        s"tables ${tables.toSeq.sorted} columns ${cols.toSeq.sorted}")
    }
    stage("lineage", "ops.Lineage.lineageClosure") {
      val closure = graft.ops.Lineage.lineageClosure(spark, wh)
        .as[(String, String)].collect().toSet
      check(closure == expectedClosure,
        s"closure differs from the FK contract: ${closure.diff(expectedClosure)}" +
          s" / ${expectedClosure.diff(closure)}")
    }
    stage("materialize", "observe.Materialize.materializations") {
      val curr = graft.observe.Materialize.materializations(spark, wh)
        .localCheckpoint()
      val got = curr.select(col("table_name"), col("row_count"),
        unix_micros(col("last_modified")))
        .collect().map(r => r.getString(0) -> (r.getLong(1),
          if (r.isNullAt(2)) None else Some(r.getLong(2)))).toMap
      check(got.map { case (k, v) => k -> v._1 } == rows.toMap,
        s"row counts ${got.map { case (k, v) => k -> v._1 }} expected $rows")
      check(got.get("events").flatMap(_._2).contains(maxTsMicros),
        s"events max ts ${got.get("events")} expected $maxTsMicros")
      prevSnapshot.foreach { prev =>
        val changed = graft.observe.Materialize.snapshotDelta(prev, curr)
          .select("table_name").as[String].collect().toSet
        check(changed == Set("events", "documents", "embeddings"),
          s"snapshot delta $changed")
      }
      prevSnapshot = Some(curr)
    }
    stage("runs", "model.Runs.latestRunPerEntity") {
      val latest = graft.model.Runs.latestRunPerEntity(spark, wh)
        .select(col("entity_id"), col("run_id")).as[(Long, Long)]
        .collect().toMap
      val want = fresh.map(r => r._2 -> r._1).toMap
      check(latest == want, s"latest runs differ: ${latest.toSet.diff(want.toSet)}")
    }
    stage("sensors", "stream.Sensors.risingEdge") {
      val before = emissions.size
      sensorBatch()
      val got = emissions.drop(before).map(e => (e.entityId, e.updateId)).toSet
      check(got == newlyTerminal && emissions.size - before == got.size,
        s"sensor emitted ${emissions.size - before} rows, " +
          s"${got.diff(newlyTerminal).size} unplanted, " +
          s"${newlyTerminal.diff(got).size} missing")
    }
    pending = fresh.filter(_._4 == "view").map(r => (r._1, r._2))
    emittedRuns = (fresh.filter(_._4 != "view") ++ completions)
      .map(r => (r._1, r._2, r._4))
    if (failures.nonEmpty)
      throw new IllegalStateException(failures.mkString("; "))
  }

  private def appendRows(table: String, rows: Seq[Row],
      schema: StructType): Unit =
    spark.createDataFrame(rows.asJava, schema).coalesce(1)
      .write.mode("append").parquet(s"$wh/$table.parquet")

  override def extraMetrics(): Seq[(String, Double)] =
    Seq("sensors.state_rows" -> stateRows.toDouble)

  def sourceBytes(): Long = Main.treeBytes(Paths.get(wh))
}
