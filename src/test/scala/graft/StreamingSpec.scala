package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.stream.Sensors
import graft.stream.Sensors.{SensorEmit, UpdateEvent}

/** MemoryStream replays of the sensor semantics — SURVEY §2.10 T1-T4
  * (these operators are not SQL-expressible; this suite is their
  * correctness gate, per the driver contract). */
class StreamingSpec extends SparkSuite {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  test("T1/T4: rising edge emits exactly once per (entity, update)") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.risingEdge(in.toDS())
      .writeStream.format("memory").queryName("rising_out")
      .outputMode("append").start()
    withQuery(q) {
      // batch 1: update running, then completed; a second update running
      in.addData(
        UpdateEvent(1, 10, "RUNNING", ts(0)),
        UpdateEvent(1, 10, "COMPLETED", ts(60)),
        UpdateEvent(2, 20, "RUNNING", ts(30)))
      q.processAllAvailable()
      // batch 2: update 10 reports COMPLETED AGAIN (redelivery) — must
      // not re-emit; update 20 fails — first terminal, must emit
      in.addData(
        UpdateEvent(1, 10, "COMPLETED", ts(120)),
        UpdateEvent(2, 20, "FAILED", ts(90)))
      q.processAllAvailable()
      val out = s.table("rising_out").as[SensorEmit].collect().toSeq
        .sortBy(e => (e.entityId, e.updateId))
      assert(out.map(e => (e.entityId, e.updateId, e.state)) ===
        Seq((1L, 10L, "COMPLETED"), (2L, 20L, "FAILED")))
      // at-most-once: exactly 2 rows total despite 3 terminal events
      assert(out.size === 2)
    }
  }

  test("T1: rising edge picks the FIRST terminal state by event time") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.risingEdge(in.toDS())
      .writeStream.format("memory").queryName("rising_first")
      .outputMode("append").start()
    withQuery(q) {
      // arrival order scrambled vs event time: CANCELED(t=50) arrives
      // after COMPLETED(t=200) in the same batch
      in.addData(
        UpdateEvent(7, 1, "COMPLETED", ts(200)),
        UpdateEvent(7, 1, "CANCELED", ts(50)))
      q.processAllAvailable()
      val out = s.table("rising_first").as[SensorEmit].collect()
      assert(out.length === 1)
      assert(out.head.state === "CANCELED")
    }
  }

  test("T2: poll-with-timeout emits done on terminal, timeout otherwise") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.pollWithTimeout(in.toDS(), timeoutMs = 600000L)
      .writeStream.format("memory").queryName("poll_out")
      .outputMode("append").start()
    withQuery(q) {
      // entity 1 starts and never terminates; entity 2 completes.
      // (ts must be > 0: an event at exactly the initial watermark (0)
      // is dropped by the late-event filter.)
      in.addData(
        UpdateEvent(1, 1, "RUNNING", ts(5)),
        UpdateEvent(2, 2, "COMPLETED", ts(10)))
      q.processAllAvailable()
      // advance event time (and therefore the watermark) past 1's timeout
      in.addData(UpdateEvent(3, 3, "RUNNING", ts(4000)))
      q.processAllAvailable()
      in.addData(UpdateEvent(3, 3, "RUNNING", ts(5000)))
      q.processAllAvailable()
      val out = s.table("poll_out").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
      assert(out.contains((1L, "timeout", "")))
      assert(out.contains((2L, "done", "COMPLETED")))
      // entity 3: first seen at t=4000s, deadline 4600s; the final
      // watermark (4999s) passes it, so it times out too — and its
      // deadline is anchored to FIRST-seen ts, not reset by the
      // second RUNNING poll (the reference's start_time semantics)
      assert(out.contains((3L, "timeout", "")))
      assert(out.size === 3)
    }
  }

  test("T4: watermarked dropDuplicates dedups redelivered updates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.dedupUpdates(in.toDS())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(
        UpdateEvent(1, 10, "RUNNING", ts(0)),
        UpdateEvent(1, 10, "RUNNING", ts(5)),
        UpdateEvent(1, 11, "RUNNING", ts(6)))
      q.processAllAvailable()
      in.addData(UpdateEvent(1, 10, "RUNNING", ts(7)))
      q.processAllAvailable()
      assert(s.table("dedup_out").count() === 2) // (1,10) and (1,11)
    }
  }

  test("T3: tumbling window finalizes after watermark passes") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.windowedStateCounts(in.toDS())
      .writeStream.format("memory").queryName("win_out")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(
        UpdateEvent(1, 1, "RUNNING", ts(10)),
        UpdateEvent(1, 2, "RUNNING", ts(300)),
        UpdateEvent(2, 3, "COMPLETED", ts(500)))
      q.processAllAvailable()
      // push watermark past the first 10-minute window (600 + 1800s lateness)
      in.addData(UpdateEvent(9, 9, "RUNNING", ts(3000)))
      q.processAllAvailable()
      val rows = s.table("win_out").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2)))
        .toSet
      assert(rows === Set((0L, "RUNNING", 2L), (0L, "COMPLETED", 1L)))
    }
  }

  test("T6: stream-stream interval join emits duration per matched " +
    "start/terminal pair; unmatched terminals never emit") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.updateDurations(in.toDS())
      .writeStream.format("memory").queryName("dur_out")
      .outputMode("append").start()
    withQuery(q) {
      in.addData(
        UpdateEvent(1, 10, "RUNNING", ts(100)),
        UpdateEvent(2, 20, "FAILED", ts(150)), // terminal with no start
        UpdateEvent(1, 10, "COMPLETED", ts(400)))
      q.processAllAvailable()
      // a start arriving AFTER its terminal, outside the [0, 2h] band
      in.addData(UpdateEvent(2, 20, "RUNNING", ts(8000)))
      q.processAllAvailable()
      val rows = s.table("dur_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getLong(5)))
      assert(rows.toSet === Set((1L, 10L, "COMPLETED", 300000L)))
    }
  }

  test("fidelity: windowed counts over replayed events == batch groupBy") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    // Real events table replayed through the streaming operator in two
    // micro-batches, plus a far-future row to close every window.
    val evs = Tables.load(s, sf, "events")
      .orderBy(col("event_id")).limit(600)
      .select(col("user_id").as("entityId"), col("event_id").as("updateId"),
        col("event_type").as("state"), col("ts"))
      .as[UpdateEvent].collect().toSeq
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.windowedStateCounts(in.toDS())
      .writeStream.format("memory").queryName("replay_out")
      .outputMode("append").start()
    withQuery(q) {
      val (b1, b2) = evs.splitAt(300)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val closer = evs.map(_.ts.getTime).max + 100L * 3600 * 1000
      in.addData(UpdateEvent(-1, -1, "closer", new Timestamp(closer)))
      q.processAllAvailable()
      val streamed = s.table("replay_out")
        .filter(col("state") =!= "closer")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = s.createDataset(evs)
        .groupBy(window(col("ts"), "10 minutes"), col("state"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("state"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(streamed === batch)
    }
  }

  test("streaming session windows: gap sessions merge across " +
    "micro-batches, finalize at the watermark, and equal the batch " +
    "session_window sessionization") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val evs = Tables.load(s, sf, "events")
      .orderBy(col("event_id")).limit(600)
      .select(col("user_id").as("entityId"), col("event_id").as("updateId"),
        col("event_type").as("state"), col("ts"))
      .as[UpdateEvent].collect().toSeq
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.sessionCounts(in.toDS())
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    withQuery(q) {
      // split mid-stream so some sessions MERGE across micro-batches
      val (b1, b2) = evs.splitAt(300)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val closer = evs.map(_.ts.getTime).max + 100L * 3600 * 1000
      in.addData(UpdateEvent(-1L, -1L, "closer", new Timestamp(closer)))
      q.processAllAvailable()
      val streamed = s.table("session_out")
        .filter(col("user_id") =!= -1L)
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
        .toSet
      val batch = Sensors.sessionCounts(s.createDataset(evs))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1), r.getLong(2)))
        .toSet
      assert(streamed === batch,
        "streamed gap sessions must equal the batch sessionization")
      assert(streamed.nonEmpty)
    }
  }

  test("file-stream replay: readStream over events.parquet -> windowed agg") {
    val s = spark
    import org.apache.spark.sql.functions._
    // The real readStream path (SURVEY §2.10: events.parquet replayed as
    // a stream): file source with explicit schema, ns->us normalization,
    // watermarked tumbling agg, AvailableNow-style full drain.
    val batchEvents = Tables.load(s, sf, "events")
    // file-stream source wants a directory: stage the table file into one
    val streamDir = tempDir("graft_replay")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val raw = Tables.normalizeEventTs(s.readStream
      .schema(s.read.parquet(s"$sf/events.parquet").schema)
      .parquet(streamDir.toString))
    val agg = raw
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("n"))
    val q = agg.writeStream.format("memory").queryName("file_replay")
      .outputMode("complete").start()
    withQuery(q) {
      q.processAllAvailable()
      val streamed = s.table("file_replay").collect()
        .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      val batch = batchEvents
        .groupBy(window(col("ts"), "1 hour"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
      assert(streamed === batch)
    }
  }

  test("T3 cadence: Trigger.AvailableNow drains the staged backlog, " +
    "self-terminates, and equals the batch twin") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    // The cron-run analog (the reference's */15 schedule as a
    // scheduled drain): AvailableNow processes everything staged at
    // start, then stops the query ON ITS OWN — self-termination after
    // a full drain IS the cadence property under test.
    val streamDir = tempDir("graft_avnow")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/events.parquet"),
      streamDir.resolve("events.parquet"))
    val raw = Tables.normalizeEventTs(s.readStream
      .schema(s.read.parquet(s"$sf/events.parquet").schema)
      .parquet(streamDir.toString))
    val agg = raw
      .withWatermark("ts", "1 hour")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("h"), col("n"))
    val q = agg.writeStream.format("memory").queryName("avnow_out")
      .outputMode("complete")
      .trigger(Trigger.AvailableNow())
      .start()
    assert(q.awaitTermination(120000),
      "AvailableNow query must stop itself after draining the backlog")
    val streamed = s.table("avnow_out").collect()
      .map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    val batch = Tables.load(s, sf, "events")
      .groupBy(window(col("ts"), "1 hour"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toMap
    assert(streamed === batch)
  }

  test("T3 cadence: Trigger.ProcessingTime micro-batches produce the " +
    "same closed windows as the batch twin") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val evs = Tables.load(s, sf, "events")
      .orderBy(col("event_id")).limit(400)
      .select(col("user_id").as("entityId"), col("event_id").as("updateId"),
        col("event_type").as("state"), col("ts"))
      .as[UpdateEvent].collect().toSeq
    val in = MemoryStream[UpdateEvent]
    // wall-clock cadence configured on the query — the schedule analog
    // the replay tests never exercised (they drain ASAP)
    val q = Sensors.windowedStateCounts(in.toDS())
      .writeStream.format("memory").queryName("proctime_out")
      .outputMode("append")
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    withQuery(q) {
      val (b1, b2) = evs.splitAt(200)
      in.addData(b1); q.processAllAvailable()
      in.addData(b2); q.processAllAvailable()
      val closer = evs.map(_.ts.getTime).max + 100L * 3600 * 1000
      in.addData(UpdateEvent(-1, -1, "closer", new Timestamp(closer)))
      q.processAllAvailable()
      val streamed = s.table("proctime_out")
        .filter(col("state") =!= "closer")
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      val batch = s.createDataset(evs)
        .groupBy(window(col("ts"), "10 minutes"), col("state"))
        .agg(count(lit(1)).as("n"))
        .select(col("window.start"), col("state"), col("n"))
        .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(streamed === batch)
    }
  }

  test("near-dup admission: a streamed crawler feed gated against the " +
    "persisted corpus index equals the batch plan; novel docs pass") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    // incoming feed: exact copies of 3 corpus docs under new ids, plus
    // one genuinely novel doc that must NOT be flagged
    val srcDocs = Tables.load(s, sf, "documents")
      .filter(col("doc_id").isin(1L, 2L, 3L))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val incoming = srcDocs.zipWithIndex.map { case ((_, text), i) =>
      (100001L + i, text)
    } :+ ((100999L, "zzqx wvut plomk jrds entirely novel text qqaa bbcc"))
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.Llm.nearDupAdmission(
      s, sf, in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("admission_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(incoming: _*)
      q.processAllAvailable()
      // the verify side must be a LOOKUP of the persisted shingle/band
      // artifacts: the micro-batch plan scans the index store, never
      // the documents table (no corpus re-tokenize per batch)
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(microPlan.contains("graft-index"),
        "admission verify must read the persisted index artifacts")
      assert(!microPlan.contains("documents.parquet"),
        "admission must not rescan the documents table per micro-batch")
      s.table("admission_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    // every copied doc is flagged as a dup of its source at jaccard 1.0
    srcDocs.zipWithIndex.foreach { case ((srcId, _), i) =>
      assert(streamed.contains((100001L + i, srcId, 1.0)),
        s"copy of doc $srcId must be flagged against its source")
    }
    // the novel doc is admitted (no flag at all)
    assert(!streamed.exists(_._1 == 100999L), "novel doc must not be flagged")
    // batch/stream parity: the SAME operator over a batch frame emits
    // the same flags — one plan for backfill and crawler gate
    val batch = graft.ops.Llm.nearDupAdmission(
      s, sf, incoming.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
  }

  test("winnowing admission: a streamed crawler feed gated against " +
    "the persisted fingerprint chain equals the batch plan; novel " +
    "docs pass") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    // incoming feed: exact copies of 3 corpus docs under new ids (a
    // copy shares its source's whole winnowed fingerprint set), plus
    // one genuinely novel doc that must NOT be flagged
    val srcDocs = Tables.load(s, sf, "documents")
      .filter(col("doc_id").isin(1L, 2L, 3L))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val incoming = srcDocs.zipWithIndex.map { case ((_, text), i) =>
      (200001L + i, text)
    } :+ ((200999L, (1 to 30).map(i => s"novelw$i").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.Llm.winnowAdmission(
      s, sf, in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("winnow_admission_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(incoming: _*)
      q.processAllAvailable()
      // the corpus side must be a LOOKUP of the persisted fingerprint
      // artifact: the micro-batch plan scans the index store, never
      // the documents table (no corpus re-winnow per batch)
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(microPlan.contains("graft-index"),
        "admission must read the persisted fingerprint artifact")
      assert(!microPlan.contains("documents.parquet"),
        "admission must not rescan the documents table per micro-batch")
      // the stop list and the per-doc set fold are pinned at gate
      // build — the micro-batch plan must carry NO static-side
      // aggregation (a collect_set here = a corpus-sized re-fold
      // every trigger)
      assert(!microPlan.contains("collect_set"),
        "the corpus set fold must be pinned at gate build, " +
          "not re-run per micro-batch")
      s.table("winnow_admission_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    srcDocs.zipWithIndex.foreach { case ((srcId, _), i) =>
      assert(streamed.exists(t => t._1 == 200001L + i && t._2 == srcId),
        s"copy of doc $srcId must be flagged against its source")
    }
    assert(!streamed.exists(_._1 == 200999L), "novel doc must not be flagged")
    // batch/stream parity: the SAME operator over a batch frame emits
    // the same flags — one plan for backfill and crawler gate
    val batch = graft.ops.Llm.winnowAdmission(
      s, sf, incoming.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch)
  }

  test("mix admission: a doc_id-ordered crawler feed gated per source " +
    "against the waterfill allocation — state accumulates across " +
    "micro-batches, and the streamed ledger EQUALS the persisted " +
    "q152 shards and the batch face") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val feed = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1) // the crawler contract: monotone doc_id delivery
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ops.Llm.mixAdmission(s, sf,
      in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("mix_admission_out")
      .outputMode("append").start()
    // three micro-batches: per-source budgets must carry over in state,
    // not reset — a source part-filled by batch 1 continues in batch 2
    val third = feed.length / 3
    val streamed = withQuery(q) {
      feed.grouped(math.max(third, 1)).foreach { chunk =>
        in.addData(chunk: _*)
        q.processAllAvailable()
      }
      s.table("mix_admission_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3))).toSet
    }
    val shards = graft.ops.Llm.mixShards(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(streamed === shards,
      s"streamed admission must equal the persisted shards " +
        s"(missing=${(shards -- streamed).take(3)}, " +
        s"extra=${(streamed -- shards).take(3)})")
    // batch face: the SAME operator over a batch frame — one group
    // pass, empty state — emits the identical ledger
    val batch = graft.ops.Llm.mixAdmission(s, sf,
      feed.toSeq.toDF("doc_id", "source", "text"))
      .collect().map(t => (t.source, t.doc_id, t.n_tok, t.cum)).toSet
    assert(batch === shards)
  }

  test("mix gate quarantine: a replayed backlog (redelivered " +
    "micro-batch) routes every redelivered row to quarantine with the " +
    "running totals untouched — the admitted ledger still EQUALS the " +
    "q152 shards") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val feed = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ops.Llm.mixGate(s, sf,
      in.toDF().toDF("doc_id", "source", "text"))
      .writeStream.format("memory").queryName("mix_gate_replay")
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    val (rows, batchMetrics) = withQuery(q) {
      feed.grouped(third).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      // the replay: the first chunk delivered AGAIN (a crawler backlog
      // re-run) — every row violates the monotone contract
      in.addData(feed.take(third): _*)
      q.processAllAvailable()
      // per-micro-batch gate counters off the query's OWN progress
      // stream (observedMetrics — the monitoring plane, no second
      // pass over the dead-letter output)
      val metrics = q.recentProgress.toSeq
        .filter(_.numInputRows > 0)
        .flatMap(p => Option(p.observedMetrics.get("mix_gate")))
        .map(r => (r.getAs[Long]("quarantined"), r.getAs[Long]("admitted")))
      (s.table("mix_gate_replay").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSeq,
        metrics)
    }
    val admitted = rows.filter(_._5 == "admit")
      .map(t => (t._1, t._2, t._3, t._4)).toSet
    val quarantined = rows.filter(_._5 == "quarantine")
    val shards = graft.ops.Llm.mixShards(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(admitted === shards,
      "a replayed backlog must not disturb the admitted ledger")
    assert(quarantined.size === third,
      "every redelivered row must surface in quarantine, loudly")
    assert(quarantined.forall(_._4 == -1L),
      "quarantined rows carry the sentinel cum, never a running total")
    assert(quarantined.map(_._2).toSet ===
      feed.take(third).map(_._1).toSet)
    // observability (E-task r9#7): the violating batch is visible on
    // the dashboard the moment it commits — its own micro-batch
    // progress carries the quarantine counter, clean batches carry 0
    assert(batchMetrics.size >= 4, s"one metric row per data batch: " +
      s"$batchMetrics")
    assert(batchMetrics.last === ((third.toLong, 0L)),
      s"the replay batch must report (quarantined=$third, admitted=0): " +
        s"${batchMetrics.last}")
    assert(batchMetrics.dropRight(1).forall(_._1 == 0L),
      s"clean batches must report zero quarantined: $batchMetrics")
    assert(batchMetrics.map(_._2).sum === admitted.size.toLong,
      "per-batch admitted counters must sum to the ledger")
  }

  test("mix gate reorder window: transport reordering WITHIN the " +
    "window is absorbed exactly; a document arriving beyond it " +
    "quarantines instead of silently mis-cumulating") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    // a real source name, so the broadcast plan has an allocation
    val src = graft.ops.Llm.mixAllocation(s, sf)
      .filter(col("alloc_tokens") > lit(100L))
      .select(col("source")).as[String].head()
    // synthetic one-token docs far past the corpus ids: cum stays tiny
    def doc(id: Long) = (id, src, "tok")
    val in = MemoryStream[(Long, String, String)]
    val q = graft.ops.Llm.mixGate(s, sf,
      in.toDF().toDF("doc_id", "source", "text"), reorderWindow = 2)
      .writeStream.format("memory").queryName("mix_gate_window")
      .outputMode("append").start()
    val rows = withQuery(q) {
      // one micro-batch, arrival order 10,12,11,13,5: the 12/11 swap is
      // displaced ONE slot — inside the window, absorbed; id 5 arrives
      // after the heap was forced past 11 — a beyond-window violation
      in.addData(doc(1000010L), doc(1000012L), doc(1000011L),
        doc(1000013L), doc(1000005L))
      q.processAllAvailable()
      s.table("mix_gate_window").collect()
        .map(r => (r.getLong(1), r.getLong(3), r.getString(4))).toSeq
    }
    assert(rows.filter(_._3 == "admit").map(t => (t._1, t._2)).toSet ===
      Set((1000010L, 1L), (1000011L, 2L), (1000012L, 3L),
        (1000013L, 4L)),
      "an in-window swap must admit in exact id order with exact cums")
    assert(rows.filter(_._3 == "quarantine").map(_._1) ===
      Seq(1000005L),
      "a beyond-window id must quarantine, not silently mis-cumulate")
  }

  test("mix gate AvailableNow: a whole-corpus backlog drained in ONE " +
    "trigger matches the q152 shards with the reorder heap held at 8 " +
    "entries — group memory is the window, never the trigger size") {
    val s = spark
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val tmp = tempDir("graft_gate_an").toString
    val feedDir = s"$tmp/feed"
    Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"))
      .orderBy(col("doc_id"))
      .coalesce(1) // one file, one split: delivery order IS id order
      .write.parquet(feedDir)
    val stream = s.readStream.schema(s.read.parquet(feedDir).schema)
      .parquet(feedDir)
    val q = graft.ops.Llm.mixGate(s, sf, stream, reorderWindow = 8)
      .writeStream.format("memory").queryName("mix_gate_an")
      .outputMode("append").trigger(Trigger.AvailableNow()).start()
    q.awaitTermination()
    val rows = s.table("mix_gate_an").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getString(4))).toSeq
    val shards = graft.ops.Llm.mixShards(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(rows.forall(_._5 == "admit"),
      "an in-order backlog quarantines nothing")
    assert(rows.map(t => (t._1, t._2, t._3, t._4)).toSet === shards)
  }

  test("curated admission: quality gates + exact dedup + curated mix " +
    "admission composed under ONE stream — the ledger across " +
    "micro-batches EQUALS the persisted q154 curated shards, and the " +
    "batch face agrees") { withRocksDBStateStore {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val feed = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortBy(_._1) // the crawler contract
    val in = MemoryStream[(Long, String, String, Long)]
    val q = graft.ops.Llm.curatedAdmission(s, sf,
      in.toDF().toDF("doc_id", "source", "text", "n_chars"))
      .writeStream.format("memory").queryName("curated_adm_out")
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    val rows = withQuery(q) {
      feed.grouped(third).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      s.table("curated_adm_out").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getString(4))).toSeq
    }
    assert(rows.forall(_._5 == "admit"),
      "an in-order, dup-free-by-dedup crawl quarantines nothing")
    val admitted = rows.map(t => (t._1, t._2, t._3, t._4)).toSet
    val shards = graft.ops.Llm.curatedMixShards(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(admitted === shards,
      s"composed streamed ledger must equal the q154 curated shards " +
        s"(missing=${(shards -- admitted).take(3)}, " +
        s"extra=${(admitted -- shards).take(3)})")
    // batch face: same operator, one pass, min_by representative
    val batch = graft.ops.Llm.curatedAdmission(s, sf,
      feed.toSeq.toDF("doc_id", "source", "text", "n_chars"))
      .collect().map(r => (r.source, r.doc_id, r.n_tok, r.cum)).toSet
    assert(batch === shards)
  } }

  test("curated admission dedup state is BOUNDED: already-ingested " +
    "documents drop via the stream-static text-hash artifact with " +
    "zero state growth, and in-flight hashes evict as the watermark " +
    "passes — state rows track the window, never the fed history") { withRocksDBStateStore {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val docs = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortBy(_._1)
    val (seen, fresh) = docs.splitAt(docs.length / 2)
    // the "already ingested" warehouse: first half persisted where the
    // text-hash artifact expects the documents table
    val seenDir = tempDir("graft_curadm_seen").toString
    seen.toSeq.toDF("doc_id", "source", "text", "n_chars")
      .write.mode("overwrite").parquet(s"$seenDir/documents.parquet")
    val in = MemoryStream[(Long, String, String, Long, Timestamp)]
    val q = graft.ops.Llm.curatedAdmission(s, sf,
      in.toDF().toDF("doc_id", "source", "text", "n_chars", "arr_ts"),
      seenCorpus = Some(seenDir))
      .writeStream.format("memory").queryName("curated_adm_bounded")
      .outputMode("append").start()
    // the dedup plane is the transformWithState operator (the gate is
    // the flatMapGroupsWithState one — its per-source scalars are not
    // under test here)
    def dedupRows: Long = Option(q.lastProgress).toSeq
      .flatMap(_.stateOperators.toSeq)
      .filter(_.operatorName.toLowerCase.contains("transformwithstate"))
      .map(_.numRowsTotal).sum
    def filler(id: Long, sec: Long) = {
      // a filler must PASS the quality gates to reach the watermark
      // node and advance the eviction clock: ≥15 words, n_chars ≤
      // 12·n_words, and long enough that the largest single 2-gram
      // stays under Gopher's 12%-of-chars rule
      val text = (1 to 60).map(i => s"n${id % 1000}x$i").mkString(" ")
      (id, "web", text, text.length.toLong, ts(sec))
    }
    withQuery(q) {
      // batch A: every doc's text is in the seen corpus — plane 1
      // (the anti-join) drops them BEFORE the dedup operator, so
      // admitted output and dedup state must both stay empty
      in.addData(seen.map(d => (d._1, d._2, d._3, d._4, ts(10))).toSeq: _*)
      q.processAllAvailable()
      assert(s.table("curated_adm_bounded").isEmpty,
        "already-ingested docs must not re-admit")
      assert(dedupRows === 0L,
        s"anti-joined docs must never enter dedup state (got $dedupRows)")
      // batch B: novel second half — state holds its window hashes
      in.addData(fresh.map(d => (d._1, d._2, d._3, d._4, ts(1000))).toSeq: _*)
      q.processAllAvailable()
      val afterB = dedupRows
      assert(afterB > 0L && afterB <= fresh.length,
        s"window state must be bounded by the batch's docs ($afterB)")
      val admitted = s.table("curated_adm_bounded").collect()
        .map(_.getLong(1)).toSet
      assert(admitted.nonEmpty &&
        admitted.forall(id => fresh.exists(_._1 == id)),
        "every admitted doc must come from the novel half")
      // batches C/D: a few fillers far past the 10-minute watermark —
      // C advances the watermark beyond batch B's event time, D gives
      // the store the following trigger in which eviction lands
      in.addData(filler(900001L, 1000 + 3600),
        filler(900002L, 1000 + 3600)); q.processAllAvailable()
      in.addData(filler(900003L, 1000 + 3700)); q.processAllAvailable()
      val afterD = dedupRows
      assert(afterD <= 3L,
        s"batch B's ${afterB} hashes must evict once the watermark " +
          s"passes — state is the window, not the history (got $afterD)")
    }
  } }

  test("curated admission ENFORCES the representative rule: a " +
    "cross-source duplicate arriving big-id-first quarantines the " +
    "smaller-id arrival loudly — quarantine row + observedMetrics " +
    "counter — instead of silently flipping the ledger vs the batch " +
    "face's min_by representative") { withRocksDBStateStore {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // one text, two sources: the batch face keeps min_by(doc_id) =
    // 900003 (src2); the stream sees 900009 (src1) FIRST. 900009 is
    // in the train bucket (knuth 37 < 80); 900003 is NOT (83) — the
    // violation must surface anyway (quarantine bypasses the split)
    val text = (1 to 60).map(i => s"dupenforce$i word$i").mkString(" ")
    val in = MemoryStream[(Long, String, String, Long, Timestamp)]
    val q = graft.ops.Llm.curatedAdmission(s, sf,
      in.toDF().toDF("doc_id", "source", "text", "n_chars", "arr_ts"))
      .writeStream.format("memory").queryName("curated_adm_viol")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((900009L, "src1", text, text.length.toLong, ts(10)))
      q.processAllAvailable()
      in.addData((900003L, "src2", text, text.length.toLong, ts(20)))
      q.processAllAvailable()
      val rows = s.table("curated_adm_viol").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(4)))
      assert(rows.exists(t => t._2 == 900009L && t._3 == "admit"),
        s"the first arrival must admit under the big id (got " +
          s"${rows.toSeq})")
      assert(rows.exists(t =>
        t._1 == "src2" && t._2 == 900003L && t._3 == "quarantine"),
        "the smaller-id cross-source duplicate — the batch face's " +
          s"representative — must quarantine loudly (got ${rows.toSeq})")
      // and the monitoring plane saw it without scanning the output
      val sawCounter = q.recentProgress.exists { p =>
        Option(p.observedMetrics.get("curated_gate"))
          .exists(_.getAs[Long]("quarantined") >= 1L)
      }
      assert(sawCounter,
        "the curated_gate observedMetrics must count the violation")
    }
  } }

  test("media admission: a streamed media feed gated against the " +
    "persisted block-postings artifact equals the batch plan; " +
    "re-encodes flag at containment 1.0, novel media passes") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val feed = graft.ops.Gates.media.incoming(s, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    assert(feed.exists(_._1 >= 4000000L), "fixture must carry novel media")
    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.ops.Multimodal.mediaAdmission(s, sf,
      in.toDF().toDF("media_id", "payload"))
      .writeStream.format("memory").queryName("media_adm_out")
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    val streamed = withQuery(q) {
      feed.grouped(third).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      s.table("media_adm_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    val batch = graft.ops.Gates.media.backfill(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed === batch,
      s"streamed flags must equal the batch plan " +
        s"(missing=${(batch -- streamed).take(3)}, " +
        s"extra=${(streamed -- batch).take(3)})")
    assert(streamed.nonEmpty, "the planted re-encodes must flag")
    // a half-body re-wrap's every block is shared → containment 1.0
    // against its own base media
    val vsBase = streamed.filter(t => t._2 == t._1 - 3000000L)
    assert(vsBase.nonEmpty && vsBase.forall(_._6 == 1000000L),
      "each re-encode must flag its base at exactly 1.0")
    // novel media (reversed-body JPEGs, ids +4e6) never flag
    assert(streamed.forall(_._1 < 4000000L),
      "novel media must pass the gate silently")
  }

  test("audio admission: a streamed WAV feed gated against the " +
    "persisted fingerprint artifacts equals the batch plan; polarity " +
    "re-masters flag their base at containment 1.0 (bytes share " +
    "nothing), novel audio never flags its own base") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val feed = graft.ops.Gates.audio.incoming(s, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    assert(feed.exists(_._1 >= 7000000L), "fixture must carry novel audio")
    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.ops.Multimodal.audioAdmission(s, sf,
      in.toDF().toDF("media_id", "payload"))
      .writeStream.format("memory").queryName("audio_adm_out")
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    val streamed = withQuery(q) {
      feed.grouped(third).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      // the corpus side must be artifact LOOKUPS: no documents
      // rescan, no static-side set fold per micro-batch (the sets
      // are the persisted audio_fp_sets artifact)
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(microPlan.contains("graft-index"),
        "the audio gate must read the persisted fingerprint artifacts")
      assert(!microPlan.contains("documents.parquet"),
        "the audio gate must not rescan the documents table per batch")
      assert(!microPlan.contains("collect_set"),
        "the corpus fingerprint sets must come from the persisted " +
          "artifact, not a per-trigger fold")
      s.table("audio_adm_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    }
    val batch = graft.ops.Gates.audio.backfill(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toSet
    assert(streamed === batch,
      s"streamed flags must equal the batch plan " +
        s"(missing=${(batch -- streamed).take(3)}, " +
        s"extra=${(streamed -- batch).take(3)})")
    assert(streamed.nonEmpty, "the planted re-masters must flag")
    // a polarity flip keeps the EXACT fingerprint set (s² = (−s)²),
    // so every inverted re-master that flags its base flags at 1.0
    val vsBase = streamed.filter(t => t._2 == t._1 - 6000000L)
    assert(vsBase.nonEmpty && vsBase.forall(_._6 == 1000000L),
      "each polarity re-master must flag its base at exactly 1.0")
    // the counterfactual: the re-master shares NO payload bytes with
    // its base, so the byte-block gate (q160) provably cannot pair it
    val (someIn, someBase) = (vsBase.head._1, vsBase.head._2)
    val inPayload = feed.toMap.apply(someIn)
    val basePayload = graft.ops.Multimodal.audioVariantCorpus(s, sf)
      .filter(col("media_id") === someBase)
      .collect().head.getAs[Array[Byte]]("payload")
    assert(!java.util.Arrays.equals(inPayload, basePayload))
    val md = java.security.MessageDigest.getInstance("MD5")
    def blocks(p: Array[Byte]): Set[String] = {
      val rows = Iterator(graft.ops.Multimodal.MediaRow(0L, "audio", p))
      graft.ops.Multimodal.decode(rows).next().block_hashes.toSet
    }
    assert(blocks(inPayload).intersect(blocks(basePayload)).isEmpty,
      "a re-master must share NO content blocks with its base — " +
        "only the energy-profile gate can catch it")
    // novel audio (reversed-text WAVs, ids +7e6) never flags its own
    // base — the reversed sample stream has a different profile
    assert(streamed.filter(_._1 >= 7000000L)
      .forall(t => t._2 != t._1 - 7000000L),
      "novel audio must not flag its own base")
  }

  test("raster admission: a streamed image feed gated against the " +
    "persisted perceptual hashes equals the batch plan; exposure " +
    "re-masters flag their base, novel imagery never flags its own " +
    "base") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val feed = graft.ops.Gates.raster.incoming(s, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    assert(feed.exists(_._1 >= 9500000L), "fixture must carry novel imagery")
    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.ops.Multimodal.rasterAdmission(s, sf,
      in.toDF().toDF("raster_id", "payload"))
      .writeStream.format("memory").queryName("raster_adm_out")
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    val streamed = withQuery(q) {
      feed.grouped(third).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
      // artifact lookups only: no documents rescan, no per-trigger
      // static-side fold (the stop list is localCheckpoint-pinned,
      // the hash relation is the persisted artifact)
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(microPlan.contains("graft-index"),
        "the raster gate must read the persisted hash artifact")
      assert(!microPlan.contains("documents.parquet"),
        "the raster gate must not rescan the documents table per batch")
      val out = s.table("raster_adm_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
      // gate observability (the E167 counters on the admission plane):
      // per-batch flag counts ride observedMetrics and sum to the
      // ledger — a duplicate attack is visible the moment its batch
      // commits, without scanning the flag output
      val flagsSeen = q.recentProgress.flatMap(p =>
        Option(p.observedMetrics.get("raster_gate")))
        .map(_.getLong(0)).sum
      assert(flagsSeen === out.size,
        "per-batch observedMetrics flag counts must sum to the ledger")
      out
    }
    val batch = graft.ops.Gates.raster.backfill(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      s"streamed flags must equal the batch plan " +
        s"(missing=${(batch -- streamed).take(3)}, " +
        s"extra=${(streamed -- batch).take(3)})")
    // quarter-brightness re-masters that flag anything flag their base
    val vsBase = streamed.filter(t => t._2 == t._1 - 9000000L)
    assert(vsBase.nonEmpty,
      "the planted exposure re-masters must flag their base")
    // the counterfactual: the re-master shares no payload bytes
    val (someIn, someBase) = (vsBase.head._1, vsBase.head._2)
    val inP = feed.toMap.apply(someIn)
    val baseP = graft.ops.Multimodal.rasterVariantTable(s, sf)
      .filter(col("raster_id") === someBase)
      .collect().head.getAs[Array[Byte]]("payload")
    assert(!java.util.Arrays.equals(inP, baseP),
      "a re-master must rewrite the payload bytes")
    // novel imagery (a different structural family) never flags its
    // own base
    assert(streamed.filter(_._1 >= 9500000L)
      .forall(t => t._2 != t._1 - 9500000L),
      "novel imagery must not flag its own base")
  }

  test("raster admission DECISION face: ONE row per incoming item " +
    "(flag + best evidence) — the stream equals the batch plan with " +
    "exactly one stateful operator, and groups close on the " +
    "decode-adjacent watermark even when a trigger is all-novel") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val feed = graft.ops.Gates.raster.incoming(s, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = graft.ops.Multimodal.rasterAdmission(s, sf,
      in.toDF().toDF("raster_id", "payload", "arr_ts"), decision = true)
      .writeStream.format("memory").queryName("raster_dec_out")
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    val streamed = withQuery(q) {
      // event times start ABOVE the initial watermark (epoch 0): a
      // first chunk at exactly t=0 would be dropped as late data
      feed.grouped(third).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map(c => (c._1, c._2, ts((i + 1) * 3600L))): _*)
        q.processAllAvailable()
      }
      // append-mode groups only emit once the watermark passes their
      // event time: a far-future sentinel that is a VALID raster but
      // flags NOTHING closes every open group — proving the watermark
      // is declared decode-adjacent (a watermark declared after the
      // verify filter would never advance on an all-novel trigger and
      // the decisions would stall forever)
      val pgm = ("P5\n16 16\n255\n").getBytes ++
        (0 until 256).map(i => ((i * 97 + 13) % 256).toByte)
      in.addData((999999999L, pgm, ts(10000000L)))
      q.processAllAvailable()
      // exactly ONE stateful operator on the micro-batch plan: the
      // decision aggregation itself (the pair-dedup stage is skipped —
      // min_by is duplicate-insensitive)
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(!microPlan.contains("DropDuplicates"),
        "the decision face must not chain a dedup stateful operator")
      assert(q.lastProgress.stateOperators.length === 1,
        "the decision plan must run EXACTLY one stateful operator")
      s.table("raster_dec_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    }
    val batch = graft.ops.Multimodal.rasterAdmission(s, sf,
      graft.ops.Gates.raster.incoming(s, sf), decision = true)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batch,
      s"streamed decisions must equal the batch plan " +
        s"(missing=${(batch -- streamed).take(3)}, " +
        s"extra=${(streamed -- batch).take(3)})")
    assert(streamed.nonEmpty, "the planted re-masters must decide")
    // O(incoming): one decision row per flagged incoming item
    assert(streamed.map(_._1).size === streamed.size,
      "the decision face must emit exactly one row per in_id")
    // the decision IS the argmin over the audit-face pairs: smallest
    // Hamming, ties to the smallest corpus_id
    val pairs = graft.ops.Gates.raster.backfill(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val best = pairs.groupBy(_._1).map { case (inId, ps) =>
      val w = ps.minBy(p => (p._3, p._2)); (inId, w._2, w._3) }.toSet
    assert(streamed === best,
      "each decision must be the best-evidence row of the audit face")
  }

  test("text admission DECISION face: the stream equals the batch " +
    "plan (one stateful operator, shingle-adjacent watermark), and " +
    "each decision is the argmax-Jaccard row of the audit face") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions.col
    val feed = s.read.parquet(s"$sf/documents.parquet")
      .filter(col("doc_id") % 50 === 0)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
      .collect().map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    val in = MemoryStream[(Long, String, Timestamp)]
    val q = graft.ops.Llm.nearDupAdmission(s, sf,
      in.toDF().toDF("doc_id", "text", "arr_ts"), decision = true)
      .writeStream.format("memory").queryName("text_dec_out")
      .outputMode("append").start()
    val half = math.max(feed.length / 2, 1)
    val streamed = withQuery(q) {
      feed.grouped(half).zipWithIndex.foreach { case (chunk, i) =>
        in.addData(chunk.map(c => (c._1, c._2, ts((i + 1) * 3600L))): _*)
        q.processAllAvailable()
      }
      // novel far-future sentinel closes every open group (the
      // watermark is shingle-adjacent, so a flag-nothing doc advances it)
      in.addData((999999999L,
        "zzqx wvvk pplm zzqx wvvk pplm unique sentinel words only",
        ts(10000000L)))
      q.processAllAvailable()
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(!microPlan.contains("DropDuplicates"),
        "the decision face must not chain a dedup stateful operator")
      assert(q.lastProgress.stateOperators.length === 1,
        "the decision plan must run EXACTLY one stateful operator")
      s.table("text_dec_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val batch = graft.ops.Gates.text.decision(s, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet
    assert(streamed === batch,
      s"streamed decisions must equal the batch plan " +
        s"(missing=${(batch -- streamed).take(3)}, " +
        s"extra=${(streamed -- batch).take(3)})")
    assert(streamed.nonEmpty, "replayed corpus docs must decide")
    assert(streamed.map(_._1).size === streamed.size,
      "one decision row per in_id")
    // decision ≡ argmax over the audit face (max jaccard, ties to the
    // smallest corpus_id)
    val pairs = graft.ops.Gates.text.backfill(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val best = pairs.groupBy(_._1).map { case (inId, ps) =>
      val w = ps.minBy(p => (-p._3, p._2)); (inId, w._2, w._3) }.toSet
    assert(streamed === best)
  }

  test("vector admission DECISION face (batch): one row per incoming " +
    "vector, the argmax-cosine row of the audit face") {
    val s = spark
    val dec = graft.ops.Gates.vector.decision(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val pairs = graft.ops.Gates.vector.backfill(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val best = pairs.groupBy(_._1).map { case (inId, ps) =>
      val w = ps.minBy(p => (-p._3, p._2)); (inId, w._2, w._3) }.toSet
    assert(dec === best)
    assert(dec.nonEmpty && dec.map(_._1).size === dec.size)
  }

  test("audio + media admission DECISION faces (batch): one row per " +
    "incoming item, and it is the argmax-containment row of the " +
    "audit face with ties to the smallest corpus_id") {
    val s = spark
    def check(decision: => Array[org.apache.spark.sql.Row],
        audit: => Array[org.apache.spark.sql.Row]): Unit = {
      val dec = decision.map(r => (r.getLong(0), r.getLong(1),
        r.getLong(5))).toSet
      val pairs = audit.map(r => (r.getLong(0), r.getLong(1),
        r.getLong(5)))
      val best = pairs.groupBy(_._1).map { case (inId, ps) =>
        val w = ps.minBy(p => (-p._3, p._2)); (inId, w._2, w._3) }.toSet
      assert(dec === best)
      assert(dec.nonEmpty)
      assert(dec.map(_._1).size === dec.size)
    }
    check(graft.ops.Gates.audio.decision(s, sf).collect(),
      graft.ops.Gates.audio.backfill(s, sf).collect())
    check(graft.ops.Gates.media.decision(s, sf).collect(),
      graft.ops.Gates.media.backfill(s, sf).collect())
  }

  test("vector, media and audio admission DECISION faces under " +
    "readStream: the stream equals the batch face with exactly one " +
    "stateful operator and no dedup, and a flag-nothing sentinel " +
    "closes the open groups") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    // streams `feed` in two event-time chunks, then `sentinel` far in
    // the future; returns the decision rows
    def streamed[T](gate: graft.ops.GateSpec, idCol: String,
        payloadCol: String, in: MemoryStream[(Long, T, Timestamp)],
        feed: Seq[(Long, T)], sentinel: T): Set[Seq[Any]] = {
      val q = gate.kernel(s, sf,
        in.toDF().toDF(idCol, payloadCol, "arr_ts"), true)
        .writeStream.format("memory").queryName(s"${gate.name}_dec_out")
        .outputMode("append").start()
      withQuery(q) {
        feed.grouped(math.max(feed.length / 2, 1)).zipWithIndex.foreach {
          case (chunk, i) =>
            in.addData(chunk.map(c => (c._1, c._2, ts((i + 1) * 3600L))): _*)
            q.processAllAvailable()
        }
        in.addData((999999999L, sentinel, ts(10000000L)))
        q.processAllAvailable()
        val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
        assert(!microPlan.contains("DropDuplicates"),
          s"${gate.name}: the decision face must not chain a dedup")
        assert(q.lastProgress.stateOperators.length === 1,
          s"${gate.name}: the decision plan must run EXACTLY one " +
            "stateful operator")
        s.table(s"${gate.name}_dec_out").collect().map(_.toSeq).toSet
      }
    }
    def check(gate: graft.ops.GateSpec, got: Set[Seq[Any]]): Unit = {
      val batch = gate.decision(s, sf).collect().map(_.toSeq).toSet
      assert(got === batch,
        s"${gate.name}: streamed decisions must equal the batch face " +
          s"(missing=${(batch -- got).take(3)}, " +
          s"extra=${(got -- batch).take(3)})")
      assert(got.nonEmpty, s"${gate.name}: the planted copies must decide")
    }
    // every replayed vector collides with its source; the sentinel is
    // a pseudo-random vector far below cos 0.4 against its bucket
    val vectors = graft.ops.Gates.vector.incoming(s, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1).toSeq
    val dims = vectors.head._2.length
    check(graft.ops.Gates.vector, streamed(graft.ops.Gates.vector,
      "vec_id", "embedding", MemoryStream[(Long, Seq[Float], Timestamp)],
      vectors, Seq.tabulate(dims)(d =>
        ((d * 2654435761L % 1000003L).toFloat / 1000003f) - 0.5f)))
    // media and audio: the sentinel re-sends a feed payload that the
    // batch face does not decide and that carries signatures (the next
    // arm closes the audio groups with a clip that has none)
    Seq[(graft.ops.GateSpec, Array[Byte] => Boolean)](
      graft.ops.Gates.media -> (_ => true),
      graft.ops.Gates.audio -> (graft.ops.Multimodal.audioFpSeqOf(_).nonEmpty)
    ).foreach { case (gate, signed) =>
      val feed = gate.incoming(s, sf).collect()
        .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_._1).toSeq
      val decided = gate.decision(s, sf).collect().map(_.getLong(0)).toSet
      val quiet = feed.find(f => !decided.contains(f._1) && signed(f._2))
        .getOrElse(fail(s"${gate.name}: the feed must carry novel items"))
      check(gate, streamed(gate, "media_id", "payload",
        MemoryStream[(Long, Array[Byte], Timestamp)], feed, quiet._2))
    }
  }

  test("audio admission DECISION face under readStream: a sentinel " +
    "clip with no fingerprints still advances the watermark and closes " +
    "every open group") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val gate = graft.ops.Gates.audio
    val feed = gate.incoming(s, sf).collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_._1).toSeq
    // a clip shorter than four frames has no fingerprints, so nothing
    // of it survives to the candidate join
    val silent = feed.map(_._2)
      .find(graft.ops.Multimodal.audioFpSeqOf(_).isEmpty)
      .getOrElse(fail("the feed must carry a clip with no fingerprints"))
    val in = MemoryStream[(Long, Array[Byte], Timestamp)]
    val q = gate.kernel(s, sf,
      in.toDF().toDF("media_id", "payload", "arr_ts"), true)
      .writeStream.format("memory").queryName("audio_silent_dec_out")
      .outputMode("append").start()
    val got = withQuery(q) {
      in.addData(feed.map(f => (f._1, f._2, ts(3600L))): _*)
      q.processAllAvailable()
      in.addData((999999999L, silent, ts(10000000L)))
      q.processAllAvailable()
      s.table("audio_silent_dec_out").collect().map(_.toSeq).toSet
    }
    val batch = gate.decision(s, sf).collect().map(_.toSeq).toSet
    assert(batch.nonEmpty, "the planted re-masters must decide")
    assert(got === batch,
      s"streamed decisions must equal the batch face " +
        s"(missing=${(batch -- got).size}, extra=${(got -- batch).size})")
  }

  test("exact-Jaccard admission: a streamed feed gated against the " +
    "persisted prefix index equals the batch plan; exact copies flag " +
    "at J=1, novel docs pass — zero recall loss, unlike the banded gate") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val srcDocs = Tables.load(s, sf, "documents")
      .filter(col("doc_id").isin(1L, 2L, 3L))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val incoming = srcDocs.zipWithIndex.map { case ((_, text), i) =>
      (300001L + i, text)
    } :+ ((300999L, (1 to 30).map(i => s"novelpj$i").mkString(" ")))
    val in = MemoryStream[(Long, String)]
    val q = graft.ops.Llm.prefixJaccardAdmission(
      s, sf, in.toDF().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("prefix_admission_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(incoming: _*)
      q.processAllAvailable()
      val microPlan = org.apache.spark.sql.GraftBridge.lastExecutedPlan(q)
      assert(microPlan.contains("graft-index"),
        "admission must read the persisted prefix/shingle artifacts")
      assert(!microPlan.contains("documents.parquet"),
        "admission must not rescan the documents table per micro-batch")
      s.table("prefix_admission_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
          r.getDouble(3))).toSet
    }
    srcDocs.zipWithIndex.foreach { case ((srcId, _), i) =>
      val hit = streamed.find(t => t._1 == 300001L + i && t._2 == srcId)
      assert(hit.isDefined, s"copy of doc $srcId must be flagged")
      assert(hit.get._4 === 1.0, "an exact copy must verify at J = 1")
    }
    assert(!streamed.exists(_._1 == 300999L), "novel doc must not flag")
    val batch = graft.ops.Llm.prefixJaccardAdmission(
      s, sf, incoming.toSeq.toDF("doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDouble(3))).toSet
    assert(streamed === batch)
  }

  test("near-dup admission state stays bounded on a long feed: the " +
    "watermarked pair dedup evicts state as event time advances") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    // copies of 3 corpus docs re-fed every "hour" under fresh ids; the
    // feed carries its own event time (arr_ts), watermark delay is 10
    // minutes, so each batch's dedup state is evictable by the next
    val srcDocs = Tables.load(s, sf, "documents")
      .filter(col("doc_id").isin(1L, 2L, 3L))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val base = 1700000000000L
    val nBatches = 6
    val in = MemoryStream[(Long, String, java.sql.Timestamp)]
    val q = graft.ops.Llm.nearDupAdmission(
      s, sf, in.toDF().toDF("doc_id", "text", "arr_ts"))
      .writeStream.format("memory").queryName("admission_state_out")
      .outputMode("append").start()
    withQuery(q) {
      (0 until nBatches).foreach { b =>
        val batchRows = srcDocs.zipWithIndex.map { case ((_, text), i) =>
          (300000L + b * 100 + i, text,
            new java.sql.Timestamp(base + b * 3600L * 1000))
        }
        in.addData(batchRows: _*)
        q.processAllAvailable()
      }
      val emitted = s.table("admission_state_out").count()
      assert(emitted >= (nBatches * srcDocs.length).toLong,
        "every re-fed copy must be flagged")
      val stateRows = q.lastProgress.stateOperators
        .map(_.numRowsTotal).sum
      // without the watermark the dedup operator accretes one state row
      // per (in_id, corpus_id) pair ever seen (≥ emitted); with it the
      // store holds only the un-evicted tail of the feed
      assert(stateRows < emitted / 2,
        s"state must evict: $stateRows rows held vs $emitted pairs emitted")
    }
  }

  test("vector routing runs under readStream: streamed IVF assignments " +
    "equal the batch plan") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val vecs = Tables.load(s, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toSeq.take(50)
    val in = MemoryStream[(Long, Seq[Float])]
    // the map-only fold-argmax routing is window-free, so the SAME
    // operator starts as a streaming query (window-rank cannot)
    val q = graft.ops.Llm.vectorRouting(
      s, sf, in.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("routing_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(vecs: _*)
      q.processAllAvailable()
      s.table("routing_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val batch = graft.ops.Llm.vectorRouting(
      s, sf, vecs.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    assert(streamed.size === 50)
  }

  test("pq encoding runs under readStream: streamed codes equal the " +
    "batch plan") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val vecs = Tables.load(s, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toSeq.take(50)
    val in = MemoryStream[(Long, Seq[Float])]
    // the map-only fold-argmin encoder is window/state-free, so the
    // SAME operator starts as a streaming query (groupBy-min cannot)
    val q = graft.ops.Llm.pqRouting(
      s, sf, in.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("pq_routing_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(vecs: _*)
      q.processAllAvailable()
      s.table("pq_routing_out").collect()
        .map(r => (r.getLong(0), r.getByte(1), r.getByte(2))).toSet
    }
    val batch = graft.ops.Llm.pqRouting(
      s, sf, vecs.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getByte(1), r.getByte(2))).toSet
    assert(streamed === batch)
    assert(streamed.size === 50 * 8)
  }

  test("residual-PQ encoding runs under readStream: streamed codes " +
    "equal the batch plan AND the persisted rpq_codes artifact — a " +
    "crawler feed encodes online into the exact residual index format") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val vecs = Tables.load(s, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toSeq.take(50)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.ops.Llm.rpqRouting(
      s, sf, in.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("rpq_routing_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(vecs: _*)
      q.processAllAvailable()
      s.table("rpq_routing_out").collect()
        .map(r => (r.getLong(0), r.getByte(1), r.getByte(2))).toSet
    }
    val batch = graft.ops.Llm.rpqRouting(
      s, sf, vecs.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getByte(1), r.getByte(2))).toSet
    assert(streamed === batch)
    assert(streamed.size === 50 * 8)
    // streamed codes ≡ the persisted artifact's rows for those ids:
    // the online path lands in the exact on-disk code format
    val ids = vecs.map(_._1).toSet
    val artifact = graft.ops.Llm.rpqCodes(s, sf).collect()
      .map(r => (r.getLong(0), r.getByte(1), r.getByte(2)))
      .filter(t => ids(t._1)).toSet
    assert(streamed === artifact)
  }

  test("sq8 encoding runs under readStream: streamed codes equal the " +
    "batch plan and the persisted artifact") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val vecs = Tables.load(s, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toSeq.take(50)
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.ops.Llm.sq8Routing(
      s, sf, in.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("sq8_routing_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(vecs: _*)
      q.processAllAvailable()
      s.table("sq8_routing_out").collect()
        .map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    }
    assert(streamed.size === 50)
    // streamed codes ≡ the persisted artifact's codes for those ids
    val artifact = graft.ops.Llm.sq8Vectors(s, sf).collect()
      .map(r => (r.getLong(0), r.getSeq[Byte](1))).toMap
    streamed.foreach { case (id, qv) => assert(artifact(id) === qv,
      s"streamed code for $id must equal the artifact's") }
  }

  test("bpe encode runs under readStream: streamed token counts equal " +
    "the batch projection") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val merges = graft.ops.Llm.bpeModel(s, sf).orderBy("round").collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    assert(merges.nonEmpty)
    val docsRows = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("lang"), col("text"))
      .as[(Long, String, String)].collect().toSeq.take(40)
    val in = MemoryStream[(Long, String, String)]
    // encode is a pure projection over the model literals: the SAME
    // operator starts as a streaming query with zero state
    val q = graft.ops.Llm.bpeEncodedRows(
      in.toDF().toDF("doc_id", "lang", "text"), merges)
      .writeStream.format("memory").queryName("bpe_encode_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(docsRows: _*)
      q.processAllAvailable()
      s.table("bpe_encode_out").collect()
        .map(r => r.getAs[Long]("doc_id") ->
          ((r.getAs[Int]("n_chars"), r.getAs[Int]("n_tok")))).toMap
    }
    val batch = graft.ops.Llm.bpeEncodedRows(
      docsRows.toDF("doc_id", "lang", "text"), merges)
      .collect().map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[Int]("n_chars"), r.getAs[Int]("n_tok")))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // merges actually fired: tokens < chars for at least one doc
    assert(streamed.values.exists { case (nc, nt) => nt < nc })
  }

  test("gopher repetition gate runs under readStream: in-row folds " +
    "are a pure projection, streamed stats equal the batch gate") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    val docsRows = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("text"), col("n_chars"))
      .as[(Long, String, Long)].collect().toSeq.take(40)
    val in = MemoryStream[(Long, String, Long)]
    val q = graft.ops.Llm.gopherStats(
      in.toDF().toDF("doc_id", "text", "n_chars"))
      .select("doc_id", "top2_chars", "dup3_chars", "keep")
      .writeStream.format("memory").queryName("gopher_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(docsRows: _*)
      q.processAllAvailable()
      s.table("gopher_out").collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
          r.getInt(3)))).toMap
    }
    val batch = graft.ops.Llm.gopherStats(
      docsRows.toDF("doc_id", "text", "n_chars"))
      .select("doc_id", "top2_chars", "dup3_chars", "keep")
      .collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2),
        r.getInt(3)))).toMap
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // the stats are real: some doc carries a repeated 2-gram, and the
    // common case keeps
    assert(streamed.values.exists(_._1 > 0))
    assert(streamed.values.exists(_._3 == 1))
  }

  test("vector admission gate runs under readStream with ZERO state: " +
    "streamed flags equal the batch gate; novel vectors pass") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    // feed = 20 exact copies of corpus vectors (must collide with
    // their source at cos 1.0) + 5 novel random-ish vectors
    val corpus = Tables.load(s, sf, "embeddings")
      .select(col("vec_id"), col("embedding")).as[(Long, Seq[Float])]
      .collect().toSeq
    val copies = corpus.take(20).map { case (id, v) => (id + 5000L, v) }
    val novel = (0 until 5).map { i =>
      (9000L + i, Seq.tabulate(64)(d =>
        (((i * 64 + d) * 2654435761L % 1000003L).toFloat / 1000003f) - 0.5f))
    }
    val feed = copies ++ novel
    val in = MemoryStream[(Long, Seq[Float])]
    val q = graft.ops.Llm.vectorAdmission(
      s, sf, in.toDF().toDF("vec_id", "embedding"))
      .writeStream.format("memory").queryName("vec_admission_out")
      .outputMode("append").start()
    val streamed = withQuery(q) {
      in.addData(feed: _*)
      q.processAllAvailable()
      s.table("vec_admission_out").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    }
    val batch = graft.ops.Llm.vectorAdmission(
      s, sf, feed.toDF("vec_id", "embedding"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(streamed === batch)
    // every replayed copy collides with its own source at cosine 1.0
    copies.foreach { case (inId, _) =>
      assert(streamed.contains((inId, inId - 5000L, 1.0)),
        s"copy $inId must collide with its source") }
    // the novel vectors pass the gate unflagged (deterministic feed:
    // uniform pseudo-random 64-dim vectors stay far below cos 0.4
    // against the handful of in-bucket corpus vectors)
    assert(!streamed.exists(_._1 >= 9000L), "novel vectors must pass")
    // the single-bucket signature keeps the gate state-free — nothing
    // for a watermark to bound (unlike the 12-band MinHash gate)
    assert(q.lastProgress == null ||
      q.lastProgress.stateOperators.forall(_.numRowsTotal == 0),
      "vector admission must carry no streaming state")
  }

  test("K2 streaming sink: foreachBatch appends materialization events") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val out = tempDir("graft_k2").toString + "/events"
    val in = MemoryStream[UpdateEvent]
    val q = Sensors.risingEdge(in.toDS()).writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[SensorEmit], _: Long) =>
        graft.observe.Materialize.appendEvents(batch.toDF(), out)
      }
      .outputMode("append").start()
    withQuery(q) {
      in.addData(UpdateEvent(1, 1, "COMPLETED", ts(10)))
      q.processAllAvailable()
      in.addData(UpdateEvent(2, 2, "FAILED", ts(20)))
      q.processAllAvailable()
      val evs = s.read.parquet(out)
      assert(evs.count() === 2)
      assert(evs.columns.contains("event_kind"))
    }
  }

  test("streaming gate LEDGER (r13 verdict task 6): a foreachBatch " +
    "sink appends each micro-batch's flags as an epoch segment — the " +
    "streamed ledger equals the batch gate on the same feed, a " +
    "redelivered epoch appends NOTHING, and a genuinely new epoch " +
    "appends its rows") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions.col
    val ledger = "spec_raster_gate_stream_" +
      java.util.UUID.randomUUID().toString.take(8)
    val feed = graft.ops.Gates.raster.incoming(s, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    val in = MemoryStream[(Long, Array[Byte])]
    val q = graft.ops.Multimodal.rasterAdmission(s, sf,
      in.toDF().toDF("raster_id", "payload"))
      .writeStream
      .foreachBatch(graft.ops.Multimodal.gateLedgerSink(ledger))
      .outputMode("append").start()
    val third = math.max(feed.length / 3, 1)
    withQuery(q) {
      feed.grouped(third).foreach { chunk =>
        in.addData(chunk: _*); q.processAllAvailable()
      }
    }
    val led = graft.observe.IndexStore.readEpochs(s, ledger)
    assert(led.nonEmpty, "the streamed ledger must have committed epochs")
    val streamed = led.get
      .select("in_id", "corpus_id", "hamming").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val batchFlags = graft.ops.Gates.raster.backfill(s, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(streamed === batchFlags,
      s"the streamed ledger must equal the batch gate " +
        s"(missing=${(batchFlags -- streamed).take(3)}, " +
        s"extra=${(streamed -- batchFlags).take(3)})")
    val epochs = led.get.select(col("epoch").cast("long"))
      .distinct().collect().map(_.getLong(0)).sorted
    assert(epochs.length >= 2,
      "the feed's chunks must land as separate epoch segments")
    // REDELIVERY: the same epochId arrives again (the foreachBatch
    // failure-replay contract) — the append must be a no-op
    val before = led.get.count()
    val replay = graft.ops.Multimodal.rasterAdmission(s, sf,
      feed.take(third).toSeq.toDF("raster_id", "payload"))
    graft.ops.Multimodal.gateLedgerSink(ledger)(replay, epochs.head)
    assert(graft.observe.IndexStore.readEpochs(s, ledger).get.count()
      === before, "a redelivered epoch must append nothing")
    // and a NEW epoch appends exactly its rows
    val replayRows = replay.count()
    assert(replayRows > 0, "the replay chunk must carry flags")
    graft.ops.Multimodal.gateLedgerSink(ledger)(replay, epochs.max + 100L)
    assert(graft.observe.IndexStore.readEpochs(s, ledger).get.count()
      === before + replayRows)
  }

  test("streaming SpaceSaving: sketch merges across micro-batches") {
    // The mergeable-summary property is what makes the sketch usable in
    // Structured Streaming: each micro-batch folds into the same bounded
    // buffer under complete-mode aggregation, so a vocabulary stream
    // keeps an O(CAP) state regardless of how many batches arrive.
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    val ss = udaf(
      graft.functions.Sketches.spaceSavingAgg(cap = 4, topn = 3),
      ExpressionEncoder[String]())
    val in = MemoryStream[String]
    val q = in.toDS().toDF("token")
      .agg(ss(col("token")).as("top"))
      .select(explode(col("top")).as("it"))
      .select(col("it._1").as("token"), col("it._2").as("n"))
      .writeStream.format("memory").queryName("ss_out")
      .outputMode("complete").start()
    withQuery(q) {
      in.addData(Seq.fill(10)("alpha") ++ Seq.fill(3)("beta"): _*)
      q.processAllAvailable()
      in.addData(Seq.fill(7)("alpha") ++ Seq.fill(5)("gamma") ++
        Seq("rare1", "rare2", "rare3"): _*)
      q.processAllAvailable()
      val out = s.table("ss_out").collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      // n = 28 tokens, cap = 4 → ε = 7: every count is within [true,
      // true + ε], and the true heavy hitter is present and dominant.
      assert(out.contains("alpha"))
      assert(out("alpha") >= 17L && out("alpha") <= 24L)
      assert(out.keySet.size === 3)
      assert(out("alpha") === out.values.max)
    }
  }

  test("batch twin: snapshot diff finds newly-terminal keys only") {
    val s = spark
    import s.implicits._
    val prev = Seq(
      (1L, 10L, "COMPLETED"), (2L, 20L, "RUNNING"), (3L, 30L, "RUNNING"))
      .toDF("entityId", "updateId", "state")
    val curr = Seq(
      (1L, 10L, "COMPLETED"), // already terminal before — no emit
      (2L, 20L, "FAILED"),    // newly terminal — emit
      (3L, 30L, "RUNNING"),   // still running — no emit
      (4L, 40L, "CANCELED"))  // new key, terminal — emit
      .toDF("entityId", "updateId", "state")
    val out = Sensors.snapshotRisingEdge(prev, curr)
      .select("entityId", "updateId", "state")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet
    assert(out === Set((2L, 20L, "FAILED"), (4L, 40L, "CANCELED")))
  }

  test("streaming HLL distinct-token view: sketch registers merge " +
    "across micro-batches — streamed estimates ≡ batch estimates") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val rows = graft.Tables.load(s, sf, "documents")
      .select("source", "text").as[(String, String)].collect()
    val batch = graft.ops.Llm.distinctTokensOf(
      rows.toSeq.toDF("source", "text"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val in = MemoryStream[(String, String)]
    val q = graft.ops.Llm.distinctTokensOf(
      in.toDS().toDF("source", "text"))
      .writeStream.format("memory").queryName("hll_stream_out")
      .outputMode("complete").start()
    withQuery(q) {
      rows.grouped(math.max(rows.length / 3, 1)).foreach { chunk =>
        in.addData(chunk.toIndexedSeq)
        q.processAllAvailable()
      }
      val streamed = s.table("hll_stream_out")
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(streamed === batch,
        "per-source HLL estimates must match the batch run exactly " +
          "(sketch merge is register-max, not approximate)")
    }
  }

  test("streaming CDC upsert: micro-batched changes reach the snapshot " +
    "and untouched buckets keep their exact files") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val root = tempDir("graft_upsert")
      .toString
    val dir = s"$root/snap"
    val base = (0L until 64L).map(k => (k, s"v$k")).toDF("k", "v")
    graft.stream.Upsert.initSnapshot(spark, dir, base, "k", 8)
    def filesOf(b: Int) = new java.io.File(s"$dir/bucket=$b").listFiles()
      .filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.lastModified, f.length)).sortBy(_._1).toSeq
    val before = (0 until 8).map(filesOf)
    val in = MemoryStream[(String, Long, String)]
    val changes = in.toDS().toDF("op", "k", "v")
    val q = graft.stream.Upsert.sink(
      spark, dir, "k", 8, changes, s"$root/ckpt")
    withQuery(q) {
      in.addData(("U", 8L, "v8b"), ("D", 16L, "x"), ("I", 100L, "v100"))
      q.processAllAvailable()
      // second batch revises the first batch's insert — upsert chaining
      in.addData(("U", 100L, "v100b"))
      q.processAllAvailable()
    }
    val snap = spark.read.parquet(dir)
      .select(col("k").cast("long"), col("v")).as[(Long, String)]
      .collect().toMap
    assert(snap(8L) === "v8b", "update must replace the base row")
    assert(!snap.contains(16L), "delete must remove the base row")
    assert(snap(100L) === "v100b", "the insert must carry batch-2's update")
    assert(snap(9L) === "v9" && snap.size === 64,
      "untouched keys must survive intact")
    // only buckets 0 (keys 8, 16) and 4 (key 100) were ever rewritten
    (0 until 8).filterNot(Set(0, 4)).foreach { b =>
      assert(filesOf(b) === before(b),
        s"bucket $b was rewritten by a batch that never touched it")
    }
  }

  test("CDC upsert replay is idempotent: re-applying a batch leaves " +
    "the snapshot unchanged (foreachBatch redelivery safety)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_replay")
      .toString + "/snap"
    val base = (0L until 32L).map(k => (k, s"v$k")).toDF("k", "v")
    graft.stream.Upsert.initSnapshot(spark, dir, base, "k", 4)
    val batch = Seq(("U", 3L, "v3b"), ("D", 5L, "x"), ("I", 50L, "v50"))
      .toDF("op", "k", "v")
    def state() = spark.read.parquet(dir)
      .select(col("k").cast("long"), col("v")).as[(Long, String)]
      .collect().toMap
    graft.stream.Upsert.applyBatch(spark, dir, "k", 4, batch)
    val once = state()
    // redelivery: a crashed foreachBatch re-runs the same batch
    graft.stream.Upsert.applyBatch(spark, dir, "k", 4, batch)
    assert(state() === once,
      "replaying the identical batch must be a no-op on snapshot state")
    assert(once(3L) === "v3b" && !once.contains(5L) && once(50L) === "v50")
  }

  test("expectations ride a stream via observe: per-micro-batch " +
    "violation counters with no second pass") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Long, String)]
    val audited = graft.observe.Expectations.observed(
      in.toDS().toDF("price", "status"), "quality",
      Seq(
        ("bad_price", col("price") > 0),
        ("bad_status", col("status").isin("O", "F"))))
    val q = audited.writeStream.format("memory").queryName("exp_stream")
      .outputMode("append").start()
    withQuery(q) {
      in.addData((5L, "O"), (-1L, "F"), (0L, "Z"))
      q.processAllAvailable()
      val m = q.recentProgress
        .flatMap(p => Option(p.observedMetrics.get("quality"))).last
      assert(m.getAs[Long]("n_rows") === 3L)
      assert(m.getAs[Long]("bad_price") === 2L, "-1 and 0 violate")
      assert(m.getAs[Long]("bad_status") === 1L, "Z violates")
      // the audit is a rider: every row still reaches the sink
      assert(s.table("exp_stream").count() === 3L)
    }
  }

  test("freshness watchdog (transformWithState): a silent key alerts " +
    "when the watermark passes its deadline, re-arms on revival") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import graft.stream.Watchdog
    import graft.stream.Watchdog.{StaleAlert, TableEvent}
    // transformWithState runs on the RocksDB state store backend
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[TableEvent]
      val q = Watchdog.staleAlerts(in.toDS(), staleAfterMs = 60000L)
        .writeStream.format("memory").queryName("watchdog_out")
        .outputMode("update").start()
      withQuery(q) {
        def alerts() = s.table("watchdog_out").as[StaleAlert]
          .collect().toSeq.sortBy(a => (a.tableName, a.deadlineMs))
        // t=100 s: both tables report; deadlines armed at t=160 s
        in.addData(TableEvent("A", ts(100)), TableEvent("B", ts(100)))
        q.processAllAvailable()
        // A keeps reporting, B goes silent. Watermark reaches 200 s
        // after this batch; B's 160 s timer fires on the next one.
        in.addData(TableEvent("A", ts(200)))
        q.processAllAvailable()
        in.addData(TableEvent("A", ts(210)))
        q.processAllAvailable()
        assert(alerts() === Seq(StaleAlert("B", ts(100), 160000L)),
          "only the silent key alerts, at last-heartbeat + staleAfter")
        // B revives at t=300 s (new deadline 360 s), then goes silent
        // again; advancing the watermark past 360 s re-alerts — the
        // timer re-armed from the revived heartbeat. A keeps beating
        // inside every 60 s deadline, so it must stay silent.
        in.addData(TableEvent("A", ts(250)), TableEvent("B", ts(300)))
        q.processAllAvailable()
        in.addData(TableEvent("A", ts(350)))
        q.processAllAvailable()
        in.addData(TableEvent("A", ts(400)))
        q.processAllAvailable()
        in.addData(TableEvent("A", ts(450)))
        q.processAllAvailable()
        val after = alerts().filter(_.tableName == "B")
        assert(after === Seq(
          StaleAlert("B", ts(100), 160000L),
          StaleAlert("B", ts(300), 360000L)))
        // A reported within every deadline: never alerted
        assert(alerts().forall(_.tableName == "B"))
      }
    } finally {
      prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
  }

  test("mix monitor: streamed per-source mix stats == the batch " +
    "aggregation over the full feed (HLL merge is batching-invariant); " +
    "state stays one row per source") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val in = MemoryStream[(Long, String, String)]
    val docs = in.toDF().toDF("doc_id", "source", "text")
    val q = graft.stream.MixMonitor.mixStats(docs)
      .writeStream.format("memory").queryName("mix_out")
      .outputMode("complete").start()
    withQuery(q) {
      val feed = (1L to 60L).map { i =>
        val src = s"src${i % 3}"
        val text = (1 to (i % 7 + 3).toInt)
          .map(j => s"tok${(i * 7 + j) % 40}").mkString(" ")
        (i, src, text)
      }
      // two micro-batches SPLIT MID-SOURCE: the sketch must merge
      // across batches, not restart
      in.addData(feed.take(25): _*)
      q.processAllAvailable()
      in.addData(feed.drop(25): _*)
      q.processAllAvailable()
      val streamed = s.table("mix_out")
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      val batch = graft.stream.MixMonitor.mixStats(
        feed.toDF("doc_id", "source", "text"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4))).toSet
      assert(streamed === batch)
      assert(streamed.size === 3)
      // bounded state: one state row per source, NOT per token/doc
      assert(q.lastProgress.stateOperators.head.numRowsTotal === 3)
    }
  }
}
