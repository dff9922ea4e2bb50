package graft

import java.sql.Timestamp

import org.apache.spark.sql.Dataset
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

import graft.stream.{Sensors, Upsert, Watchdog}
import graft.stream.Sensors.{PollResult, SensorEmit, UpdateEvent}
import graft.stream.Watchdog.{StaleAlert, TableEvent}

/** Checkpoint-RESTART recovery — the reference's defining contract:
  * its sensor cursor survives the daemon process (`dlt_sensor.py:12,45`
  * persists `{pipeline_id:update_id → state}` across restarts). Here
  * the cursor is the streaming state store, so the proof obligation is
  * that every stateful operator, stopped mid-feed and resumed from the
  * same `checkpointLocation`, emits across the restart exactly what a
  * single uninterrupted run emits: flatMapGroupsWithState cursors
  * (rising edge), EventTimeTimeout timers (poll-with-timeout),
  * transformWithState timers + ValueState (watchdog), session-window
  * merge state, and foreachBatch epoch tracking (CDC upsert).
  *
  * Each test runs half the feed, stops the query (clean stop — offsets
  * and commits flushed), starts a NEW query on the same source +
  * checkpoint, feeds the rest, and compares the union of emissions
  * against an uninterrupted control run of the identical feed. The
  * sink is a foreachBatch collector (the memory sink does not support
  * checkpoint recovery — foreachBatch is the recoverable test sink, and
  * also the production shape [[graft.stream.Upsert.sink]] uses). */
class RestartSpec extends SparkSuite {

  private def ts(sec: Long) = new Timestamp(sec * 1000L)

  private def withQuery[T](q: StreamingQuery)(body: => T): T =
    try body finally q.stop()

  private def ckpt(tag: String): String =
    tempDir(s"graft_rs_$tag").toString

  /** Recoverable collecting sink: emissions land in `buf` per batch. */
  private def collectTo[T](ds: Dataset[T], cp: Option[String],
      buf: scala.collection.mutable.Buffer[T]): StreamingQuery = {
    val w = ds.writeStream
      .foreachBatch { (b: Dataset[T], _: Long) =>
        val rows = b.collect()
        buf.synchronized { buf ++= rows }; ()
      }
    cp.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  test("rising edge survives restart: the emitted-cursor recovers, a " +
    "terminal redelivered across the restart does not re-emit, and " +
    "emissions across the restart equal the single-run output") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val cp = ckpt("rise")
    val b1 = Seq(
      UpdateEvent(1, 10, "RUNNING", ts(0)),
      UpdateEvent(1, 10, "COMPLETED", ts(60)), // emits pre-restart
      UpdateEvent(2, 20, "RUNNING", ts(30)))   // in-flight across restart
    val b2 = Seq(
      UpdateEvent(1, 10, "COMPLETED", ts(120)), // redelivery after restart
      UpdateEvent(2, 20, "FAILED", ts(90)),     // first terminal after
      UpdateEvent(3, 30, "COMPLETED", ts(95)))  // key born after restart
    def key(e: SensorEmit) = (e.entityId, e.updateId, e.state)

    val in = MemoryStream[UpdateEvent]
    val pre = scala.collection.mutable.ArrayBuffer.empty[SensorEmit]
    val q1 = collectTo(Sensors.risingEdge(in.toDS()), Some(cp), pre)
    withQuery(q1) { in.addData(b1); q1.processAllAvailable() }
    assert(pre.map(key).toSeq === Seq((1L, 10L, "COMPLETED")))
    // resume: same source, same checkpoint, fresh collector
    val post = scala.collection.mutable.ArrayBuffer.empty[SensorEmit]
    val q2 = collectTo(Sensors.risingEdge(in.toDS()), Some(cp), post)
    withQuery(q2) { in.addData(b2); q2.processAllAvailable() }
    // the recovered cursor must swallow the redelivered (1,10) terminal
    assert(post.map(key).toSet ===
      Set((2L, 20L, "FAILED"), (3L, 30L, "COMPLETED")))

    // control: the identical feed, uninterrupted
    val inC = MemoryStream[UpdateEvent]
    val control = scala.collection.mutable.ArrayBuffer.empty[SensorEmit]
    val qc = collectTo(Sensors.risingEdge(inC.toDS()), None, control)
    withQuery(qc) {
      inC.addData(b1); qc.processAllAvailable()
      inC.addData(b2); qc.processAllAvailable()
    }
    assert((pre ++ post).map(key).toSet === control.map(key).toSet,
      "emissions across the restart must equal the single-run output")
    assert((pre ++ post).size === control.size,
      "exactly one emission per (entity, update) across the restart")
  }

  test("poll-with-timeout survives restart: the first-seen anchor and " +
    "EventTimeTimeout timer recover, so a timeout armed before the " +
    "stop fires after the resume at the pre-restart deadline") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val cp = ckpt("poll")
    val b1 = Seq(
      UpdateEvent(1, 1, "RUNNING", ts(5)),      // armed: deadline 605 s
      UpdateEvent(2, 2, "COMPLETED", ts(10)))   // done pre-restart
    val b2 = Seq(UpdateEvent(3, 3, "RUNNING", ts(4000)))
    val b3 = Seq(UpdateEvent(3, 3, "RUNNING", ts(5000)))
    def key(r: PollResult) = (r.entityId, r.outcome, r.state)

    val in = MemoryStream[UpdateEvent]
    val pre = scala.collection.mutable.ArrayBuffer.empty[PollResult]
    val q1 = collectTo(
      Sensors.pollWithTimeout(in.toDS(), timeoutMs = 600000L), Some(cp), pre)
    withQuery(q1) { in.addData(b1); q1.processAllAvailable() }
    assert(pre.map(key).toSeq === Seq((2L, "done", "COMPLETED")))
    val post = scala.collection.mutable.ArrayBuffer.empty[PollResult]
    val q2 = collectTo(
      Sensors.pollWithTimeout(in.toDS(), timeoutMs = 600000L), Some(cp), post)
    withQuery(q2) {
      in.addData(b2); q2.processAllAvailable()
      in.addData(b3); q2.processAllAvailable()
    }
    // entity 1's timer was armed BEFORE the stop; the resumed query's
    // watermark passing 605 s must fire it — state + timer recovered.
    // entity 3 (born after restart) times out at 4600 s likewise.
    assert(post.map(key).toSet ===
      Set((1L, "timeout", ""), (3L, "timeout", "")))

    val inC = MemoryStream[UpdateEvent]
    val control = scala.collection.mutable.ArrayBuffer.empty[PollResult]
    val qc = collectTo(
      Sensors.pollWithTimeout(inC.toDS(), timeoutMs = 600000L), None, control)
    withQuery(qc) {
      Seq(b1, b2, b3).foreach { b => inC.addData(b); qc.processAllAvailable() }
    }
    assert((pre ++ post).map(key).toSet === control.map(key).toSet)
    assert((pre ++ post).size === control.size)
  }

  test("freshness watchdog survives restart: transformWithState " +
    "ValueState and the armed event-time timer recover, so a key that " +
    "went silent before the stop alerts after the resume") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val cp = ckpt("dog")
      val in = MemoryStream[TableEvent]
      val pre = scala.collection.mutable.ArrayBuffer.empty[StaleAlert]
      val q1 = collectTo(
        Watchdog.staleAlerts(in.toDS(), staleAfterMs = 60000L), Some(cp), pre)
      withQuery(q1) {
        // both tables report at t=100 s; timers armed at 160 s; B then
        // goes silent — and the daemon stops before the deadline passes
        in.addData(TableEvent("A", ts(100)), TableEvent("B", ts(100)))
        q1.processAllAvailable()
        assert(pre.isEmpty)
      }
      val post = scala.collection.mutable.ArrayBuffer.empty[StaleAlert]
      val q2 = collectTo(
        Watchdog.staleAlerts(in.toDS(), staleAfterMs = 60000L), Some(cp), post)
      withQuery(q2) {
        // A keeps beating after the restart; the watermark passes 160 s
        // and B's PRE-RESTART timer must fire with B's PRE-RESTART
        // lastSeen — both recovered from the checkpoint
        in.addData(TableEvent("A", ts(200)))
        q2.processAllAvailable()
        in.addData(TableEvent("A", ts(210)))
        q2.processAllAvailable()
        assert(post.toSeq === Seq(StaleAlert("B", ts(100), 160000L)),
          "the timer armed before the stop must fire after the resume")
        // and the revived machine keeps working post-restart: B revives,
        // re-arms, lapses again
        in.addData(TableEvent("A", ts(250)), TableEvent("B", ts(300)))
        q2.processAllAvailable()
        in.addData(TableEvent("A", ts(350)))
        q2.processAllAvailable()
        in.addData(TableEvent("A", ts(400)))
        q2.processAllAvailable()
        in.addData(TableEvent("A", ts(450)))
        q2.processAllAvailable()
        assert(post.filter(_.tableName == "B").toSeq === Seq(
          StaleAlert("B", ts(100), 160000L),
          StaleAlert("B", ts(300), 360000L)))
        assert(post.forall(_.tableName == "B"))
      }
    } finally {
      prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
  }

  test("session windows survive restart: partial gap-sessions in the " +
    "state store resume, merge with post-restart events, and the " +
    "finalized sessions equal the batch sessionization") {
    val s = spark
    import s.implicits._
    implicit val ctx = s.sqlContext
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.Row
    val cp = ckpt("sess")
    val evs = Tables.load(s, sf, "events")
      .orderBy(col("event_id")).limit(600)
      .select(col("user_id").as("entityId"), col("event_id").as("updateId"),
        col("event_type").as("state"), col("ts"))
      .as[UpdateEvent].collect().toSeq
    val (b1, b2) = evs.splitAt(300)
    def key(r: Row) = (r.getTimestamp(0), r.getLong(1), r.getLong(2))
    val in = MemoryStream[UpdateEvent]
    val pre = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q1 = collectTo(Sensors.sessionCounts(in.toDS()), Some(cp), pre)
    withQuery(q1) { in.addData(b1); q1.processAllAvailable() }
    val post = scala.collection.mutable.ArrayBuffer.empty[Row]
    val q2 = collectTo(Sensors.sessionCounts(in.toDS()), Some(cp), post)
    withQuery(q2) {
      in.addData(b2); q2.processAllAvailable()
      val closer = evs.map(_.ts.getTime).max + 100L * 3600 * 1000
      in.addData(UpdateEvent(-1L, -1L, "closer", new Timestamp(closer)))
      q2.processAllAvailable()
    }
    val streamed = (pre ++ post).map(key).filter(_._2 != -1L).toSet
    val batch = Sensors.sessionCounts(s.createDataset(evs))
      .collect().map(key).toSet
    assert(streamed === batch,
      "sessions split by a restart must still merge to the batch answer")
    assert(post.nonEmpty)
  }

  test("CDC upsert survives restart: changes fed while the daemon is " +
    "down apply exactly once on resume, and a batch replayed across " +
    "the crash boundary leaves the snapshot unchanged") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val root = tempDir("graft_rs_cdc")
      .toString
    val dir = s"$root/snap"
    val cp = s"$root/ckpt"
    val base = (0L until 32L).map(k => (k, s"v$k")).toDF("k", "v")
    Upsert.initSnapshot(s, dir, base, "k", 4)
    def state() = s.read.parquet(dir)
      .select(col("k").cast("long"), col("v")).as[(Long, String)]
      .collect().toMap
    val in = MemoryStream[(String, Long, String)]
    val q1 = Upsert.sink(s, dir, "k", 4, in.toDS().toDF("op", "k", "v"), cp)
    withQuery(q1) {
      in.addData(("U", 3L, "v3b")); q1.processAllAvailable()
    }
    val afterB1 = state()
    assert(afterB1(3L) === "v3b")
    // crash boundary: the engine may re-run the last epoch on recovery;
    // the sink contract is that the replay is a no-op
    Upsert.applyBatch(s, dir, "k", 4,
      Seq(("U", 3L, "v3b")).toDF("op", "k", "v"))
    assert(state() === afterB1,
      "replaying the committed epoch must leave the snapshot unchanged")
    // changes arriving while the daemon is down
    in.addData(("I", 50L, "v50"), ("D", 5L, "x"))
    val q2 = Upsert.sink(s, dir, "k", 4, in.toDS().toDF("op", "k", "v"), cp)
    withQuery(q2) { q2.processAllAvailable() }
    val fin = state()
    assert(fin(3L) === "v3b" && fin(50L) === "v50" && !fin.contains(5L))
    assert(fin.size === 32, "all untouched keys must survive the restart")
  }

  test("exact-Jaccard admission survives restart: the watermarked " +
    "candidate-dedup state recovers — a candidate redelivered across " +
    "the restart does not re-flag, and emissions across the restart " +
    "equal the single-run output") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val sf0 = sf
    val srcDocs = Tables.load(s, sf0, "documents")
      .filter(col("doc_id").isin(1L, 2L, 3L, 4L))
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)
    // copies of corpus docs under new ids, with controlled event time
    def copy(i: Int, sec: Long) =
      (400001L + i, srcDocs(i)._2, ts(sec))
    val b1 = Seq(copy(0, 10), copy(1, 20))
    // the restart boundary REDELIVERS copy 0 (same in_id, same text) —
    // the recovered dedup state must suppress it, not re-flag
    val b2 = Seq(copy(0, 30), copy(2, 40), copy(3, 50))
    def admitted(in: MemoryStream[(Long, String, Timestamp)]) =
      graft.ops.Llm.prefixJaccardAdmission(
        s, sf0, in.toDF().toDF("doc_id", "text", "arr_ts"))
        .select(col("in_id"), col("corpus_id"), col("common"),
          col("jaccard")).as[(Long, Long, Long, Double)]
    // control: one uninterrupted run over the identical feed
    val inC = MemoryStream[(Long, String, Timestamp)]
    val bufC = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Double)]
    val qc = collectTo(admitted(inC), Some(ckpt("pjadm_c")), bufC)
    withQuery(qc) {
      inC.addData(b1: _*); qc.processAllAvailable()
      inC.addData(b2: _*); qc.processAllAvailable()
    }
    // restarted: half the feed, clean stop, resume on the same
    // checkpoint, rest of the feed
    val cp = ckpt("pjadm")
    val inR = MemoryStream[(Long, String, Timestamp)]
    val bufR = scala.collection.mutable.Buffer.empty[(Long, Long, Long, Double)]
    val q1 = collectTo(admitted(inR), Some(cp), bufR)
    withQuery(q1) { inR.addData(b1: _*); q1.processAllAvailable() }
    inR.addData(b2: _*)
    val q2 = collectTo(admitted(inR), Some(cp), bufR)
    withQuery(q2) { q2.processAllAvailable() }
    assert(bufR.toSet === bufC.toSet,
      "emissions across the restart must equal the single run")
    // each exact copy flags its source exactly ONCE despite the
    // redelivery — the dedup state survived the restart
    (0 to 3).foreach { i =>
      val hits = bufR.count(t =>
        t._1 == 400001L + i && t._2 == srcDocs(i)._1)
      assert(hits === 1, s"copy $i must flag its source exactly once")
      assert(bufR.exists(t => t._1 == 400001L + i &&
        t._2 == srcDocs(i)._1 && t._4 == 1.0))
    }
  }

  test("mix admission survives restart: per-source running totals " +
    "recover from state, and the ledger across the restart equals " +
    "the persisted q152 shards") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val feed = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text")).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
      .sortBy(_._1) // the crawler contract: monotone doc_id delivery
    val (h1, h2) = feed.splitAt(feed.length / 2)
    val cp = ckpt("mixadm")
    val inR = MemoryStream[(Long, String, String)]
    val buf = scala.collection.mutable.Buffer
      .empty[graft.ops.Llm.ShardRow]
    def gate() = graft.ops.Llm.mixAdmission(s, sf,
      inR.toDF().toDF("doc_id", "source", "text"))
    // half the feed, clean stop — sources are part-filled in state
    val q1 = collectTo(gate(), Some(cp), buf)
    withQuery(q1) { inR.addData(h1: _*); q1.processAllAvailable() }
    // resume on the same checkpoint: the per-source totals must
    // continue, not reset (a reset would over-admit every source)
    inR.addData(h2: _*)
    val q2 = collectTo(gate(), Some(cp), buf)
    withQuery(q2) { q2.processAllAvailable() }
    val got = buf.map(r => (r.source, r.doc_id, r.n_tok, r.cum)).toSet
    val shards = graft.ops.Llm.mixShards(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === shards,
      s"restarted ledger must equal the persisted shards " +
        s"(missing=${(shards -- got).take(3)}, " +
        s"extra=${(got -- shards).take(3)})")
  }

  test("curated admission survives restart: BOTH state planes — the " +
    "dedup hashes and the per-source running totals — recover from " +
    "the checkpoint, and the ledger across the restart equals the " +
    "persisted q154 curated shards") { withRocksDBStateStore {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val feed = Tables.load(s, sf, "documents")
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
      .sortBy(_._1)
    val (h1, h2) = feed.splitAt(feed.length / 2)
    val cp = ckpt("curadm")
    val inR = MemoryStream[(Long, String, String, Long)]
    val buf = scala.collection.mutable.Buffer
      .empty[graft.ops.Llm.GateRow]
    def gate() = graft.ops.Llm.curatedAdmission(s, sf,
      inR.toDF().toDF("doc_id", "source", "text", "n_chars"))
    val q1 = collectTo(gate(), Some(cp), buf)
    withQuery(q1) { inR.addData(h1: _*); q1.processAllAvailable() }
    // resume: a reset of EITHER plane would corrupt the ledger — lost
    // dedup state re-admits dups, lost totals over-admit every source
    inR.addData(h2: _*)
    val q2 = collectTo(gate(), Some(cp), buf)
    withQuery(q2) { q2.processAllAvailable() }
    assert(buf.forall(_.status == "admit"))
    val got = buf.map(r => (r.source, r.doc_id, r.n_tok, r.cum)).toSet
    val shards = graft.ops.Llm.curatedMixShards(s, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getLong(3))).toSet
    assert(got === shards,
      s"restarted composed ledger must equal the q154 shards " +
        s"(missing=${(shards -- got).take(3)}, " +
        s"extra=${(got -- shards).take(3)})")
  } }

  /** Shared restart proof for the three multimodal admission gates
    * (media q160, audio q163, raster q165): run part of the incoming
    * fixture, clean-stop, resume from the same checkpoint with the
    * first FLAGGED candidate REDELIVERED across the crash boundary,
    * and assert (a) emissions across the restart equal an
    * uninterrupted control run of the identical feed and (b) the
    * redelivered candidate flags each corpus row exactly once — i.e.
    * the `dropDuplicatesWithinWatermark` candidate-dedup state
    * recovered from the checkpoint (the E136 test shape applied to
    * the media modalities). Rows are compared as (in_id, corpus_id,
    * full-row JSON), so every output column participates. */
  private def gateSurvivesRestart(tag: String, idCol: String,
      gate: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame,
      fixture: org.apache.spark.sql.DataFrame,
      flaggedInIds: Set[Long]): Unit = {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val feedAll = fixture.collect()
      .map(r => (r.getLong(0), r.getAs[Array[Byte]](1))).sortBy(_._1)
    val flagger = feedAll.find(t => flaggedInIds.contains(t._1))
      .getOrElse(fail(s"$tag: fixture must contain a flagged candidate"))
    val rest = feedAll.filter(_._1 != flagger._1).take(5).toSeq
    val b1 = (flagger._1, flagger._2, ts(10)) +:
      rest.take(2).zipWithIndex.map { case ((id, p), k) =>
        (id, p, ts(20 + k)) }
    // the restart boundary REDELIVERS the flagger (same id + payload,
    // later event time INSIDE the watermark) — recovered dedup state
    // must suppress the duplicate candidates, not re-flag them
    val b2 = (flagger._1, flagger._2, ts(60)) +:
      rest.drop(2).zipWithIndex.map { case ((id, p), k) =>
        (id, p, ts(70 + k)) }
    def gated(in: MemoryStream[(Long, Array[Byte], Timestamp)]) = {
      val df = gate(in.toDF().toDF(idCol, "payload", "arr_ts"))
      df.select(col("in_id"), col("corpus_id"),
        to_json(struct(df.columns.map(col): _*)).as("row"))
        .as[(Long, Long, String)]
    }
    val inC = MemoryStream[(Long, Array[Byte], Timestamp)]
    val bufC = scala.collection.mutable.Buffer.empty[(Long, Long, String)]
    val qc = collectTo(gated(inC), Some(ckpt(s"${tag}_c")), bufC)
    withQuery(qc) {
      inC.addData(b1: _*); qc.processAllAvailable()
      inC.addData(b2: _*); qc.processAllAvailable()
    }
    val cp = ckpt(tag)
    val inR = MemoryStream[(Long, Array[Byte], Timestamp)]
    val bufR = scala.collection.mutable.Buffer.empty[(Long, Long, String)]
    val q1 = collectTo(gated(inR), Some(cp), bufR)
    withQuery(q1) { inR.addData(b1: _*); q1.processAllAvailable() }
    inR.addData(b2: _*)
    val q2 = collectTo(gated(inR), Some(cp), bufR)
    withQuery(q2) { q2.processAllAvailable() }
    assert(bufR.toSet === bufC.toSet,
      s"$tag: emissions across the restart must equal the single run")
    val redelivered = bufR.filter(_._1 == flagger._1)
    assert(redelivered.nonEmpty,
      s"$tag: the redelivered candidate ${flagger._1} must flag")
    redelivered.groupBy(_._2).foreach { case (cid, hits) =>
      assert(hits.size === 1,
        s"$tag: redelivered ${flagger._1} must flag corpus $cid exactly " +
          s"once across the restart — got ${hits.size}")
    }
  }

  test("media admission gate survives restart: the watermarked " +
    "candidate-dedup state recovers and a re-encode redelivered " +
    "across the crash boundary does not re-flag") {
    val s = spark
    val flagged = graft.ops.Gates.media.backfill(s, sf)
      .collect().map(_.getLong(0)).toSet
    gateSurvivesRestart("media_gate", "media_id",
      graft.ops.Multimodal.mediaAdmission(s, sf, _),
      graft.ops.Gates.media.incoming(s, sf), flagged)
  }

  test("audio admission gate survives restart: the watermarked " +
    "candidate-dedup state recovers and a polarity re-master " +
    "redelivered across the crash boundary does not re-flag") {
    val s = spark
    val flagged = graft.ops.Gates.audio.backfill(s, sf)
      .collect().map(_.getLong(0)).toSet
    gateSurvivesRestart("audio_gate", "media_id",
      graft.ops.Multimodal.audioAdmission(s, sf, _),
      graft.ops.Gates.audio.incoming(s, sf), flagged)
  }

  test("raster admission gate survives restart: the watermarked " +
    "candidate-dedup state recovers and an exposure re-master " +
    "redelivered across the crash boundary does not re-flag") {
    val s = spark
    val flagged = graft.ops.Gates.raster.backfill(s, sf)
      .collect().map(_.getLong(0)).toSet
    gateSurvivesRestart("raster_gate", "raster_id",
      graft.ops.Multimodal.rasterAdmission(s, sf, _),
      graft.ops.Gates.raster.incoming(s, sf), flagged)
  }

  test("raster admission DECISION face survives restart: open decision " +
    "groups recover from the checkpoint, and a redelivered item " +
    "RE-DECIDES identically (decisions are per-DELIVERY — the batch " +
    "face is per-item because a batch frame has no delivery axis)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx = s.sqlContext
    val flagged = graft.ops.Gates.raster.decision(s, sf)
      .collect().map(_.getLong(0)).toSet
    val feedAll = graft.ops.Gates.raster.incoming(s, sf)
      .collect().map(r => (r.getLong(0), r.getAs[Array[Byte]](1)))
      .sortBy(_._1)
    val flagger = feedAll.find(t => flagged.contains(t._1))
      .getOrElse(fail("fixture must contain a flagged candidate"))
    val rest = feedAll.filter(_._1 != flagger._1).take(4).toSeq
    val b1 = (flagger._1, flagger._2, ts(10)) +:
      rest.take(2).zipWithIndex.map { case ((id, p), k) =>
        (id, p, ts(20 + k)) }
    // redelivery INSIDE the watermark at a later arrival time: the
    // decision face keys groups by (arr_ts, in_id), so a redelivered
    // item gets a FRESH decision — and it must be content-identical
    // (same corpus artifacts ⇒ same best evidence)
    val b2 = (flagger._1, flagger._2, ts(60)) +:
      rest.drop(2).zipWithIndex.map { case ((id, p), k) =>
        (id, p, ts(70 + k)) }
    // a flag-nothing but DECODABLE sentinel far in the future closes
    // every open group (decode-adjacent watermark)
    val sentinelPgm = ("P5\n16 16\n255\n").getBytes ++
      (0 until 256).map(i => ((i * 97 + 13) % 256).toByte)
    val b3 = Seq((999999999L, sentinelPgm, ts(5000)))
    def gated(in: MemoryStream[(Long, Array[Byte], Timestamp)]) =
      graft.ops.Multimodal.rasterAdmission(s, sf,
        in.toDF().toDF("raster_id", "payload", "arr_ts"), decision = true)
        .as[(Long, Long, Long)]
    val inC = MemoryStream[(Long, Array[Byte], Timestamp)]
    val bufC = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
    val qc = collectTo(gated(inC), Some(ckpt("raster_dec_c")), bufC)
    withQuery(qc) {
      inC.addData(b1: _*); qc.processAllAvailable()
      inC.addData(b2: _*); qc.processAllAvailable()
      inC.addData(b3: _*); qc.processAllAvailable()
    }
    val cp = ckpt("raster_dec_r")
    val inR = MemoryStream[(Long, Array[Byte], Timestamp)]
    val bufR = scala.collection.mutable.Buffer.empty[(Long, Long, Long)]
    val q1 = collectTo(gated(inR), Some(cp), bufR)
    // kill between b1 and b2: b1's groups are OPEN state (the
    // watermark has not passed them) and must recover, not vanish
    withQuery(q1) { inR.addData(b1: _*); q1.processAllAvailable() }
    inR.addData(b2: _*); inR.addData(b3: _*)
    val q2 = collectTo(gated(inR), Some(cp), bufR)
    withQuery(q2) { q2.processAllAvailable() }
    assert(bufR.sorted === bufC.sorted,
      "decisions across the restart must equal the single run")
    val redelivered = bufR.filter(_._1 == flagger._1)
    assert(redelivered.size === 2,
      "each DELIVERY of the flagged item gets a decision")
    assert(redelivered.toSet.size === 1,
      "redeliveries must re-decide IDENTICALLY (same best evidence)")
  }

  test("watchdog alerts are unaffected by a CONCURRENT batch writer: " +
    "materializations append to the watched events table between " +
    "micro-batches and every file-stream read is a consistent snapshot") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = s.conf.getOption(provKey)
    s.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val root = tempDir("graft_rs_conc")
        .toString
      val feed = s"$root/events"
      // the reference runs its hourly materialization cron NEXT TO the
      // 60 s sensor daemon: here the K2 sink appends heartbeat events
      // to the same parquet directory the watchdog's file stream reads.
      // Parquet appends are new part files committed whole, so each
      // micro-batch lists a consistent prefix of the append history —
      // the reader/writer contract under test.
      def beat(name: String, sec: Long): Unit =
        graft.observe.Materialize.appendEvents(
          Seq((name, ts(sec))).toDF("tableName", "ts"), feed)
      beat("A", 100); beat("B", 100)
      val events = s.readStream
        .schema(s.read.parquet(feed).schema)
        .option("maxFilesPerTrigger", "2") // force multi-batch interleave
        .parquet(feed)
        .select(col("tableName"), col("ts")).as[TableEvent]
      val alerts = scala.collection.mutable.ArrayBuffer.empty[StaleAlert]
      val q = collectTo(
        Watchdog.staleAlerts(events, staleAfterMs = 60000L), None, alerts)
      withQuery(q) {
        q.processAllAvailable()
        // batch writer keeps materializing A while the stream runs; B
        // stays silent past its 160 s deadline
        beat("A", 200); q.processAllAvailable()
        beat("A", 210); q.processAllAvailable()
        beat("A", 250); beat("A", 300) // two appends in ONE trigger
        q.processAllAvailable()
        beat("A", 400); q.processAllAvailable()
        assert(alerts.toSeq === Seq(StaleAlert("B", ts(100), 160000L)),
          "concurrent appends must neither tear a read nor spoof alerts")
        // and the batch plane sees every committed append it raced with
        assert(s.read.parquet(feed).count() === 7L)
      }
    } finally {
      prevProv match {
        case Some(p) => s.conf.set(provKey, p)
        case None => s.conf.unset(provKey)
      }
    }
  }
}
