package graft

/** Memory-pressure gate child process (`runMain graft.LowMemRun <dir>`
  * — but normally spawned by LowMemSpec with `-Xmx512m`): executes the
  * bounded-state queries — the ones whose 100 TB story is "per-key
  * state is capped, a hot key cannot OOM its task" — against a fixture
  * PLANTED with a mega-basket and a bot user, under a deliberately
  * tiny heap and 2 shuffle partitions. An unbounded formulation (a
  * per-user collect_list, an uncapped basket pair expansion) dies here
  * with OOM; the bounded plans finish. Success = every query returns
  * rows and the process exits 0 printing the `[lowmem] OK` marker. */
object LowMemRun {
  def main(args: Array[String]): Unit = {
    require(args.length >= 1, "usage: LowMemRun <sfDir>")
    val dir = args(0)
    val spark = Session(cores = Some(2))
    val queries = Seq(
      "q134_copurchase_triangles", // capped basket pair projection
      "q137_association_rules",    // capped baskets, decimal partials
      "q136_funnel_stages",        // bounded earliest-k heap per user
      "q138_event_transitions",    // keyed lead window, O(1) day state
      "q49_admission_backfill")    // banded admission, bounded shingles
    queries.foreach { name =>
      val t0 = System.nanoTime()
      val n = SparkEntry.query(name)(spark, dir).count()
      println(s"[lowmem] $name rows=$n sec=${(System.nanoTime() - t0) / 1e9}")
      require(n > 0, s"$name returned 0 rows under memory pressure")
    }
    // Optional streaming-gate leg: drain a dominant-source backlog
    // through the mix-admission gate in ONE AvailableNow trigger. The
    // gate's memory claim — per-group state is the reorder WINDOW,
    // never the trigger slice — is exactly what a tiny heap falsifies:
    // the r8 implementation buffered and sorted the whole slice
    // (O(trigger) tuples in one task) and dies here; the streamed
    // heap finishes.
    if (args.length > 1) {
      val feedDir = args(1)
      val t0 = System.nanoTime()
      val feed = spark.readStream
        .schema(spark.read.parquet(feedDir).schema)
        .parquet(feedDir)
      val q = graft.ops.Llm.mixGate(spark, dir, feed)
        .writeStream.format("noop")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val drained = q.recentProgress.map(_.numInputRows).sum
      println(s"[lowmem] gate drained=$drained " +
        s"sec=${(System.nanoTime() - t0) / 1e9}")
      require(drained > 0, "gate drained nothing")
    }
    // Streaming DECISION-face leg (r12 missing #3): drain a large
    // duplicate-heavy raster feed through the admission gate's
    // decision face in the tiny heap. The face's memory claim —
    // exactly ONE stateful operator whose state is one small min_by
    // struct per OPEN (arr_ts, in_id) group, bounded by the watermark
    // window, never O(candidate pairs) — is plan-asserted in
    // StreamingSpec; this leg falsifies it under pressure: an
    // implementation that buffered candidate pairs per group (or
    // re-introduced the dedup operator's state) dies at 512m.
    if (args.length > 2) {
      val rasterFeed = args(2)
      val t0 = System.nanoTime()
      val feed = spark.readStream
        .schema(spark.read.parquet(rasterFeed).schema)
        .parquet(rasterFeed)
      val q = graft.ops.Multimodal
        .rasterAdmission(spark, dir, feed, decision = true)
        .writeStream.format("noop")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val progress = q.recentProgress
      val drained = progress.map(_.numInputRows).sum
      val stateOps = progress.flatMap(p =>
        Option(p.stateOperators).toSeq.flatten)
      val maxOps = progress.map(p =>
        Option(p.stateOperators).map(_.length).getOrElse(0))
        .foldLeft(0)(math.max)
      val maxState = stateOps.map(_.numRowsTotal).foldLeft(0L)(math.max)
      println(s"[lowmem] decision drained=$drained stateOps=$maxOps " +
        s"stateRowsMax=$maxState sec=${(System.nanoTime() - t0) / 1e9}")
      require(drained > 0, "decision face drained nothing")
      // == not <=: the invariant is EXACTLY one stateful operator — a
      // regression that drops the min_by state entirely (0 operators)
      // must fail HERE, not only in LowMemSpec's log-string assert
      require(maxOps == 1,
        s"decision face must run exactly ONE stateful operator, saw $maxOps")
    }
    println("[lowmem] OK")
    spark.stop()
  }
}
