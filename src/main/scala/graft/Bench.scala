package graft
object Bench {

  /** The contention verdict, factored pure so the r8 incident is a
    * unit test: the r8 driver pass ran the round-1 query set 1.8× the
    * fingerprint-matched uncontended snapshot, yet 9.18% hypervisor
    * steal slid under a hard `steal > 10%` OR-clause and the pass
    * reported `contended: false`. The primary signal is now the DATA:
    * contended iff the round-1 set exceeds the stored uncontended
    * snapshot's total by that pass's own recorded spread (floored at
    * 1.25 — a spread of 1.0 would flag measurement noise). The hard
    * steal threshold survives only as the fallback when no
    * fingerprint-matched clean snapshot exists, tightened to 5%.
    * `snapshot` = (total_r1, median_spread, contended) parsed from the
    * fingerprint-keyed detail file of a PREVIOUS pass. */
  private[graft] def contendedVerdict(medianSpread: Double, preLoad: Double,
      stealPct: Double, totalR1: Double,
      snapshot: Option[(Double, Double, Boolean)]): Boolean = {
    val vsSnapshot: Option[Boolean] = snapshot.collect {
      case (r1s, sp, false) if r1s > 0 =>
        totalR1 > r1s * math.max(sp, 1.25)
    }
    medianSpread > 2.0 || preLoad > 4.0 ||
      vsSnapshot.getOrElse(stealPct > 5.0)
  }

  /** Parse (total_r1_query_set, median_spread, contended) out of a
    * previously written bench-detail file (detail line + headline
    * line) — regex over our own known output shape, no JSON dep. */
  private[graft] def parseSnapshot(
      text: String): Option[(Double, Double, Boolean)] = {
    def num(key: String): Option[Double] =
      ("\"" + key + "\":([-0-9.eE]+)").r
        .findFirstMatchIn(text).map(_.group(1).toDouble)
    def bool(key: String): Option[Boolean] =
      ("\"" + key + "\":(true|false)").r
        .findFirstMatchIn(text).map(_.group(1).toBoolean)
    for {
      r1 <- num("total_r1_query_set")
      sp <- num("median_spread")
      c <- bool("contended")
    } yield (r1, sp, c)
  }

  /** Whether a keyed snapshot file is a PROVISIONAL seed (r14 verdict
    * task 1): on a fresh fixture fingerprint no snapshot exists, so
    * the per-query outlier gate was structurally blind exactly when
    * the store is cold and mins are most distorted. The first pass on
    * a fresh fixture now seeds the keyed file even when it cannot
    * qualify as a CLEAN reference (contended), flagged
    * `"provisional":true` — usable for per-query outlier stats (its
    * medians are at worst inflated, so gates derived from them only
    * under-flag, never false-alarm), never for the pass-level
    * contention verdict, and overwritten by the first clean pass. */
  private[graft] def parseProvisional(text: String): Boolean =
    "\"provisional\":(true|false)".r.findFirstMatchIn(text)
      .exists(_.group(1).toBoolean)

  /** The keyed-snapshot write decision, factored pure for BenchSpec:
    * "write" (clean full pass — the uncontended reference),
    * "provisional" (fresh fixture, pass can't qualify — seed the
    * outlier gate rather than stay blind), or "skip" (a contended /
    * outlier-carrying pass must never clobber an existing reference;
    * a FILTERED pass must never write at all — its totals are
    * partial). */
  private[graft] def snapshotAction(contended: Boolean, filtered: Boolean,
      outliersEmpty: Boolean, snapshotExists: Boolean): String =
    if (filtered) "skip"
    else if (!contended && outliersEmpty) "write"
    else if (!snapshotExists) "provisional"
    else "skip"

  /** Parse the PER-QUERY stats map out of a bench-detail file's
    * `queries_stats` block: name → (median, spread) of that pass's
    * three count runs — the per-query reference the outlier gate
    * judges against. Same no-dep regex discipline as
    * [[parseSnapshot]] over our own output shape. */
  private[graft] def parseSnapshotStats(
      text: String): Map[String, (Double, Double)] =
    // no trailing '}' in the pattern: current stats entries append
    // per-query steal after the spread, r13-and-earlier ones did not —
    // both shapes must parse (the gate's whole value is judging the
    // NEXT pass against LAST round's keyed file)
    ("\"([A-Za-z0-9_]+)\":\\{\"min\":[-0-9.eE]+," +
      "\"median\":([-0-9.eE]+),\"spread\":([-0-9.eE]+)").r
      .findAllMatchIn(text)
      .map(m => m.group(1) -> (m.group(2).toDouble, m.group(3).toDouble))
      .toMap

  /** A query's outlier gate against its snapshot record: the snapshot
    * MEDIAN scaled by that query's own recorded spread, floored at
    * 1.25 (a spread of 1.0 would flag plain measurement noise) — the
    * E146/E153 pass-level rule applied PER QUERY. */
  private[graft] def outlierGate(snapMedian: Double,
      snapSpread: Double): Double =
    snapMedian * math.max(snapSpread, 1.25)

  /** Per-query outliers of this pass vs a fingerprint-matched CLEAN
    * snapshot (r13 verdict task 2 — the q165 blind spot): a query is
    * an outlier when its in-pass MIN (min-of-3 already absorbed
    * one-run noise and any cold run-1 artifact build) still exceeds
    * its snapshot gate, AND the excess is material (≥ 0.25 s over the
    * snapshot median — sub-150 ms queries jitter past any ratio gate
    * on this host's ambient steal; the absolute floor keeps the
    * q102-class watch items out of the alarm). Returns name →
    * (thisMin, gate). The r13 official pass replayed through this
    * gate flags exactly q165 (55.86 s vs a ~2.9 s gate) — BenchSpec
    * pins the replay. */
  private[graft] def outliersVs(mins: Map[String, Double],
      snapStats: Map[String, (Double, Double)]): Map[String, (Double, Double)] =
    mins.flatMap { case (name, m) =>
      snapStats.get(name).collect {
        case (med, sp) if m > outlierGate(med, sp) && m - med >= 0.25 =>
          name -> (m, outlierGate(med, sp))
      }
    }

  /** The adjudication RECORD (r12 verdict task 6) as headline JSON
    * fragments: `snapshot_ref` says WHICH snapshot the contention
    * verdict was judged against (the fingerprint-keyed detail file's
    * r1 total, spread, and its own contended flag) and `r1_clean` is
    * the clean comparison basis — so a reader can trust/contest the
    * headline's `contended` flag from the committed artifact alone,
    * without hunting down the keyed detail files. */
  private[graft] def adjudicationJson(keyedName: String,
      snapshot: Option[(Double, Double, Boolean)]): (String, String) = {
    val ref = snapshot match {
      case Some((r1s, sp, c)) =>
        s"""{"file":"$keyedName","total_r1":$r1s,""" +
          s""""median_spread":$sp,"contended":$c}"""
      case None => "null"
    }
    val clean = snapshot.collect {
      case (r1s, _, false) => r1s.toString
    }.getOrElse("null")
    (ref, clean)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Entry load average, BEFORE Spark spins up its own threads: the
    // spread tripwire below only catches BURSTY contention (uneven
    // runs); a steady co-tenant inflates all three runs uniformly and
    // leaves the spread at 1. The pre-bench 1-min load is the signal
    // for that case — ~0-2 on an idle host (sbt's own compile tail),
    // large when another workload owns the cores.
    val preLoad = java.lang.management.ManagementFactory
      .getOperatingSystemMXBean.getSystemLoadAverage
    // Hypervisor CPU steal across the bench window — the definitive
    // multi-tenant signal on this host (steal bursts have produced 5×
    // wall-clock swings on identical code while BOTH other tripwires
    // stayed quiet: entry load reads idle and uniform steal keeps the
    // per-query spread at 1). (steal, busy) jiffies from /proc/stat.
    def cpuStat(): Option[(Long, Long)] = scala.util.Try {
      val f = scala.io.Source.fromFile("/proc/stat").getLines().next()
        .trim.split("\\s+").drop(1).map(_.toLong)
      (f(7), f.sum - f(3)) // steal, non-idle
    }.toOption
    def stealOf(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
      (a, b) match {
        case (Some((s0, b0)), Some((s1, b1))) if b1 > b0 =>
          100.0 * (s1 - s0) / (b1 - b0)
        case _ => 0.0
      }
    val stat0 = cpuStat()
    val spark = Session(logLevel = "WARN")
    // Warm-up: JVM/codegen/parquet-footer caches, so the first timed
    // query doesn't absorb ~4s of one-time JIT cost (VERDICT r1 noted
    // q02 was really warm-up, not query time).
    try {
      SparkEntry.queries.get("q02_pricing_summary").foreach(_(spark, sfDir).count())
      SparkEntry.queries.get("q01_flagship_us_customers").foreach(_(spark, sfDir).count())
    } catch { case _: Throwable => () }
    // A failed query must NOT masquerade as a fast one: track errors
    // explicitly and surface them in the JSON (extra key, same contract).
    // Per-query time = min of three runs: measured single runs on this
    // host vary far more than JIT/GC alone explains (a full count pass
    // once measured 212 s vs 38 s minutes apart with identical code —
    // multi-tenant CPU steal), and min-of-3 keeps one contended window
    // from poisoning a whole pass.
    val runs = 3
    val errors = scala.collection.mutable.ListBuffer.empty[String]
    // Optional comma-separated query filter for local iteration
    // (SPARK_GRAFT_ONLY=q33_jaccard_pairs,q30_minhash_pairs); the
    // driver never sets it, so the default contract is unchanged.
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").toSet)
    val selected = only match {
      case Some(names) => SparkEntry.queries.filter { case (n, _) => names(n) }
      case None        => SparkEntry.queries
    }
    // Per-query attribution plane (r13 verdict tasks 1-3): the r13
    // official artifact carried a 25× outlier on q165 (55.9 s min, all
    // three runs, neighbors normal) that the committed record could
    // not adjudicate between "plan regression", "artifact rebuild
    // charged to the query", and "host contention burst over exactly
    // that query's 3-run window" (consecutive runs share one ~minutes
    // window, so a steal burst poisons ALL THREE runs of one query
    // while the pass average stays low). Three signals now land in the
    // record per query: its OWN steal% across its run window, every
    // IndexStore build the store performed during its runs (drained
    // from the build ledger, tagged with the run index), and the
    // outlier verdict vs the fingerprint-matched snapshot.
    graft.observe.IndexStore.drainBuildLog() // warm-up builds: not ours
    val qBuilds = scala.collection.mutable.Map
      .empty[String, Seq[(Int, graft.observe.IndexStore.BuildEvent)]]
    val qSteal = scala.collection.mutable.Map.empty[String, Double]
    // PREWARM pass (r14 verdict tasks 3+4, declared in the headline as
    // `prewarm_sec`): one untimed count() per query BEFORE the timed
    // runs. Two measured distortions motivate it: (a) on a
    // fresh-fixture pass the OS page cache and artifact store are cold
    // for run 1 of every query AND stay cold across all three runs of
    // the early heavy ones (r14: q143 min 7.8 s official vs ~0.55 s
    // warm — min-of-3 did NOT absorb it), so the official per-query
    // record was untrustworthy in both directions on any
    // fixture-regeneration round; (b) the driver's 32-core and 8-core
    // scaling legs ran cold-then-warm, so the low/high ratios measured
    // store state, not parallelism. With every query prewarmed once,
    // the timed min-of-3 measures computation from parquet at equal
    // (warm) store/page-cache state on every pass and both scaling
    // legs. Nothing is cached in-process: each timed run still
    // computes from the parquet inputs through the full plan; artifact
    // builds still run (ledger-attributed to run 0) and their cost is
    // published per query.
    val prewarmTimes: Seq[(String, Double)] =
      selected.toSeq.map { case (name, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          if (!errors.contains(name)) errors += name
          System.err.println(s"[bench] $name (prewarm) failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val built = graft.observe.IndexStore.drainBuildLog()
        if (built.nonEmpty)
          qBuilds(name) = qBuilds.getOrElse(name, Nil) ++ built.map((0, _))
        name -> dt
      }
    val prewarmSec = prewarmTimes.map(_._2).sum
    val timed = selected.map { case (name, fn) =>
      val qStat0 = cpuStat()
      val times = (1 to runs).map { r =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count() }
        catch { case e: Throwable =>
          if (!errors.contains(name)) errors += name
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val built = graft.observe.IndexStore.drainBuildLog()
        if (built.nonEmpty)
          qBuilds(name) = qBuilds.getOrElse(name, Nil) ++ built.map((r, _))
        dt
      }
      qSteal(name) = stealOf(qStat0, cpuStat())
      name -> times
    }
    val results = timed.map { case (name, times) => name -> times.min }
    // Host-contention tripwire: on an idle host max/min within a query's
    // 3 runs stays near 1 (JIT/GC); multi-tenant CPU steal has produced
    // 5-10× swings here. Flag the pass when the MEDIAN per-query spread
    // exceeds 2× — a whole-pass signal, robust to one slow outlier.
    val spreads = timed.values.map(t => if (t.min > 0) t.max / t.min else 1.0).toSeq.sorted
    val medianSpread = if (spreads.isEmpty) 1.0 else spreads(spreads.size / 2)
    // Second pass: full materialization through the noop sink. count()
    // lets Catalyst prune per-row work for projection-only queries
    // (simhash, fingerprints, sanitize...), so the count-based numbers
    // above understate them; the noop sink executes every expression
    // and discards rows at the sink. Headline stays count-based for
    // round-over-round comparability; this is the honest per-row cost.
    val matResults = selected.map { case (name, fn) =>
      val times = (1 to runs).map { r =>
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        } catch { case e: Throwable =>
          if (!errors.contains(name)) errors += name
          System.err.println(s"[bench] $name (materialized) failed: ${e.getMessage}")
        }
        val dt = (System.nanoTime() - t0) / 1e9
        // a build in the materialized pass means the count pass's
        // artifact was invalidated mid-pass — exactly the thrash class
        // the ledger exists to catch (run index offset past the count
        // pass's 1..runs)
        val built = graft.observe.IndexStore.drainBuildLog()
        if (built.nonEmpty)
          qBuilds(name) = qBuilds.getOrElse(name, Nil) ++
            built.map((runs + r, _))
        dt
      }
      name -> times.min
    }
    // Like-for-like comparability: BENCH_r01/BASELINE totals cover the
    // original 27-query set; the full total now spans the whole
    // inventory, so also publish the sum over exactly the round-1 set.
    val r1Set = Set(
      "q01_flagship_us_customers", "q02_pricing_summary", "q03_top_orders",
      "q04_latest_order_per_customer", "q05_brand_volume",
      "q06_customers_without_orders", "q07_building_customers_with_orders",
      "q08_distinct_flag_status", "q09_first_order_per_customer",
      "q10_all_parties", "q11_part_kind_normalize", "q12_markdown_links",
      "q13_sanitize_names", "q14_event_props_json",
      "q15_error_purchase_by_user", "q16_hourly_event_stats",
      "q17_rising_edge_purchases", "q18_latest_event_per_user",
      "q19_lineage_edges", "q20_lineage_closure", "q21_table_counts",
      "q22_profile_lineitem", "q23_first_doc_per_lang_source",
      "q24_schema_catalog", "q25_segment_defaults",
      "q26_non_open_order_counts", "q27_event_gaps")
    val totalR1 = results.collect { case (k, v) if r1Set(k) => v }.sum
    val stealPct = stealOf(stat0, cpuStat())
    val qs = results.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsMat = matResults.map { case (k, v) => s"\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errJson = errors.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val totalMat = if (matResults.nonEmpty) matResults.values.sum else 0.0
    // Fixture fingerprint: the content identity of the sf dir this
    // pass measured (same preimage as the IndexStore's artifact
    // addressing). Cross-round per-query comparisons are only valid
    // between passes with EQUAL fingerprints — round 4's apparent +32%
    // "regression" was a silently regenerated fixture, undetectable
    // from the numbers alone.
    val fixtureFp = scala.util.Try(
      graft.observe.IndexStore.fingerprint(spark, sfDir, 1))
      .getOrElse("unknown")
    // Contention verdict (see contendedVerdict): primary signal is the
    // round-1 set vs the fingerprint-matched UNCONTENDED snapshot from
    // a previous pass (read BEFORE this pass overwrites it), gated by
    // that pass's recorded spread; hard steal>5% only as the fallback.
    val keyedPath =
      java.nio.file.Paths.get(s"target/bench-detail-$fixtureFp.json")
    val snapshotText: Option[String] =
      scala.util.Try(java.nio.file.Files.readString(keyedPath)).toOption
    val snapshot: Option[(Double, Double, Boolean)] =
      snapshotText.flatMap(parseSnapshot)
    val contended =
      contendedVerdict(medianSpread, preLoad, stealPct, totalR1, snapshot)
    val (snapshotRef, r1Clean) =
      adjudicationJson(keyedPath.getFileName.toString, snapshot)
    // Per-query outlier adjudication (r13 verdict task 2): judged
    // against the CLEAN fingerprint-matched snapshot only (a contended
    // snapshot is no reference — the pass-level rule). Each flagged
    // query carries its own steal% and build ms, so the record NAMES
    // the likely cause instead of shipping an unexplained 25×.
    // clean snapshots are the reference; a PROVISIONAL seed (fresh
    // fixture, first pass contended) is accepted for the per-query
    // stats only — its medians are at worst inflated, so the gate can
    // only under-flag, never false-alarm
    val snapStats: Map[String, (Double, Double)] =
      if (snapshot.exists(!_._3) ||
        snapshotText.exists(parseProvisional))
        snapshotText.map(parseSnapshotStats).getOrElse(Map.empty)
      else Map.empty
    val outliers = outliersVs(results.toMap, snapStats)
    val outliersJson = outliers.toSeq.sortBy(_._1).map {
      case (name, (m, gate)) =>
        val bms = qBuilds.getOrElse(name, Nil).map(_._2.ms).sum
        "\"" + name + "\":" + s"""{"min":$m,"gate":$gate,"steal_pct":""" +
          s"""${qSteal.getOrElse(name, 0.0)},"build_ms":$bms}"""
    }.mkString("{", ",", "}")
    val buildsJson = qBuilds.toSeq.sortBy(_._1).map { case (name, evs) =>
      "\"" + name + "\":" + evs.map { case (r, e) =>
        s"""{"artifact":"${e.artifact}","mode":"${e.mode}","ms":${e.ms},"run":$r}"""
      }.mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val buildMsTotal = qBuilds.values.flatten.map(_._2.ms).sum
    // Compact per-query map (qNNN key prefix, integer milliseconds of
    // the count-pass min) sized to SURVIVE the driver's ~2000-char
    // stdout-tail capture: the full-name map up front loses ~110 of
    // 155 entries to truncation every round; this one sits immediately
    // before the headline's closing scalars, so the tail keeps it.
    val qsMs = results.toSeq
      .map { case (k, v) => (k.takeWhile(_ != '_'), v) }
      .sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + math.round(v * 1000) }
      .mkString("{", ",", "}")
    // Two lines, detail FIRST and the compact headline LAST. The
    // headline keeps the one-JSON-line contract, but every scalar that
    // must survive a truncated capture ("value", the totals, the flags)
    // sits AFTER the ~140-entry per-query dict: tail captures that eat
    // the line's FRONT (observed in r2 AND r3) can then only ever lose
    // per-query detail, never the headline numbers. JSON key order is
    // irrelevant to any parser.
    // Per-query noise floor: min/median/spread of the 3 count-pass
    // runs. The pass-level medianSpread already gates whole-pass
    // contention, but round-over-round PER-QUERY comparisons were
    // unfalsifiable without each query's own spread (r6's apparent
    // q90/q108 "regressions" sat inside a 1.56× median spread) — a
    // delta is only a real regression when it clears BOTH rounds'
    // spreads for that query.
    // per-query build_ms (r14 verdict task 1: the official pass's
    // attribution must survive in the snapshot-keyed path, not just
    // the clobberable detail) — total ledger ms across ALL of this
    // query's runs (prewarm run 0, count runs 1..3, noop runs 4..6);
    // the `builds` map keeps the run-level split
    val qsStats = timed.map { case (name, times) =>
      val sorted = times.sorted
      val med = sorted(sorted.size / 2)
      val spread = if (sorted.head > 0) sorted.last / sorted.head else 1.0
      val bms = qBuilds.getOrElse(name, Nil).map(_._2.ms).sum
      "\"" + name +
        s"""":{"min":${sorted.head},"median":$med,"spread":$spread,""" +
        s""""steal_pct":${qSteal.getOrElse(name, 0.0)},"build_ms":$bms}"""
    }.mkString("{", ",", "}")
    val qsPrewarm = prewarmTimes
      .map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    def mkDetail(provisional: Boolean): String =
      s"""{"detail":"materialized","provisional":$provisional,"fixture_fp":"$fixtureFp","sf":"$sfDir","queries_materialized":$qsMat,"queries_stats":$qsStats,"builds":$buildsJson,"queries_prewarm":$qsPrewarm,"prewarm_sec":$prewarmSec,"total_materialized":$totalMat,"median_spread":$medianSpread,"pre_load":$preLoad,"steal_pct":$stealPct}"""
    val detailLine = mkDetail(provisional = false)
    // Field placement (ADVICE r13): the adjudication record
    // (snapshot_ref, r1_clean — ~130 chars) sits BEFORE queries_ms so
    // the driver's ~2000-char stdout-tail capture spends its budget on
    // the per-query map and the headline scalars AFTER it (outliers,
    // totals, flags); the keyed file keeps the full line either way.
    val headline =
      s"""{"metric":"total","unit":"sec","queries":$qs,"errors":$errJson,"runs":$runs,"sf":"$sfDir","fixture_fp":"$fixtureFp","snapshot_ref":$snapshotRef,"r1_clean":$r1Clean,"queries_ms":$qsMs,"outliers":$outliersJson,"build_ms":$buildMsTotal,"prewarm_sec":$prewarmSec,"total_materialized":$totalMat,"total_r1_query_set":$totalR1,"n_queries":${results.size},"pre_load":$preLoad,"steal_pct":$stealPct,"contended":$contended,"value":$total}"""
    // Durability: the driver's stdout capture truncates to the last
    // ~2,000 chars, which historically ate most per-query entries; the
    // FULL detail also lands in a file, so cross-round attribution
    // never depends on what survived the pipe.
    try {
      val out = java.nio.file.Paths.get("target/bench-detail.json")
      java.nio.file.Files.createDirectories(out.getParent)
      java.nio.file.Files.writeString(out, detailLine + "\n" + headline + "\n")
      // ALWAYS a run-stamped copy too (r14 verdict task 1): the plain
      // path is clobbered by the next run — the driver's 8-core pass
      // overwrote the 32-core official pass's detail, losing the exact
      // per-query build/steal attribution this record exists to carry.
      // Stamped files are written even for contended, filtered, or
      // outlier-carrying passes (those are precisely the ones whose
      // attribution gets contested later); distinct "bench-run-"
      // prefix so their retention never evicts keyed snapshots.
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(
          s"target/bench-run-$fixtureFp-${System.currentTimeMillis()}.json"),
        detailLine + "\n" + headline + "\n")
      // ALSO under a fixture-fingerprint-keyed name: the plain path is
      // clobbered by every local smoke at another SF (the round-7
      // sf0.1 stats were lost to an sf0.001 probe exactly this way),
      // while the keyed copy makes cross-round spread-gated
      // comparisons (tools/bench_compare.py) survive local iteration.
      // A CONTENDED pass must not overwrite the clean snapshot it was
      // judged against — the keyed file's whole value is being the
      // uncontended reference. Neither may a FILTERED pass
      // (SPARK_GRAFT_ONLY): a 4-query probe at the same fixture would
      // replace the full-pass reference with a partial one and break
      // both the contention verdict (its total_r1 is ~0) and the
      // cross-round compare (the round-7 clobber lesson, one level
      // deeper). Nor may a pass carrying PER-QUERY OUTLIERS (E208):
      // the r13 official pass was pass-level clean (contended:false)
      // yet carried q165 at 25× — it overwrote the snapshot and
      // poisoned that query's reference stats for every later gate.
      // An outlier-free clean pass self-heals the snapshot afterwards
      // (outliers only flag SLOWER-than-reference, so recovery passes
      // always qualify).
      snapshotAction(contended, only.nonEmpty, outliers.isEmpty,
        snapshotText.nonEmpty) match {
        case "write" =>
          java.nio.file.Files.writeString(keyedPath,
            detailLine + "\n" + headline + "\n")
        case "provisional" =>
          // fresh fixture, contended pass: seed the outlier gate
          // (flagged provisional — see parseProvisional) instead of
          // leaving it structurally blind until the first clean pass
          java.nio.file.Files.writeString(keyedPath,
            mkDetail(provisional = true) + "\n" + headline + "\n")
        case _ => ()
      }
      // Retention: keyed files accumulate one per fixture regeneration,
      // stamped files one per run; keep the newest 8 of each prefix
      // and prune the rest (they live under target/, but sbt clean is
      // not a policy).
      import scala.jdk.CollectionConverters._
      // Files.list holds an open directory handle until closed — leaked
      // once per bench run without the finally (ADVICE r9).
      for (prefix <- Seq("bench-detail-", "bench-run-")) {
        val listing = java.nio.file.Files.list(out.getParent)
        val old =
          try listing.iterator().asScala
            .filter(_.getFileName.toString.startsWith(prefix))
            .toSeq
            .sortBy(p => -java.nio.file.Files.getLastModifiedTime(p).toMillis)
            .drop(8)
          finally listing.close()
        old.foreach(p => java.nio.file.Files.deleteIfExists(p))
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] detail file write failed: ${e.getMessage}")
    }
    println(detailLine)
    println(headline)
    spark.stop()
  }
}
