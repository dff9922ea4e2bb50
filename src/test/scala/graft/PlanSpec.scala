package graft

import org.apache.spark.sql.functions._

/** Physical-plan invariants — the 100 TB discipline, machine-checked:
  * no accidental cartesian products, pushdown reaching scans, broadcast
  * on dimension joins, top-k planned as TakeOrderedAndProject, and
  * shuffle-free joins on co-bucketed tables. */
class PlanSpec extends SparkSuite {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Queries that intentionally use a broadcast nested-loop: a handful
    * of broadcast query vectors / centroids (or a 1-row global count,
    * q67) against the streaming side. */
  // Every entry is a deliberate broadcast nested-loop: the big side
  // streams once against a broadcast handful of rows (query vectors,
  // centroid/scale/codebook models) — the correct plan for those ops.
  private val bnljAllowed = Set(
    "q31_topk_cosine", "q38_ivf_topk", "q39_embed_neardup",
    "q67_tfidf_top_terms", "q83_filtered_topk",
    "q93_quantized_topk" /* broadcast queries × code table */,
    "q98_semantic_dedup" /* q39's cluster-build path */,
    "q99_dsir_selection" /* broadcast 1-row totals × bigram model */,
    "q108_bm25_topk" /* broadcast 1-row corpus stats onto postings */,
    "q109_hybrid_rrf" /* same stats broadcast inside the BM25 leg */,
    "q113_random_projection" /* broadcast probe vectors × corpus */,
    "q118_skew_replicated_join" /* broadcast 1-row mean × key counts */,
    "q124_hourly_gapfill" /* calendar spine × broadcast distinct types */,
    "q134_copurchase_triangles" /* 20-row top-k × broadcast 1-row total */,
    "q137_association_rules" /* pair scores × broadcast 1-row N */,
    "q139_source_kl_mix" /* vocab counts × broadcast 1-row total */,
    "q140_mix_temperature" /* per-source rows × broadcast 1-row totals */,
    "q143_mix_report" /* the q139/q140 1-row totals, composed */,
    "q145_ivf_adc_topk" /* 10 queries × broadcast centroid model (q38 shape) */,
    "q150_ivf_multiprobe_topk" /* q145's probe shape, boosted budget */,
    "q147_residual_ivf_adc_topk" /* same probe shape over residual codes */,
    "q158_ivf_adaptive_topk" /* q145's probe shape, margin-adaptive
      budget (the probe stage's checkpoint is gone, so the broadcast
      model cross join now shows in the final plan like its siblings) */,
    "q153_ann_recall_report" /* the audit's exact leg: corpus × broadcast queries */)
  // q96_pq_topk is NOT allowed: its final plan is pure equi-joins
  // (LUT broadcast-hash onto the code table) — the guard must catch
  // any regression into a nested-loop shape there.

  test("no query plans a CartesianProduct; BNLJ only where intended") {
    SparkEntry.queries.keys.foreach { name =>
      val p = plan(name)
      assert(!p.contains("CartesianProduct"), s"$name plans a cartesian product")
      if (!bnljAllowed(name)) {
        assert(!p.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unintended broadcast nested-loop join")
      }
    }
  }

  test("flagship: filter pushed to scan, dim side broadcast") {
    val p = plan("q01_flagship_us_customers")
    assert(p.contains("BroadcastHashJoin"))
    assert(p.contains("PushedFilters") && p.contains("EqualTo(n_name,NATION_1)"))
  }

  test("cdc merge: touched-key anti join broadcasts — base never shuffles") {
    val p = plan("q116_cdc_merge")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftAnti"),
      "the change-feed key set must broadcast into the anti join")
  }

  test("skew join: both probe splits and the heavy leg broadcast") {
    val p = plan("q118_skew_replicated_join")
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      "probe side must split by semi/anti on the heavy-key set")
    val nBhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBhj >= 3,
      s"heavy-key split + heavy-leg joins must broadcast, got $nBhj BHJs")
    assert(p.contains("Union"), "the two legs must reunite plan-level")
  }

  test("top-k plans TakeOrderedAndProject, never a global sort") {
    val p = plan("q03_top_orders")
    assert(p.contains("TakeOrderedAndProject"))
  }

  test("set-membership filter pushed to parquet") {
    val p = plan("q15_error_purchase_by_user")
    assert(p.contains("In(event_type"))
    // the terminal-state filters phrase their CASE-mapped predicate on
    // the source column too (inverse image), so the run queries prune
    assert(plan("q45_terminal_run_stats").contains("In(event_type"),
      "q45 must push the terminal-type inverse image into the scan")
    assert(plan("q46_run_output_lookup").contains("In(event_type"),
      "q46 must push the terminal-type inverse image into the scan")
  }

  test("column pruning: narrow projection reaches the scan") {
    val p = plan("q03_top_orders")
    // the orders scan must not read all 6 columns for a 3-column query
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("o_orderkey") && readSchema.contains("o_totalprice"))
    assert(!readSchema.contains("o_orderpriority"))
  }

  test("q46 broadcasts the latest-per-entity side, never the O(runs) outputs") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val qe = SparkEntry.queries("q46_run_output_lookup")(spark, sf).queryExecution
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhjs = physical.collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.nonEmpty, s"q46 lost its broadcast hash join:\n$physical")
    bhjs.foreach { j =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      val b = build.toString
      // the broadcast (build) side must be the ≤|entities|-row max_by
      // aggregate; the to_json outputs projection is O(terminal runs)
      // and must stay on the streamed side
      assert(b.contains("max_by"),
        s"broadcast side is not the latest-per-entity aggregate:\n$b")
      assert(!b.contains("to_json"),
        s"broadcast side carries the O(runs) outputs projection:\n$b")
    }
  }

  test("q38 builds the probe side of the cluster join, never the " +
    "cluster table (AQE would invert this at the test scale)") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    val qe = SparkEntry.queries("q38_ivf_topk")(spark, sf).queryExecution
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val bhjs = physical.collect { case j: BroadcastHashJoinExec => j }
    assert(bhjs.nonEmpty, s"q38 lost its broadcast hash join:\n$physical")
    bhjs.foreach { j =>
      val build = j.buildSide match {
        case BuildLeft => j.left
        case BuildRight => j.right
      }
      // the build side is the O(queries·nprobe) probe relation — it
      // carries the per-query window rank; the streamed side is the
      // persisted cluster artifact scan and must never broadcast
      assert(build.toString.contains("row_number"),
        s"q38 broadcasts the cluster table, not the probes:\n$build")
    }
  }

  test("latest-run uses partial max_by aggregation, not a window sort") {
    val p = plan("q44_latest_run_per_entity")
    assert(p.contains("partial_max_by"))
    assert(!p.contains("RunningWindowFunction") && !p.contains("Window "))
  }

  test("length-outlier threshold joins broadcast, never a per-lang window sort") {
    val p = plan("q78_length_outliers")
    assert(p.contains("BroadcastHashJoin"), s"threshold join not broadcast:\n$p")
    assert(!p.contains("Window "), s"q78 fell back to a window sort:\n$p")
  }

  test("exact profile never plans an Expand (multi-distinct scale-killer)") {
    val p = plan("q22_profile_lineitem")
    assert(!p.contains("Expand"), s"q22 plans an Expand:\n$p")
  }

  test("pivot with pinned values plans one aggregation pass, no Expand") {
    val p = plan("q79_lang_source_pivot")
    // pinned pivot values → a single grouping pass; an unpinned pivot
    // would first run a values-discovery job, an Expand-style blowup
    assert(!p.contains("Expand"), s"pivot planned an Expand:\n$p")
    assert(p.contains("HashAggregate"))
  }

  test("decontamination reads the persisted shingle artifact; the " +
    "documents scan never re-reads text") {
    Seq("q59_decontaminate", "q73_bloom_decontaminate").foreach { name =>
      val p = plan(name)
      assert(p.contains("graft-index"),
        s"$name must probe the persisted shingle artifact, not re-tokenize")
      val docScans = p.linesIterator
        .filter(_.contains("documents.parquet")).toSeq
      assert(docScans.nonEmpty, s"$name lost its documents metadata scan")
      docScans.foreach(l => assert(!l.contains("text"),
        s"$name documents scan reads the text column it no longer needs:\n$l"))
    }
  }

  test("url dedup: map-only canonicalization + one aggregation — no " +
    "join, no window, partial agg before the exchange") {
    val p = plan("q91_url_dedup")
    assert(!p.contains("Join"), s"q91 plans a join:\n$p")
    assert(!p.contains("Window "), s"q91 plans a window:\n$p")
    assert(p.contains("HashAggregate"), s"q91 lost its hash aggregation:\n$p")
  }

  test("pq ADC scan: LUT joins broadcast onto the code table, " +
    "never sort-merge") {
    val p = plan("q96_pq_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"q96 LUT join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q96 must not sort-merge the code table:\n$p")
  }

  test("pq rerank: the exact leg probes the float table through " +
    "BROADCAST candidate/query builds — the corpus never shuffles or " +
    "nested-loops for the refine, and the candidate cut rides the plan") {
    val p = plan("q144_pq_rerank_topk")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"q144 must be pure equi-joins:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q144 must not sort-merge anywhere:\n$p")
    // three broadcast hash joins: ADC LUT onto the code table, then the
    // (queries × k')-row candidate set and the 10-row query vectors
    // onto the float scan — so the exact window's input is capped at
    // queries × k' rows by construction
    val nBhj = "BroadcastHashJoin".r.findAllIn(p).size
    assert(nBhj >= 3,
      s"q144 needs LUT + candidate + query broadcasts, got $nBhj:\n$p")
    // the k' cut is IN the executed plan (the rank filter on the ADC
    // window), not applied driver-side after a full materialization
    assert(p.contains(s"<= ${graft.ops.Llm.pqRerankCand}"),
      s"q144 candidate cut must ride the plan:\n$p")
  }

  test("pii scrub: regex work rides the scan — no join, no window, " +
    "one partial aggregation") {
    val p = plan("q95_pii_scrub")
    assert(!p.contains("Join"), s"q95 plans a join:\n$p")
    assert(!p.contains("Window "), s"q95 plans a window:\n$p")
    assert(p.contains("HashAggregate"), s"q95 lost its aggregation:\n$p")
  }

  test("domain caps: bounded-heap aggregation, never a per-domain " +
    "window sort (the skewed-host trap)") {
    val p = plan("q94_domain_caps")
    assert(!p.contains("Window "), s"q94 plans a window sort:\n$p")
    // the heap is an ObjectHashAggregate with a partial (map-side)
    // phase — ≤ cap candidates per domain cross the exchange
    assert(p.contains("ObjectHashAggregate"),
      s"q94 lost its heap aggregation:\n$p")
  }

  test("gopher repetition: in-row sorted folds — no explode, no join, " +
    "no per-gram aggregation crosses an exchange") {
    val p = plan("q104_gopher_repetition")
    assert(!p.contains("Generate"), s"q104 explodes its n-grams:\n$p")
    assert(!p.contains("Join"), s"q104 plans a join:\n$p")
    assert(!p.contains("HashAggregate"),
      s"q104 plans a relational aggregation (the shuffle the in-row " +
        s"fold exists to avoid):\n$p")
  }

  test("char entropy: in-row sorted fold — no explode, no join; the " +
    "only aggregation is the per-lang report") {
    val p = plan("q115_char_entropy")
    assert(!p.contains("Generate"), s"q115 explodes its characters:\n$p")
    assert(!p.contains("Join"), s"q115 plans a join:\n$p")
  }

  test("lm rare filter joins the bigram model broadcast, never shuffled") {
    val p = plan("q92_lm_rare_filter")
    assert(p.contains("BroadcastHashJoin"),
      s"q92 model join must broadcast:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"q92 must not sort-merge the corpus against the model:\n$p")
  }

  test("loadSpread exchanges only when the scan under-fills the cluster") {
    val s = spark
    val cores = s.sparkContext.defaultParallelism
    // fixture single-file table: scan plans ~1 split → spread engages
    assert(Tables.loadSpread(s, sf, "documents").rdd.getNumPartitions === cores)
    // a table whose scan already yields ≥cores splits must NOT be
    // round-robin shuffled (at 100 TB that exchange moves the corpus)
    val key = "spark.sql.files.maxPartitionBytes"
    val saved = s.conf.get(key)
    val dir = tempDir("graft_spread").toString
    Tables.load(s, sf, "documents")
      .repartition(cores).write.parquet(s"$dir/documents.parquet")
    s.conf.set(key, "16384") // force many small splits
    try {
      val df = Tables.loadSpread(s, dir, "documents")
      assert(df.rdd.getNumPartitions >= cores)
      assert(!df.queryExecution.executedPlan.toString
        .contains("RoundRobinPartitioning"),
        "well-split scan must not be re-shuffled")
    } finally s.conf.set(key, saved)
  }

  test("partitioned write + read prunes partitions at the scan") {
    val s = spark
    val out = tempDir("graft_part").toString + "/docs"
    Tables.load(s, sf, "documents")
      .write.mode("overwrite").partitionBy("lang").parquet(out)
    val read = s.read.parquet(out).filter(col("lang") === "en")
    val p = read.queryExecution.executedPlan.toString
    assert(p.contains("PartitionFilters") && p.contains("lang"),
      s"partition filter not applied:\n$p")
    // pruned read touches only the en partition
    assert(read.count() ===
      Tables.load(s, sf, "documents").filter(col("lang") === "en").count())
  }

  test("co-bucketed tables join without a shuffle") {
    val s = spark // tables land in ./spark-warehouse (gitignored)
    val n = 8
    Tables.load(s, sf, "orders")
      .write.mode("overwrite").format("parquet")
      .bucketBy(n, "o_custkey").sortBy("o_custkey")
      .saveAsTable("orders_b")
    Tables.load(s, sf, "customer")
      .write.mode("overwrite").format("parquet")
      .bucketBy(n, "c_custkey").sortBy("c_custkey")
      .saveAsTable("customer_b")
    try {
      val joined = s.table("orders_b")
        .join(s.table("customer_b"),
          col("o_custkey") === col("c_custkey"))
      val p = joined.queryExecution.executedPlan.toString
      // both sides pre-bucketed on the join key: no Exchange needed
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() > 0)
    } finally {
      s.sql("DROP TABLE IF EXISTS orders_b")
      s.sql("DROP TABLE IF EXISTS customer_b")
    }
  }

  test("q101: persisted bucketed twins sort-merge-join with zero " +
    "Exchange on either input") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val qe = SparkEntry.queries("q101_colocated_revenue")(spark, sf)
      .queryExecution
    val physical = qe.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val smj = physical.collectFirst { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty,
      s"expected a sort-merge join of the bucketed twins:\n$physical")
    smj.get.children.foreach { side =>
      assert(!side.toString.contains("Exchange"),
        s"bucketed join input re-shuffled:\n$side")
    }
  }

  test("AQE splits a skewed join partition at runtime") {
    val s = spark
    import s.implicits._
    // One key owns ~95% of the rows: the classic skew that stalls a
    // shuffle join on one straggler task. With AQE skew-join enabled
    // (and thresholds scaled down to fixture size), the planner must
    // split that partition at runtime — `isSkew=true` in the final plan.
    val conf = Seq(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "64KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val skewed = s.range(0, 200000)
        .select(when(col("id") % 20 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
          concat(lit("payload_"), col("id")).as(("pay")))
      val dim = s.range(0, 1000).select(col("id").as("k"), (col("id") * 2).as("d"))
      val joined = skewed.join(dim, "k")
      // collect() executes THIS DataFrame's queryExecution (count()
      // would spawn a fresh one and leave this plan un-finalized);
      // k=7 rows (190 000) all match; the spread ids match only below
      // the dim's 1 000-key range: ids 0,20,…,980 → 50 rows.
      assert(joined.collect().length === 190050)
      val p = joined.queryExecution.executedPlan.toString
      assert(p.contains("skew=true"), s"AQE did not split the skew:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  test("runtime bloom-filter join: a selective dim predicate " +
    "semi-prunes the fact side of a shuffle join at runtime") {
    val s = spark
    // At 100 TB the defaults fire on their own (application side
    // > 10 GB); the fixture only has to clear the size gates to prove
    // the engine's join shape is injection-eligible: a selective
    // filter on the small side of a shuffle equi-join.
    val conf = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = conf.map { case (k, _) => k -> s.conf.getOption(k) }
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    try {
      val orders = s.read.parquet(s"$sf/orders.parquet")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"))
      val li = s.read.parquet(s"$sf/lineitem.parquet")
        .select(col("l_orderkey"), col("l_quantity"))
      val j = li.join(orders, col("l_orderkey") === col("o_orderkey"))
        .agg(sum(col("l_quantity")).as("q"))
      assert(j.collect().length === 1)
      val p = j.queryExecution.executedPlan.toString
      assert(p.contains("might_contain"),
        s"runtime bloom filter was not injected on the fact scan:\n$p")
    } finally saved.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None)    => s.conf.unset(k)
    }
  }

  // ---- TopOnePerKey rewrite rule --------------------------------------

  import org.apache.spark.sql.{DataFrame, GraftBridge}
  import org.apache.spark.sql.expressions.Window
  import graft.plans.TopOnePerKey

  private def rewritten(df: DataFrame): (String, DataFrame) = {
    val out = TopOnePerKey(df.queryExecution.optimizedPlan)
    (out.toString, GraftBridge.ofRows(spark, out))
  }

  test("TopOnePerKey rewrites asc window-top-1 to min_by and preserves " +
    "the result") {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    val df = Tables.load(spark, sf, "orders")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
    val (planStr, rw) = rewritten(df)
    assert(planStr.contains("min_by"), s"no min_by in:\n$planStr")
    assert(!planStr.contains("Window"), s"Window survived:\n$planStr")
    val key = (r: org.apache.spark.sql.Row) => r.getLong(0)
    val expect = df.collect().sortBy(r => key(r)).map(_.toSeq).toSeq
    val got = rw.collect().sortBy(r => key(r)).map(_.toSeq).toSeq
    assert(got === expect)
  }

  test("TopOnePerKey rewrites desc window-top-1 to max_by and preserves " +
    "the result (q18 shape)") {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts").desc, col("event_id").desc)
    val df = Tables.load(spark, sf, "events")
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("user_id", "event_id", "event_type", "rn")
    val (planStr, rw) = rewritten(df)
    assert(planStr.contains("max_by"), s"no max_by in:\n$planStr")
    assert(!planStr.contains("Window"), s"Window survived:\n$planStr")
    val expect = df.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    val got = rw.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    assert(got === expect)
  }

  test("TopOnePerKey handles null ordering keys like the window sort " +
    "(asc nulls first)") {
    val s = spark
    import s.implicits._
    val df0 = Seq(
      (1L, Some(5L), "a"), (1L, None, "b"), (1L, Some(2L), "c"),
      (2L, None, "d"), (2L, None, "e"),
      (3L, Some(7L), "f")
    ).toDF("k", "o", "v")
    val w = Window.partitionBy(col("k")).orderBy(col("o"), col("v"))
    val df = df0.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
    val (planStr, rw) = rewritten(df)
    assert(planStr.contains("min_by"), s"no min_by in:\n$planStr")
    val expect = df.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    val got = rw.collect().sortBy(_.getLong(0)).map(_.toSeq).toSeq
    assert(got === expect)
  }

  test("TopOnePerKey leaves top-k (k>1), mixed-direction, and " +
    "unpartitioned windows untouched") {
    val base = Tables.load(spark, sf, "orders")
    val wAsc = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"))
    val top2 = base.withColumn("rn", row_number().over(wAsc))
      .filter(col("rn") <= 2)
    assert(TopOnePerKey(top2.queryExecution.optimizedPlan).toString
      .contains("Window"))
    val wMixed = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate").desc, col("o_orderkey"))
    val mixed = base.withColumn("rn", row_number().over(wMixed))
      .filter(col("rn") === 1)
    assert(TopOnePerKey(mixed.queryExecution.optimizedPlan).toString
      .contains("Window"))
    val wGlobal = Window.orderBy(col("o_orderdate"))
    val global = base.withColumn("rn", row_number().over(wGlobal))
      .filter(col("rn") === 1)
    assert(TopOnePerKey(global.queryExecution.optimizedPlan).toString
      .contains("Window"))
  }

  test("q131 MV rewrite: the served rollup scans the MV artifact, " +
    "never the base table; non-derivable aggregates stay on the base") {
    import org.apache.spark.sql.functions._
    // building the q131 frame registers the MV + the optimizer rule
    val served = SparkEntry.queries("q131_mv_rollup_serve")(spark, sf)
    val p = served.queryExecution.executedPlan.toString
    assert(p.contains("mv_lineitem_daily"),
      s"rollup must be served from the MV artifact:\n$p")
    assert(!p.contains("lineitem.parquet"),
      s"the base table must not be scanned:\n$p")
    // rewrite ≡ direct: compare against the same aggregate computed
    // with the rule bypassed (a non-derivable aggregate keeps the
    // whole query on the base path)
    val base = Tables.load(spark, sf, "lineitem")
    val direct = base.groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), sum(col("l_quantity")).as("sum_qty"),
        min(col("l_extendedprice")).as("min_price"),
        max(col("l_extendedprice")).as("max_price"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
    // sum(discount) is not covered by the MV: the plan must stay on base
    val uncovered = base.groupBy(col("l_returnflag"))
      .agg(sum(col("l_discount")).as("s"))
    assert(uncovered.queryExecution.executedPlan.toString
      .contains("lineitem.parquet"),
      "an uncovered aggregate must not be rewritten")
    // a filter on a NON-grain column must not be rewritten (the
    // predicate references detail the MV lost)
    val filtered = base.filter(col("l_partkey") > 100)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
    assert(filtered.queryExecution.executedPlan.toString
      .contains("lineitem.parquet"),
      "a non-grain filter must not be rewritten")
    // a filter on a GRAIN column selects whole MV rows: it rewrites,
    // and the result equals the base computation
    val grainFiltered = base.filter(col("l_returnflag") =!= "R")
      .groupBy(col("l_linestatus")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_linestatus"))
    val gp = grainFiltered.queryExecution.executedPlan.toString
    assert(gp.contains("mv_lineitem_daily") &&
      !gp.contains("lineitem.parquet"),
      s"a grain-column filter must serve from the MV:\n$gp")
    val expectGrain = bypassingMvRule {
      base.filter(col("l_returnflag") =!= "R")
        .groupBy(col("l_linestatus")).agg(count(lit(1)))
        .orderBy(col("l_linestatus"))
        .collect().map(_.getLong(1)).toSeq
    }
    assert(grainFiltered.collect().map(_.getLong(1)).toSeq === expectGrain)
    // compute `direct` with the rule momentarily removed, or it would
    // itself be MV-served and the equality would be vacuous
    val directRows = bypassingMvRule {
      assert(direct.queryExecution.executedPlan.toString
        .contains("lineitem.parquet"))
      direct.collect().toSeq
    }
    assert(served.collect().toSeq === directRows,
      "MV-served result must equal the direct rollup")
  }

  test("MV staleness: a base append makes the rule FALL BACK to the " +
    "base table (never a stale serve); re-registering re-serves") {
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_mvstale")
      .toString
    val basePath = s"$dir/lineitem.parquet"
    Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
        "l_extendedprice")
      .coalesce(1).write.mode("overwrite").parquet(basePath)
    graft.plans.MvCatalog.registerLineitemDaily(spark, dir)
    def q = spark.read.parquet(basePath)
      .groupBy(col("l_returnflag")).agg(count(lit(1)).as("n"))
      .orderBy(col("l_returnflag"))
    assert(q.queryExecution.executedPlan.toString
      .contains("mv_lineitem_daily"), "fresh registration must serve")
    val before = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // pure append: one more data file in the base dir -> fingerprint
    // moves -> the registered artifact no longer matches
    Tables.load(spark, sf, "lineitem")
      .select("l_returnflag", "l_linestatus", "l_shipdate", "l_quantity",
        "l_extendedprice")
      .limit(100).coalesce(1).write.mode("append").parquet(basePath)
    val p2 = q.queryExecution.executedPlan.toString
    assert(!p2.contains("mv_lineitem_daily") &&
      p2.contains("lineitem.parquet"),
      s"after a base append the rule must fall back to the base:\n$p2")
    val after = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(after.values.sum === before.values.sum + 100,
      "the fallback must see the appended rows (stale serve = bug)")
    // rebuild + re-register: serving resumes, now over the grown base
    graft.plans.MvCatalog.registerLineitemDaily(spark, dir)
    val p3 = q.queryExecution.executedPlan.toString
    assert(p3.contains("mv_lineitem_daily"),
      s"re-registration must serve the rebuilt artifact:\n$p3")
    assert(q.collect().map(_.getLong(1)).sum === after.values.sum)
    // TAKEDOWN (segmented, r10): delete the ORIGINAL file — the
    // surviving state (appended file only) was never built, so the MV
    // must EXCISE the donor chain rather than re-serve a retained
    // head; the served rollup equals the direct compute over the
    // survivors
    val original = Option(new java.io.File(basePath).listFiles())
      .get.filter(f => f.getName.endsWith(".parquet"))
      .sortBy(_.lastModified()).head
    assert(original.delete())
    val truth = q.collect() // old registration no longer matches → base
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(truth.values.sum === 100L, "only the appended rows survive")
    graft.plans.MvCatalog.registerLineitemDaily(spark, dir)
    val p4 = q.queryExecution.executedPlan.toString
    assert(p4.contains("mv_lineitem_daily"),
      s"post-takedown registration must serve the excised artifact:\n$p4")
    val served = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(served === truth,
      "the excised MV must serve exactly the surviving base's rollup")
  }

  test("MV type safety: sum over a DECIMAL base never rewrites (rolled " +
    "sum widens the type); count over the same spec still serves") {
    import org.apache.spark.sql.functions._
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_mvdec")
      .toString
    val basePath = s"$dir/dec.parquet"
    Seq(("a", "1.10"), ("a", "2.20"), ("b", "3.30"))
      .toDF("g", "vs")
      .select(col("g"), col("vs").cast("decimal(10,2)").as("v"))
      .write.mode("overwrite").parquet(basePath)
    graft.observe.IndexStore.invalidate(spark, "mv_dec_test")
    val mv = graft.observe.ArtifactSpec("mv_dec_test", 1, "dec",
      graft.observe.Decomp.Full((_, _) =>
        spark.read.parquet(basePath).groupBy(col("g"))
          .agg(sum(col("v")).as("sum_v"), count(lit(1)).as("cnt"))))
    graft.observe.IndexStore.read(spark, mv, dir)
    graft.plans.MvRewrite.register(graft.plans.MvRewrite.Spec(
      dir = dir, artifact = mv,
      groupCols = Set("g"), cntCol = "cnt",
      sumCols = Map("v" -> "sum_v"), minCols = Map.empty,
      maxCols = Map.empty))
    if (!spark.experimental.extraOptimizations
        .contains(graft.plans.MvRewrite)) {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.MvRewrite
    }
    val sumQ = spark.read.parquet(basePath)
      .groupBy(col("g")).agg(sum(col("v")).as("s"))
    val sp = sumQ.queryExecution.executedPlan.toString
    assert(sp.contains("dec.parquet") && !sp.contains("mv_dec_test"),
      s"sum(decimal) would widen decimal(20,2)->decimal(30,2): must not " +
        s"rewrite:\n$sp")
    val cntQ = spark.read.parquet(basePath)
      .groupBy(col("g")).agg(count(lit(1)).as("n"))
    assert(cntQ.queryExecution.executedPlan.toString
      .contains("mv_dec_test"),
      "count over the same spec is type-stable and must still serve")
    assert(cntQ.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      === Map("a" -> 2L, "b" -> 1L))
  }

  test("MV avg synthesis: avg(double) serves as sum/non-null-count " +
    "from the artifact and matches the direct plan") {
    import org.apache.spark.sql.functions._
    graft.plans.MvCatalog.registerLineitemDaily(spark, sf)
    val avgQ = Tables.load(spark, sf, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(avg(col("l_quantity")).as("avg_qty"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))
    val p = avgQ.queryExecution.executedPlan.toString
    assert(p.contains("mv_lineitem_daily") &&
      !p.contains("lineitem.parquet"),
      s"avg must be synthesized from the MV's sum + non-null count:\n$p")
    val served = avgQ.collect().map(_.getDouble(2))
    val direct = bypassingMvRule {
      Tables.load(spark, sf, "lineitem")
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(avg(col("l_quantity")).as("avg_qty"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
        .collect().map(_.getDouble(2))
    }
    served.zip(direct).foreach { case (a, b) =>
      assert(math.abs(a - b) <= 1e-9 * math.max(math.abs(a), math.abs(b)),
        s"served avg $a drifted from direct $b")
    }
  }

  /** Run `body` with MvRewrite removed from extraOptimizations (and
    * restored after) — for computing ground truth the rule would
    * otherwise rewrite. */
  private def bypassingMvRule[T](body: => T): T = {
    val saved = spark.experimental.extraOptimizations
    try {
      spark.experimental.extraOptimizations =
        saved.filterNot(_ eq graft.plans.MvRewrite)
      body
    } finally spark.experimental.extraOptimizations = saved
  }

  test("q133 global sequence: no Window anywhere (the single-partition " +
    "sort trap), no hash exchange in the serve plan") {
    val p = plan("q133_global_sequence")
    assert(!p.contains("Window"),
      s"global row numbering must not plan a window:\n$p")
    assert(!p.contains("hashpartitioning"),
      s"the serve path is range-shuffled once, never hash-shuffled:\n$p")
  }

  test("q132 multi-probe: the probe side broadcasts onto the index " +
    "equi-join") {
    val p = plan("q132_multiprobe_topk")
    assert(p.contains("BroadcastHashJoin"),
      s"probes must broadcast-hash-join the index:\n$p")
  }

  test("q134 triangles: compact-forward — in-row intersections, " +
    "never a materialized wedge relation") {
    val s = spark
    import s.implicits._
    // the checkpointed serve plan hides the closing stage, so assert
    // on the pre-checkpoint triangle relation itself (adjacency form
    // of the oriented 3-cycle 1→2, 1→3, 2→3)
    val adj = Seq((1L, Seq(2L, 3L)), (2L, Seq(3L))).toDF("src", "nb")
    val rel = graft.ops.Relational.triangleRelation(adj)
    val p = rel.queryExecution.executedPlan.toString
    assert(p.contains("array_intersect"),
      s"triangle closing must be the in-row sorted intersection:\n$p")
    assert(rel.collect().map(r =>
      (r.getLong(0), r.getLong(1), r.getSeq[Long](2))).toSeq ===
      Seq((1L, 2L, Seq(3L))),
      "the triangle {1,2,3} closes once, on its lowest-ordered edge")
  }

  test("q135 cohort: plain counts over pre-distinct'd pairs — no " +
    "countDistinct state; q136 funnel: bounded heap + fold — no window, " +
    "type filter pushed, only the user-keyed stage-0 restore join") {
    val cohort = plan("q135_cohort_retention")
    assert(!cohort.contains("count(distinct"),
      s"cohort counts must not carry per-group dedup state:\n$cohort")
    val funnel = plan("q136_funnel_stages")
    assert(!funnel.contains("Window"),
      s"the funnel walk must never sort a per-user window:\n$funnel")
    assert(funnel.contains("In(event_type"),
      s"the stage-type filter must push into the relevant-event scan:\n$funnel")
    // exactly one join: restoring stage-0 users (left join on user_id);
    // the collection itself is the bounded earliest-k heap aggregation
    assert("Join".r.findAllIn(funnel).size === 1 &&
      funnel.contains("LeftOuter"),
      s"only the user-keyed stage-0 restore join is allowed:\n$funnel")
  }

  test("q127 unpivot: ONE fact scan; the Expand reshapes the " +
    "aggregated relation, not the corpus") {
    val p = plan("q127_unpivot_flag_metrics")
    assert("Scan parquet".r.findAllIn(p).size === 1,
      s"unpivot must not re-scan the fact table:\n$p")
    assert(p.contains("Expand"), "unpivot plans through Expand")
    // Expand above the final aggregate: everything below the first
    // Expand occurrence must already contain both aggregation passes
    val below = p.substring(p.indexOf("Expand"))
    assert("HashAggregate".r.findAllIn(below).size >= 2,
      s"Expand must sit above the partial+final aggregate, not the scan:\n$p")
  }

  test("q128 set ops: event filters pushed to the scans; exchanges " +
    "carry distinct ids, never raw events") {
    val p = plan("q128_set_reconciliation")
    assert(p.contains("EqualTo(event_type,purchase)") &&
      p.contains("EqualTo(event_type,error)"),
      s"set legs must push their event_type filter into parquet:\n$p")
    // intersect/except plan as semi/anti joins over hash-distinct ids
    assert(p.contains("LeftSemi") && p.contains("LeftAnti"),
      s"intersect/except must plan as semi/anti joins:\n$p")
    assert(!p.contains("SortMergeJoin") || p.contains("BroadcastHashJoin"),
      s"distinct-id joins should hash, not global-sort:\n$p")
  }

  test("q85/q149 cumulative cutoff: no full-history window partitioned " +
    "by source alone over corpus-sized input — the two-pass (source, " +
    "shard) discipline is structural") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    // bounded = the window's unary input chain passes an aggregate
    // (the offsets prefix-sum runs over the O(sources × shards) shard
    // totals — that one MAY partition by source alone)
    @annotation.tailrec
    def boundedInput(p: SparkPlan): Boolean = p match {
      case _: BaseAggregateExec => true
      case u if u.children.length == 1 => boundedInput(u.children.head)
      case _ => false
    }
    for (name <- Seq("q85_data_mixture", "q149_mix_extraction")) {
      val wins = SparkEntry.queries(name)(spark, sf)
        .queryExecution.sparkPlan.collect { case w: WindowExec => w }
      assert(wins.nonEmpty, s"$name lost its windows — stale test")
      wins.foreach { w =>
        assert(w.partitionSpec.size >= 2 || boundedInput(w.child),
          s"$name: corpus-sized window partitioned by a single key " +
            s"(the round-7 scale-killer): ${w.simpleStringWithNodeId()}")
      }
    }
  }

  test("q129 variant: map-only extraction — no join, no window, " +
    "narrow scan") {
    val p = plan("q129_variant_path_stats")
    assert(!p.contains("Join") && !p.contains("Window"),
      s"variant path extraction must stay map-side:\n$p")
    val readSchema = p.linesIterator.filter(_.contains("ReadSchema"))
      .mkString("\n")
    assert(readSchema.nonEmpty && !readSchema.contains("value:"),
      s"untouched columns (value) must be pruned from the scan:\n$readSchema")
  }

  test("Trace plans: each section is its query's formatted explain") {
    import org.apache.spark.sql.execution.FormattedMode
    val names = Seq("q01_flagship_us_customers", "q02_pricing_summary")
    val sections = Trace.plans(spark, sf, names).split("\n## ").toSeq.tail
    assert(sections.map(_.takeWhile(_ != '\n')) === names)
    sections.zip(names).foreach { case (section, name) =>
      val body = section.substring(section.indexOf("```\n") + 4,
        section.lastIndexOf("```"))
      assert(Trace.masked(body) === Trace.masked(
        SparkEntry.query(name)(spark, sf)
          .queryExecution.explainString(FormattedMode)))
    }
    val indexed = Trace.plans(spark, sf, Seq("q96_pq_topk"))
    assert(indexed.contains("/fp=<fp>"), indexed)
    assert("fp=[0-9a-f]{32}".r.findFirstIn(indexed).isEmpty, indexed)
    // a localCheckpoint scan names its call site without a line number
    val pinned = Trace.plans(spark, sf, Seq("q157_media_neardup"))
    assert(pinned.contains("at localCheckpoint at "), pinned)
    assert("\\.scala:\\d+".r.findFirstIn(pinned).isEmpty, pinned)
    // two regenerations of the same tree write the same text
    val twice = Seq("q01_flagship_us_customers", "q96_pq_topk")
    assert(Trace.plans(spark, sf, twice) === Trace.plans(spark, sf, twice))
  }
}
