package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent,
  SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.{GraftBridge, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, QueryExecution,
  ReusedSubqueryExec, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.util.QueryExecutionListener

/** Dev tool: what a declared query costs and which plan it runs — the
  * Spark UI's job and SQL tabs for a headless box.
  *
  * `runMain graft.Trace <dir[,dir..]> <query>...` runs every (dir,
  * query) pair three times in one JVM. Run 1 is a `count()`: it gives
  * `rows` and `first_sec`, and absorbs JIT, parquet-footer caches and
  * any IndexStore artifact build for the fixture, none of which is the
  * query's steady-state cost. Runs 2–3 go through the noop sink, which
  * evaluates every output expression where `count()` lets Catalyst
  * prune them; `warm_sec` is their min. For the last run it prints
  * every job's seconds, SQL execution id, operation scope and callsite
  * — eager construction work (localCheckpoint materializations, model
  * collects, IndexStore reads) runs as jobs the final plan never shows
  * — and the executed plan with each node's SQL metrics. A JSON line
  * closes each pair.
  *
  * `runMain graft.Trace plans <out.md> <dir> [query...]` writes the
  * formatted physical plans of the named queries, or of [[headline]]
  * when none are named, at local[4]; `PLANS.md` is its output on
  * sf0.001. Each plan goes through [[masked]], so two runs over the
  * same tree write the same file. */
object Trace {

  /** The queries PLANS.md covers, each with what its plan evidences. */
  val headline: Seq[String] = Seq(
    "q01_flagship_us_customers", // bcast dim join + pushed filter
    "q02_pricing_summary",       // 2-key hash agg over the fact table
    "q18_latest_event_per_user", // latest-per-key
    "q30_minhash_pairs",         // LSH band equi-join + exact verify
    "q33_jaccard_pairs",         // inverted index pair generation
    "q31_topk_cosine",           // broadcast query vectors + codegen dot
    "q22_profile_lineitem",      // exact profile, two-level aggs, no Expand
    "q42_profile_sketch",        // mergeable sketch profile (no Expand)
    "q78_length_outliers",       // broadcast threshold join
    "q79_lang_source_pivot",     // pinned pivot single pass
    "q81_sequence_packing",      // sharded rows-frame running sum
    "q93_quantized_topk",        // SQ8 codes, broadcast queries
    "q96_pq_topk",               // bcast-LUT scan, one qid exchange
    "q38_ivf_topk",              // probe side pinned as build side
    "q104_gopher_repetition",    // in-row folds: no Generate, no agg
    "q105_zorder_keys",          // normalized Morton + TakeOrdered
    "q107_simhash_hamming",      // codegen-expr sigs, pigeonhole band join
    "q108_bm25_topk",            // persisted postings scan, bcast df/stats
    "q116_cdc_merge",            // broadcast touched-key anti join
    "q118_skew_replicated_join", // semi/anti split + broadcast heavy leg
    "q120_equidepth_histogram",  // bounded two-pass boundaries, bcast
    "q124_hourly_gapfill",       // calendar spine, corpus work = one agg
    "q127_unpivot_flag_metrics", // Expand above the pre-agg, one scan
    "q128_set_reconciliation",   // hash-distinct + semi/anti, id exchange
    "q129_variant_path_stats",   // parse_json once, map-only extraction
    "q130_bloom_point_lookup",   // bloom-pruned file set + isin probe
    "q131_mv_rollup_serve",      // MV-served rollup: artifact scan only
    "q132_multiprobe_topk",      // broadcast probe set onto index join
    "q133_global_sequence",      // range-shuffled, window-free numbering
    "q134_copurchase_triangles", // in-row pairs, compact-forward close
    "q135_cohort_retention",     // pre-distinct pairs, no countDistinct
    "q136_funnel_stages",        // bounded earliest-k heap + fold
    "q137_association_rules",    // 3 partial aggs + item-sized join
    "q138_event_transitions",    // day-fold + boundary stitch
    "q144_pq_rerank_topk",       // q96 ADC tail, cut, bcast exact refine
    "q145_ivf_adc_topk",         // probed-cell ADC + refine
    "q146_prefix_jaccard_pairs", // prefix postings + exact verify
    "q147_residual_ivf_adc_topk",// per-(q,cell) residual LUT + refine
    "q149_mix_extraction",       // two-pass (source, shard) cutoff
    "q150_ivf_multiprobe_topk",  // boosted probe set, scaled refine cut
    "q151_curation_mix_pipeline",// gates+dedup+split+waterfill+extract
    "q156_media_exact_dups",     // one hash shuffle, keep-first join
    "q157_media_neardup",        // block postings, df-capped self-join
    "q158_ivf_adaptive_topk",    // margin-adaptive probes, fixed refine
    "q170_raster_admission_decision", // partial-agg min_by decision face
    "q175_mixed_corpus_admission") // container-agnostic corpus index gate

  /** One job of a traced run. A job inside a SQL execution — AQE
    * query-stage and broadcast jobs included, which Spark submits from
    * its own stage-materialization threads — is labelled with the call
    * site of the action that started the execution; `scope` names what
    * the job computes (the operation scope of its final stage's last
    * RDD, e.g. `Exchange`, `BroadcastExchange`). */
  final case class Job(id: Int, sec: Double, callsite: String,
      executionId: Option[Long], scope: Option[String])

  /** One traced (dir, query) pair: `noopSec` holds runs 2–3, `jobs` and
    * `plan` (the executed plan with SQL metrics) come from the last. */
  final case class Result(query: String, dir: String, rows: Long,
      firstSec: Double, noopSec: Seq[Double], jobs: Seq[Job], plan: String) {
    def warmSec: Double = noopSec.min
    def json: String =
      s"""{"probe":"scale","query":"$query","dir":"$dir",""" +
        s""""warm_sec":$warmSec,"first_sec":$firstSec,"rows":$rows,""" +
        s""""jobs":${jobs.size}}"""
    def report: Seq[String] =
      Seq(s"== $query @ $dir", f"  run 1 count: $firstSec%.2f s, $rows rows") ++
        noopSec.zipWithIndex.map { case (s, i) => f"  run ${i + 2} noop: $s%.2f s" } ++
        Seq(s"  last run: ${jobs.size} jobs") ++
        jobs.map(j => f"  job ${j.id}%4d  ${j.sec}%6.3f s  " +
          j.executionId.fold("")(e => s"exec $e  ") +
          j.scope.fold("")(sc => s"$sc  ") + j.callsite) ++
        Seq("  executed plan:", plan.stripSuffix("\n"), json)
  }

  def run(spark: SparkSession, dir: String, name: String): Result = {
    val q = SparkEntry.query(name)
    val starts = new ConcurrentHashMap[Int, (Long, Job)]()
    val jobs = new ConcurrentLinkedQueue[Job]()
    // SQL execution id → call site of the action that started it
    val actions = new ConcurrentHashMap[Long, String]()
    // df.write runs its own QueryExecution (the noop command), so the
    // metrics live there, not on the DataFrame's plan
    @volatile var lastQe: QueryExecution = null
    val jobListener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case x: SparkListenerSQLExecutionStart =>
          actions.put(x.executionId, x.description)
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        val props = Option(js.properties)
        val exec = props
          .flatMap(p => Option(p.getProperty(SQLExecution.EXECUTION_ID_KEY)))
          .map(_.toLong)
        val site = exec.flatMap(e => Option(actions.get(e)))
          .orElse(props.flatMap(p => Option(p.getProperty("callSite.short"))))
          .orElse(js.stageInfos.lastOption.map(_.name))
          .getOrElse("?")
        val scope = js.stageInfos.maxByOption(_.stageId)
          .flatMap(_.rddInfos.maxByOption(_.id))
          .flatMap(GraftBridge.scopeName)
        starts.put(js.jobId, (js.time, Job(js.jobId, 0, site, exec, scope)))
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        Option(starts.remove(je.jobId)).foreach { case (t0, job) =>
          jobs.add(job.copy(sec = (je.time - t0) / 1e3))
        }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = lastQe = qe
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    def seconds(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      var rows = 0L
      val first = seconds { rows = q(spark, dir).count() }
      val noop = (2 to 3).map { _ =>
        // events of the previous run are all delivered: what the
        // listeners see from here on is this run's
        GraftBridge.drainListenerBus(spark)
        jobs.clear()
        lastQe = null
        seconds(q(spark, dir).write.mode("overwrite").format("noop").save())
      }
      GraftBridge.drainListenerBus(spark)
      Result(name, dir, rows, first, noop, jobs.asScala.toSeq.sortBy(_.id),
        Option(lastQe).fold("")(qe => metricsTree(qe.executedPlan)))
    } finally {
      spark.listenerManager.unregister(qeListener)
      spark.sparkContext.removeSparkListener(jobListener)
    }
  }

  /** The plan tree, one node a line, with each node's nonzero rows,
    * time, bytes, spill and peak-memory metrics. */
  def metricsTree(root: SparkPlan): String = {
    def fmt(v: Long, unit: String): String = unit match {
      case "size"     => f"${v / 1048576.0}%.1fMB"
      case "timing"   => f"${v / 1000.0}%.2fs"
      case "nsTiming" => f"${v / 1e9}%.2fs"
      // "average" SQLMetrics encode sum/count internally — the raw
      // long is NOT the average, so label it instead of printing a
      // number that reads like one (SQLMetrics.stringValue is
      // private to Spark here)
      case "average"  => s"$v(avg-encoded)"
      case _          => if (v >= 1000000) f"${v / 1e6}%.1fM" else v.toString
    }
    val sb = new StringBuilder
    def walk(p: SparkPlan, depth: Int): Unit = {
      val interesting = p.metrics.toSeq.filter { case (k, m) =>
        m.value > 0 && (k == "numOutputRows" || Seq("time", "bytes",
          "size", "spill", "duration", "records", "peak", "rowsoutput")
          .exists(k.toLowerCase.contains))
      }.sortBy(_._1).map { case (k, m) =>
        s"$k=${fmt(m.value, m.metricType)}"
      }.mkString(" ")
      sb.append("  " * depth).append(p.nodeName).append("  ")
        .append(interesting).append('\n')
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case s: QueryStageExec => Seq(s.plan)
        case r: ReusedSubqueryExec => Seq(r.child)
        case _ => p.children ++ p.subqueries
      }
      kids.foreach(walk(_, depth + 1))
    }
    walk(root, 1)
    sb.toString
  }

  /** Markdown with one `## <query>` section per name, each holding the
    * query's `explain("formatted")` output. */
  def plans(spark: SparkSession, dir: String, names: Seq[String]): String = {
    val sb = new StringBuilder
    sb.append("# PLANS — formatted physical plans of declared queries\n\n")
    sb.append(s"Generated by `graft.Trace plans` at ${spark.sparkContext.master} on " +
      s"${Paths.get(dir).getFileName} (plan shape is\n")
    sb.append("scale-independent). What to look for: `PushedFilters` and\n")
    sb.append("narrow `ReadSchema` at every parquet scan, `BroadcastHashJoin`\n")
    sb.append("on dimension/threshold sides, `WholeStageCodegen` spans over\n")
    sb.append("the hot paths, partial aggregation before every Exchange, and\n")
    sb.append("no CartesianProduct anywhere (machine-checked in PlanSpec).\n")
    names.foreach { name =>
      val df = SparkEntry.query(name)(spark, dir)
      sb.append(s"\n## $name\n\n```\n")
      sb.append(masked(df.queryExecution.explainString(FormattedMode)))
      sb.append("```\n")
    }
    sb.toString
  }

  /** A formatted plan with what moves between two builds of the same
    * plan masked: expression ids and plan ids (fresh per DataFrame
    * build), an IndexStore location's fingerprint (it covers the
    * fixture files' mtimes), the folded `current_timestamp()` literal,
    * JVM lambda and object hashes, RDD ids (a localCheckpoint's RDD is
    * numbered by the SparkContext's RDD counter) and the source line of
    * an RDD's call site (it moves with any edit above the call). */
  def masked(plan: String): String = plan
    .replaceAll("#\\d+", "#N")
    .replaceAll("plan_id=\\d+", "plan_id=N")
    .replaceAll("fp=[0-9a-f]{32}", "fp=<fp>")
    .replaceAll("\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}(\\.\\d+)? AS ",
      "<now> AS ")
    .replaceAll("\\$\\$Lambda[^@\\s]*", "\\$\\$Lambda")
    .replaceAll("@[0-9a-f]+\\b", "@<hash>")
    .replaceAll("RDD\\[\\d+\\]", "RDD[N]")
    .replaceAll("\\.scala:\\d+", ".scala:N")

  def main(args: Array[String]): Unit = args.toList match {
    case "plans" :: out :: dir :: names =>
      val spark = Session(cores = Some(4))
      try {
        val qs = if (names.isEmpty) headline else names
        Files.writeString(Paths.get(out), plans(spark, dir, qs))
        println(s"wrote $out (${qs.size} plans)")
      } finally spark.stop()
    case dirs :: names if names.nonEmpty =>
      names.foreach(SparkEntry.query) // a typo fails before any run
      val spark = Session()
      try for (dir <- dirs.split(",").toSeq; name <- names)
        run(spark, dir, name).report.foreach(println)
      finally spark.stop()
    case _ => sys.error("usage: Trace <dir[,dir..]> <query>... | " +
      "Trace plans <out.md> <dir> [query...]")
  }
}
