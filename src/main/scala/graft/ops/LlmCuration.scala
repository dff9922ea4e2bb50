package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout,
  OutputMode}
import graft.Tables
import graft.observe.{ArtifactSpec, Decomp, IndexStore}
import graft.functions.GraftFx

/** The CURATION families of [[Llm]], split along the file's stable
  * seams (r11 verdict task 5 — a pure move, no semantic change; the
  * public surface stays `Llm.*` via the mixin): leakage-safe splits,
  * sequence packing and chunking, mixture construction, the
  * water-filling planner and its extraction/shard sinks, the
  * mix-admission gates (batch + streaming), the curated end-to-end
  * chain, and the mix-analytics reports. The gate ROW/STATE case
  * classes and the `transformWithState` processor stay in
  * [[Llm]]'s object body: Spark encoder derivation and executor
  * serialization need static (object-owned) classes, not
  * trait-inner ones. */
trait LlmCurationOps extends LlmAnnOps {
  /** Deterministic train/val/test split assignment by multiplicative
    * hash sharding — the reproducible alternative to rng sampling for
    * training-data splits: the same doc lands in the same split on any
    * engine, any run, any partitioning. Overflow-safe Knuth
    * multiplicative hash ([[graft.functions.TopK.knuthHash]] — defined
    * for the full 64-bit id range) mod 100 → 80/10/10. Pure projection
    * + one small aggregation. */
  def splitAssignment(s: SparkSession, dir: String): DataFrame =
    Llm.docs(s, dir)
      .withColumn("bucket",
        pmod(graft.functions.TopK.knuthHash(col("doc_id")), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("lang"), col("split"))

  /** Contiguous global sequence assignment (exact `row_number() OVER
    * (ORDER BY doc_id)` semantics) WITHOUT the single-partition window
    * — the id-assignment primitive a training pipeline needs to index
    * samples, and the classic global-sort trap: an unpartitioned
    * window funnels 100 TB through ONE task, while
    * `monotonically_increasing_id` is non-contiguous and
    * partitioning-dependent. The scalable shape is two passes over an
    * id-width projection: (1) ONE range shuffle
    * (`repartitionByRange` + in-partition sort — Spark samples range
    * boundaries, every partition sorts in parallel), paid once via
    * `localCheckpoint`; (2) a column-pruned per-partition count (tiny
    * aggregate, O(partitions) rows) whose driver-side running sum
    * becomes the broadcast offset table; (3) a map-only
    * `mapPartitions` adds `offset(pid) + local position`. The result
    * is INVARIANT to the sampled boundaries — ranges are contiguous
    * and disjoint, so offset + sorted local position IS the global
    * rank wherever the cuts land — which is what makes the
    * nondeterministic sampler safe to use under a deterministic
    * contract. `mapPartitions` is the honest tool here (a running
    * counter is genuinely per-partition imperative state — a window
    * partitioned by pid would re-shuffle the corpus a second time);
    * the derived training shard (`(seq-1) / 1000`) is the use case:
    * stable, dense shard files. */
  def globalSequence(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val ranged = Llm.docs(s, dir)
      .select(col("doc_id"), col("lang"))
      .repartitionByRange(col("doc_id"))
      .sortWithinPartitions(col("doc_id"))
      .localCheckpoint() // pay the range shuffle once: count + assign
    val counts = ranged
      .groupBy(spark_partition_id().as("pid"))
      .agg(count(lit(1)).as("n"))
      .collect() // O(partitions) rows — a metadata-sized action
      .map(r => r.getInt(0) -> r.getLong(1)).sortBy(_._1)
    val offsets: Map[Int, Long] =
      counts.map(_._1).zip(
        counts.map(_._2).scanLeft(0L)(_ + _)).toMap
    val bcOffsets = s.sparkContext.broadcast(offsets)
    ranged.as[(Long, String)]
      .mapPartitions { it =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        var seq = bcOffsets.value.getOrElse(pid, 0L)
        it.map { case (id, lang) => seq += 1; (id, lang, seq) }
      }
      .toDF("doc_id", "lang", "seq")
      .withColumn("shard", expr("(seq - 1) div 1000"))
      .orderBy(col("doc_id"))
  }

  /** Packing parallelism: one packing stream per host core (floored at
    * 8), instead of a fixture-tuned 8. The shard count changes WHICH
    * bin each doc lands in, so the DuckDB oracle must agree — both the
    * Spark plan and the oracle SQL embed this same value (they are
    * generated in the same JVM and executed on the same host). On a
    * real cluster this would be pinned to executor parallelism via
    * config; the derivation here is what makes the sort partitions
    * scale with the machine rather than staying 8 forever. */
  private[graft] val packingShards: Int =
    math.max(8, Runtime.getRuntime.availableProcessors())

  /** Sequence packing (the tokenize→concat→chop step of training-data
    * prep): documents are concatenated per (lang, shard) stream in
    * doc_id order and chopped into fixed 512-token bins; each doc
    * reports its stream offset and the bin its first token lands in.
    * The running sum is a rows-frame window per (lang, shard) — the
    * shard (an overflow-safe Knuth hash, [[packingShards]]-way) is what
    * makes this 100 TB-safe: packing is embarrassingly parallel across
    * shards, so no partition sees more than corpus/shards·|langs| rows,
    * and the shard count scales with the host's parallelism instead of
    * a fixture constant. Packing quality is unaffected — bins never
    * span shards by design, exactly like per-worker packing in a real
    * tokenizer pipeline. */
  def sequencePacking(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("lang"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Llm.docs(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("bigint"))
      .withColumn("shard",
        pmod(graft.functions.TopK.knuthHash(col("doc_id")), lit(packingShards)))
      .withColumn("end_off", sum(col("n_tok")).over(w))
      .select(col("doc_id"), col("lang"), col("shard"), col("n_tok"),
        (col("end_off") - col("n_tok")).as("start_off"),
        floor((col("end_off") - col("n_tok")) / lit(512)).cast("bigint")
          .as("bin_id"))
      .orderBy(col("doc_id"))
  }

  /** Metadata-filtered vector search (X3's hybrid flavor): top-k cosine
    * over only the candidates whose document metadata passes a
    * relational predicate (lang = 'en') — the "filtered ANN" query
    * every vector store grows. PRE-filter strategy: the metadata join
    * shrinks the candidate side BEFORE any distance math (at 100 TB:
    * the predicate pushes into the partitioned vector table and the
    * rank stage scans selectivity × corpus, never the corpus); the
    * POST-filter alternative ranks first and re-filters, which
    * under-fills k whenever the predicate is selective. */
  def filteredTopk(s: SparkSession, dir: String): DataFrame = {
    val e = vectors(s, dir)
    val meta = Llm.docs(s, dir).filter(col("lang") === "en")
      .select(col("doc_id").as("vec_id"))
    val q = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    e.join(meta, "vec_id")
      .crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("qid"))
      .withColumn("cos", dot(col("v"), col("qv")) / (col("nrm") * col("qn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select(col("qid"), col("rank").cast("bigint").as("rank"), col("vec_id"),
        round(col("cos"), 6).as("cos"))
      .orderBy(col("qid"), col("rank"))
  }

  /** Document chunking (RAG / context-window prep): split each doc into
    * 64-token windows with stride 32 (50% overlap), emitting per-chunk
    * token counts and an md5 content fingerprint rather than the chunk
    * text itself (the fingerprint is what chunk-level dedup consumes,
    * and it keeps the relation narrow). Start offsets come from a
    * per-row `sequence(...)` + `explode` — map-only, no shuffle; the
    * bound `greatest(n - 32, 1)` guarantees the tail window always
    * covers the last token. */
  def docChunks(s: SparkSession, dir: String): DataFrame =
    docChunksIdx(s, dir)
      .select(col("doc_id"), col("chunk_id"), col("chunk_tokens"),
        col("chunk_md5"))
      .orderBy(col("doc_id"), col("chunk_id"))

  /** Chunk rows of an arbitrary documents frame — the map-only
    * tokenize+fingerprint pass shared by chunking (q84) and chunk
    * dedup (q89). */
  protected def chunksOf(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n", size(col("ws")).cast("bigint"))
      .withColumn("start",
        explode(expr("sequence(1L, greatest(n - 32L, 1L), 32L)")))
      .select(
        col("doc_id"),
        expr("(start - 1) div 32").cast("bigint").as("chunk_id"),
        least(lit(64L), col("n") - col("start") + 1).as("chunk_tokens"),
        md5(expr("concat_ws(' ', slice(ws, int(start), 64))")).as("chunk_md5"))

  /** The chunk relation, persisted per corpus state via
    * [[graft.observe.IndexStore]] — tokenize+md5 is the dominant CPU of
    * the chunk family, and q84 (chunk report) and q89 (chunk dedup)
    * consume the identical relation, so the corpus is tokenized ONCE
    * per warehouse state, not once per query (the round-3 verdict's
    * double-tokenize nit). Chunk rows are per-doc and append-monotone,
    * so a pure corpus append chunks only the added files; per-doc
    * rows never span source files → file-decomposable → SEGMENTED
    * (E157), so a takedown excises the touched segments instead of
    * re-chunking the corpus. */
  private[graft] val docChunksSpec: ArtifactSpec = ArtifactSpec(
    "doc_chunks", 1, "documents", Decomp.Segmented((s, _) =>
      files => chunksOf(Tables.scan(s, files)
        .repartition(s.sparkContext.defaultParallelism))))

  protected def docChunksIdx(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, docChunksSpec, dir)

  /** Sequence-level (chunk-granular) dedup: the fraction of each
    * document's 64-token chunks whose fingerprint also occurs in some
    * OTHER document — the practical approximation of substring dedup
    * ("Deduplicating Training Data Makes Language Models Better", Lee
    * et al., ACL 2022, public algorithm family; exact suffix-array
    * dedup is its heavyweight sibling). Doc-level dedup (q29/q30)
    * misses a unique doc quoting a duplicated passage; this catches it
    * at chunk granularity.
    *
    * Plan: chunks come from the PERSISTED [[docChunksIdx]] artifact
    * (tokenize+md5 paid once per corpus state, shared with q84; both
    * consumers here are plain parquet scans of 16 B keys); one
    * aggregation keyed by chunk_md5 builds (fingerprint →
    * distinct-doc count); a second aggregation folds the per-chunk dup
    * flags to per-doc ratios. At 100 TB both stages are partial-agg
    * friendly, and the md5 key space spreads uniformly (no skew salt
    * needed). */
  def chunkDedup(s: SparkSession, dir: String): DataFrame = {
    val chunks = docChunksIdx(s, dir)
      .select(col("doc_id"), col("chunk_md5"))
    val docsPerChunk = chunks.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
    chunks.join(docsPerChunk, "chunk_md5")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("n_docs") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .withColumn("dup_ratio",
        round(col("n_dup_chunks") / col("n_chunks"), 6))
      .filter(col("n_dup_chunks") > 0)
      .select(col("doc_id"), col("n_chunks"), col("n_dup_chunks"),
        col("dup_ratio"))
      .orderBy(col("doc_id"))
  }

  /** Global per-source running token sum in doc_id order — the shared
    * cumulative-cutoff engine of [[dataMixture]] (q85) and
    * [[mixExtraction]] (q149), built with the q120/E126 two-pass
    * sharded discipline instead of a `Window.partitionBy(source)`
    * full-history sort. The naive window funnels a source's ENTIRE
    * corpus slice through one task's sort — sources are the most
    * concentrated key in a training corpus (one crawl source can hold
    * tens of TB), so at 100 TB that is a one-task multi-TB spill-sort.
    *
    * Pass structure: (1) the slim (source, doc_id, n_tok) projection
    * is RANGE-partitioned on (source, doc_id) — doc_id-CONTIGUOUS runs
    * per shard, skew-adaptive via the range sampler — and
    * `localCheckpoint()`ed (eager, lineage-truncating: the range
    * sampler is not replay-stable, so a lost block must fail loudly
    * rather than resample into a different shard layout under the
    * shard-keyed offsets — the q120 replay-stability discipline);
    * (2) per-(source, shard) token totals fold to O(sources × shards)
    * rows, and a bounded prefix-sum window over that AGGREGATE
    * (ordered by shard id — shard order IS doc_id order within a
    * source under range partitioning) yields each shard's starting
    * offset; (3) the running sum windows over (source, shard) — every
    * window partition is ONE range shard of one source, bounded by
    * ~corpus/shards regardless of source skew — and the broadcast
    * offset join lifts it to the exact global per-source cumulative
    * sum. Semantics are IDENTICAL to the single-partition window
    * (shards are doc_id-contiguous), so the DuckDB oracles need no
    * change; only the checkpointed slim projection (3 narrow columns,
    * never the text) is materialized. */
  private[graft] def cumTokensBySource(
      s: SparkSession, dir: String): DataFrame =
    cumBySourceOf(Llm.docs(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("bigint")))

  /** [[cumTokensBySource]] over an EXPLICIT (source, doc_id, n_tok)
    * frame — the composable form [[curationMixPipeline]] chains over
    * the curated-train subset. */
  private[graft] def cumBySourceOf(slimIn: DataFrame): DataFrame = {
    val slim = slimIn
      .select(col("source"), col("doc_id"), col("n_tok"))
      .repartitionByRange(col("source"), col("doc_id"))
      .withColumn("shard", spark_partition_id())
      .localCheckpoint()
    val wOff = Window.partitionBy(col("source")).orderBy(col("shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = slim
      .groupBy(col("source"), col("shard"))
      .agg(sum(col("n_tok")).as("shard_tok"))
      .select(col("source"), col("shard"),
        coalesce(sum(col("shard_tok")).over(wOff), lit(0L)).as("off"))
    val wLoc = Window.partitionBy(col("source"), col("shard"))
      .orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    slim
      .join(broadcast(offsets), Seq("source", "shard"))
      .withColumn("cum", col("off") + sum(col("n_tok")).over(wLoc))
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))
  }

  /** Data-mixture construction: take documents per source in doc_id
    * order until a 5 000-token budget is filled — the "N tokens of
    * source X" recipe step of corpus mixing. The running total comes
    * from the sharded two-pass [[cumTokensBySource]] (no
    * single-task-per-source sort); output is the per-source take
    * summary. */
  def dataMixture(s: SparkSession, dir: String): DataFrame =
    cumTokensBySource(s, dir)
      .filter(col("cum") <= 5000)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), max(col("cum")).as("tokens_taken"))
      .orderBy(col("source"))

  /** The (source, token) → count relation underlying ALL mix
    * analytics (q139 KL, q140 token-mass weights, q141 vocab stats,
    * q143 report, the streaming monitor's batch face) — of an
    * arbitrary documents frame. The ONE corpus-sized shuffle of the
    * family. */
  protected def sourceTokenCountsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .select(col("source"), explode(split(col("text"), " ")).as("token"))
      .groupBy(col("source"), col("token"))
      .agg(count(lit(1)).as("c_st"))

  /** [[sourceTokenCountsOf]] PERSISTED via [[graft.observe.IndexStore]]
    * as a partial-aggregate snapshot chain (the E72/E74 discipline the
    * round-6 verdict asked this family to adopt): counts are algebraic
    * (SUM-mergeable), so a pure corpus append tokenizes ONLY the added
    * files and writes their partial counts as a delta segment —
    * `merge(old ∪ delta) ≡ full rebuild` exactly. The corpus explode —
    * the dominant cost of every mix query at 100 TB — is paid once per
    * document ever; segments may repeat a (source, token) key, so
    * every reader goes through [[sourceTokenCounts]], which folds the
    * chain with one vocab-sized re-aggregation. */
  private[graft] def sourceTokenCountsIdx(
      s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, sourceTokenCountsSpec, dir)

  // file-decomposable (counts SUM-fold across segments), so the
  // segmented store also EXCISES on deletion: a source takedown
  // re-tokenizes only the deleted files' segments, never the corpus
  private[graft] val sourceTokenCountsSpec: ArtifactSpec = ArtifactSpec(
    "source_token_counts", 1, "documents", Decomp.Segmented((s, _) =>
      files => sourceTokenCountsOf(Tables.scan(s, files)
        .repartition(s.sparkContext.defaultParallelism))))

  /** Chain-merged read face of the persisted mix-count artifact: one
    * partial-agg fold of the (vocab × sources)-sized chain — never a
    * corpus scan. */
  private[graft] def sourceTokenCounts(
      s: SparkSession, dir: String): DataFrame =
    sourceTokenCountsIdx(s, dir)
      .groupBy(col("source"), col("token"))
      .agg(sum(col("c_st")).as("c_st"))

  /** Water-filling round budget — mirrored EXACTLY by the oracle's
    * unrolled CTE chain (the kmeansMaxIters discipline): each round
    * caps every source whose water level exceeds its availability and
    * redistributes the surplus over the uncapped; a round that caps
    * nothing is the fixpoint and further rounds are no-ops, so both
    * engines agree as long as the true cascade is ≤ this deep (each
    * round caps ≥ 1 source, so 8 covers an 8-source-deep cascade —
    * the fixture needs 2). */
  private[graft] val waterfillRounds = 8

  /** q148: token-budget WATER-FILLING allocation — the mix-PLANNING
    * step that turns q140's α-temperature weights into an executable
    * sampling plan under finite data (the data-constrained regime,
    * Muennighoff et al. 2023): source s wants weight_s · T tokens of
    * a total budget T, but may hold fewer; capped sources contribute
    * everything they have and the surplus water-fills the rest
    * proportionally to their weights, iterating because each
    * redistribution can push new sources past their availability.
    *
    * Scale shape: per-source token masses fold out of the persisted
    * [[sourceTokenCounts]] chain (no corpus scan); the waterfill is
    * O(sources × rounds) DRIVER arithmetic — the model-loop
    * discipline (BPE merges, Lloyd steps), corpus-size-independent.
    * INTEGER-EXACT cross-engine: weights are the q140 floor-sqrt ± 1
    * integers, water levels are BigInt cross-multiply-floor-divs
    * (driver side never overflows; the oracle's BIGINT stays inside
    * 64 bits at fixture scale), the budget is the derived
    * ⌊19·total/20⌋ — chosen so the fixture exercises BOTH classes
    * (2 of 20 sources cap, 2 cascade rounds). */
  /** The computed waterfill plan, one row per source:
    * (source, n_tokens, weight_micro, alloc_tokens, capped 0/1) —
    * shared by the plan report (q148) and the extraction (q149). */
  protected def waterfillPlan(
      s: SparkSession, dir: String): Seq[(String, Long, Long, Long, Long)] = {
    val sess = s
    import sess.implicits._
    // per-source masses off the RAW chain (sum is associative over
    // repeated keys — the vocab-grain merge would be a wasted exchange)
    val availRows: Seq[(String, Long)] = sourceTokenCountsIdx(s, dir)
      .groupBy(col("source")).agg(sum(col("c_st")).as("n_tokens"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    waterfillOver(availRows)
  }

  /** The waterfill core over EXPLICIT per-source availabilities —
    * O(sources × rounds) driver arithmetic, corpus-size-independent;
    * shared by [[waterfillPlan]] (raw-corpus masses off the persisted
    * chain) and [[curationMixPipeline]] (curated-train masses). */
  protected def waterfillOver(
      availRows: Seq[(String, Long)]): Seq[(String, Long, Long, Long, Long)] = {
    val avail = availRows.toMap
    val total = availRows.map(_._2).sum
    val budget = total * 19L / 20L
    def isqrt(n: Long): Long = {
      val f = math.sqrt(n.toDouble).toLong
      if ((f + 1) * (f + 1) <= n) f + 1
      else if (f * f > n) f - 1 else f
    }
    val rt = availRows.map { case (src, n) => src -> isqrt(n) }.toMap
    val rtTotal = rt.values.sum
    var capped = Map.empty[String, Long]
    for (_ <- 0 until waterfillRounds) {
      val u = availRows.map(_._1).filterNot(capped.contains)
      val den = u.map(rt).sum
      // den == 0 (every source has zero tokens, so every rt is 0)
      // skips the cap test — mirroring the oracle's `den > 0` guard,
      // so the degenerate all-empty corpus yields rows on both engines
      // instead of an ArithmeticException here
      if (u.nonEmpty && den > 0) {
        val rem = budget - capped.valuesIterator.sum
        capped ++= u
          .filter(src => BigInt(rt(src)) * rem / den >= avail(src))
          .map(src => src -> avail(src))
      }
    }
    val uF = availRows.map(_._1).filterNot(capped.contains)
    val remF = budget - capped.valuesIterator.sum
    val denF = uF.map(rt).sum
    // Final allocation is CLAMPED at availability and the capped flag
    // derived from the clamp (alloc == avail), NOT from the round
    // loop's capped set: a cascade deeper than [[waterfillRounds]]
    // (each round caps ≥ 1 source, so only possible with more than
    // that many sources) then yields a conservative allocation —
    // the truncated rounds' surplus goes undistributed — but NEVER
    // an allocation above availability, and both engines clamp
    // identically. The invariant holds structurally at any depth.
    // denF == 0 ⇒ nothing left to water-fill (all-zero corpus):
    // allocation 0, same as the oracle's den-guarded CASE arm
    val alloc: Map[String, Long] = capped ++ uF.map(src =>
      src -> (if (denF > 0) (BigInt(rt(src)) * remF / denF).toLong
        .min(avail(src)) else 0L))
    availRows.map { case (src, n) =>
      (src, n,
        if (rtTotal > 0) (BigInt(rt(src)) * 1000000L / rtTotal).toLong
        else 0L,
        alloc(src), if (alloc(src) == n) 1L else 0L)
    }
  }

  def mixAllocation(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    waterfillPlan(s, dir)
      .toDF("source", "n_tokens", "weight_micro", "alloc_tokens", "capped")
      .orderBy(col("source"))
  }

  /** q149: allocation-driven EXTRACTION — executes the q148 plan:
    * per source, take documents in deterministic doc_id order while
    * the running token sum stays within the allocation (the q85
    * cumulative-cutoff shape, parameterized by the waterfill instead
    * of a flat constant), and report per-source fill. This is the
    * step that turns the mix plan into actual training shards.
    *
    * Scale shape: the plan is an O(sources) broadcast; the cumulative
    * cutoff rides the sharded two-pass [[cumTokensBySource]] — no
    * window partition ever holds more than one range shard of one
    * source, so a dominant crawl source costs shards-many bounded
    * sorts instead of one task's multi-TB sort — then one partial
    * aggregation. `fill_micro` = taken·10⁶ div alloc is integer-exact;
    * capped sources fill to ~10⁶ by construction, uncapped sources
    * fall short only by the tokens of the first document that did not
    * fit. */
  def mixExtraction(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val plan = waterfillPlan(s, dir)
      .toDF("source", "avail_tokens", "weight_micro", "alloc_tokens",
        "capped")
    // Conditional aggregation, NOT a pre-group filter: a STARVED
    // source (allocation smaller than its first document) must report
    // docs_taken = 0 / fill 0, not vanish from the plan-to-fill
    // report — the contract is one row per planned source.
    cumTokensBySource(s, dir)
      .join(broadcast(plan), "source")
      .groupBy(col("source"))
      .agg(
        count(when(col("cum") <= col("alloc_tokens"), lit(1)))
          .as("docs_taken"),
        coalesce(max(when(col("cum") <= col("alloc_tokens"), col("cum"))),
          lit(0L)).as("tokens_taken"),
        first(col("alloc_tokens")).as("alloc_tokens"),
        first(col("capped")).as("capped"))
      // fill stays in 64 bits while tokens_taken ≤ ~9.2·10¹² (the
      // micro product's Long bound — per-SOURCE allocations at 100 TB
      // sit well inside it; DuckDB's HUGEINT promotion is exact
      // regardless); a zero allocation reports fill 0, not a div-0
      .withColumn("fill_micro",
        when(col("alloc_tokens") > 0,
          expr("tokens_taken * 1000000L div alloc_tokens"))
          .otherwise(lit(0L)))
      .orderBy(col("source"))
  }

  // v2: in-file doc_id ordering became part of the artifact contract
  // (and the plan moved from a hashCode-folded version into the
  // fingerprint's md5 preimage). v3: the sink moved to the PARTITIONED
  // store layout (`data/source=…` dirs + zero-copy part links) — a v2
  // flat artifact must never be served through the partitioned reader.
  private[graft] val mixShardsSpec: ArtifactSpec = ArtifactSpec(
    "mix_shards", 3, "documents", shardsOf((s, dir) => Llm.docs(s, dir)
      .withColumn("n_tok", size(split(col("text"), " ")).cast("bigint"))))

  /** The curated sink: versioned with `mix_shards`, keyed on the
    * curated-train stage it cuts. */
  private[graft] val curatedMixShardsSpec: ArtifactSpec = ArtifactSpec(
    "curated_mix_shards", 3, "documents", shardsOf(curatedTrainSlim),
    Seq(curatedTrainSlimSpec))

  /** q152: the mix-extraction SHARD SINK — q149 reports fills; this
    * persists the admitted documents themselves as a durable,
    * content-addressed [[graft.observe.IndexStore]] artifact (the
    * observe-plane discipline applied to the engine's own training
    * output). Artifact identity = corpus fingerprint × PLAN
    * fingerprint (the per-source allocations fold into the version
    * component), so a corpus change OR a plan change re-extracts,
    * while a same-state re-run serves the finished shards from disk —
    * the resumability a multi-day 100 TB extraction needs. Rows are
    * written clustered by source (one source's admitted doc_id run
    * per file group), carrying (source, doc_id, n_tok, cum) so a
    * trainer can stream any source's shard in cutoff order without
    * re-sorting.
    *
    * Scale shape: the build is exactly q149's two-pass cumulative
    * cutoff ([[cumBySourceOf]]) plus the broadcast plan filter — no
    * new shuffle class; reads are plain parquet scans of the
    * artifact. LlmSpec pins extraction ≡ q149's reported fills and
    * the plan-change ⇒ new-fingerprint lifecycle. */
  def mixShards(s: SparkSession, dir: String): DataFrame =
    mixShardsWith(s, dir, waterfillPlan(s, dir))
      .orderBy(col("source"), col("doc_id"))

  /** [[mixShards]] against an EXPLICIT plan — the lifecycle test's
    * face: a changed allocation must move the artifact fingerprint.
    * (The select pins the column ORDER: the partitioned layout stores
    * `source` in the directory names, and a partition-inferred read
    * appends it last.) */
  private[graft] def mixShardsWith(s: SparkSession, dir: String,
      plan: Seq[(String, Long, Long, Long, Long)]): DataFrame =
    shardSink(s, mixShardsSpec, dir, plan)
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))

  /** Parse a [[shardSink]] plan key back to source → allocation. The
    * len-prefix makes the encoding injective AND parseable for any
    * source name; a malformed key yields None (→ the partitioned
    * store falls back to a full rebuild rather than guessing). */
  private[graft] def parsePlanKey(k: String): Option[Map[String, String]] =
    if (k.isEmpty) Some(Map.empty)
    else try {
      val m = scala.collection.mutable.Map.empty[String, String]
      var i = 0
      while (i < k.length) {
        val c = k.indexOf(':', i)
        val len = k.substring(i, c).toInt
        val src = k.substring(c + 1, c + 1 + len)
        require(k.charAt(c + 1 + len) == '=')
        var j = c + 2 + len
        while (j < k.length && k.charAt(j) != ',') j += 1
        m(src) = k.substring(c + 2 + len, j)
        i = j + 1
      }
      Some(m.toMap)
    } catch { case _: Exception => None }

  /** Sources whose allocation differs between two plan keys (present
    * in only one side counts as differing) — the `extraDiffParts`
    * hook of the partitioned shard sink. */
  private[graft] def diffPlanParts(
      a: String, b: String): Option[Set[String]] =
    for { ma <- parsePlanKey(a); mb <- parsePlanKey(b) } yield
      (ma.keySet ++ mb.keySet).filter(s => ma.get(s) != mb.get(s))

  /** The sink core shared by [[mixShards]] (raw corpus) and
    * [[curatedMixShards]] (q151's curated train): the cumulative
    * cutoff of `spec`'s slim relation at the plan's allocations, with
    * the PLAN folded into the content address. Plan identity: the
    * (source, allocation) pairs are the extraction's entire
    * parameterization — folded VERBATIM into the store's md5 preimage
    * (the read's `extra`), not squeezed into a 32-bit hashCode where a
    * collision would silently serve the PREVIOUS plan's finished
    * shards. Each source name is length-prefixed so the encoding is
    * INJECTIVE even for names containing ':' or ','. */
  protected def shardSink(s: SparkSession, spec: ArtifactSpec, dir: String,
      plan: Seq[(String, Long, Long, Long, Long)]): DataFrame =
    IndexStore.read(s, spec, dir,
      plan.map(p => s"${p._1.length}:${p._1}=${p._4}").mkString(","))

  /** A shard sink over `slimOf`'s (source, doc_id, n_tok) rows,
    * PARTITIONED by source. DELETE-AWARE at SOURCE granularity (r9
    * verdict task 6): the sink is
    * not file-decomposable — a source's cumulative cutoff spans every
    * input file carrying it — but it IS source-decomposable: a shard's
    * content depends only on (that source's rows, that source's
    * allocation). A takedown therefore re-extracts ONLY the sources
    * present in the deleted/added files plus the sources whose
    * allocation the new waterfill moved (capped sources keep
    * alloc = avail and survive untouched); every other source's file
    * group re-links zero-copy, byte-identical. The cumulative pass of
    * a partial rebuild filters `slim` to the touched sources FIRST —
    * per-source cutoffs are independent, so the recompute scans the
    * touched sources' rows, not the corpus. Each source's allocation
    * is parsed back from the plan key the read was keyed on. */
  private def shardsOf(slimOf: (SparkSession, String) => DataFrame): Decomp =
    Decomp.Partitioned("source", (s, dir, planKey) => parts => {
        val sess = s
        import sess.implicits._
        val pdf = parsePlanKey(planKey).getOrElse(Map.empty).toSeq
          .map { case (src, alloc) => (src, alloc.toLong) }
          .toDF("source", "alloc_tokens")
        // a partial rebuild scans the TOUCHED sources' rows only —
        // per-source cutoffs are independent, so the filter pushes
        // below the cumulative pass soundly
        val slim = slimOf(s, dir)
        val slimSel = parts.fold(slim)(ps =>
          slim.filter(col("source").isin(ps.toSeq: _*)))
        cumBySourceOf(slimSel)
          .join(broadcast(pdf), "source")
          .filter(col("cum") <= col("alloc_tokens"))
          .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))
          // cluster by source AND lay rows out in doc_id order inside
          // each file group: the artifact's contract is that a trainer
          // streams a source's shard in cutoff order WITHOUT
          // re-sorting, and a bare repartition's reduce task
          // interleaves its map blocks nondeterministically
          .repartition(col("source"))
          .sortWithinPartitions(col("source"), col("doc_id"))
      }, diffPlanParts)

  /** The STREAMING face of the mix extraction (q149/q152): gate a
    * crawler feed source-by-source against the waterfill allocation —
    * "keep ingesting source X until its mix budget fills", online.
    *
    * The crawler contract is per-source monotone doc_id delivery (ids
    * assigned at ingest). The gate ENFORCES it instead of assuming it:
    * per source, `flatMapGroupsWithState` state is two scalars (the
    * running token total over every in-contract document — the q149
    * cumulative semantics — and the max doc_id processed), the group
    * iterator is STREAMED (never materialized: the r8 gate's
    * `rows.toSeq.sortBy` put a dominant source's entire trigger slice
    * in one task's heap — the q149 single-task-per-source class one
    * layer up), and transport reordering WITHIN a delivery is absorbed
    * by a bounded min-heap of `reorderWindow` (doc_id, n_tok) pairs —
    * shuffle blocks from different input partitions interleave even
    * when every partition is in order. A document whose doc_id falls
    * at or below the max already processed — a replayed backlog, a
    * re-crawl, a duplicate, or a reorder deeper than the window —
    * routes to the `quarantine` output (the T5 discipline) with the
    * running total UNTOUCHED, so the admitted ledger never silently
    * mis-cumulates. Memory per task: O(reorderWindow) longs beyond the
    * two state scalars, regardless of trigger size — an AvailableNow
    * drain of a month's backlog holds the window, not the backlog.
    *
    * A BATCH frame is a corpus state, not a delivery: it has no
    * arrival order to enforce, and the grouped-state API would run it
    * one task per source. The batch face therefore IS the order-free
    * E140 two-pass cutoff (q149/q152's own plan — bounded partitions
    * at any source skew), producing the identical admitted ledger with
    * an empty quarantine; StreamingSpec pins streamed ≡ batch ≡ the
    * persisted q152 shards. */
  def mixGate(s: SparkSession, dir: String, incoming: DataFrame,
      reorderWindow: Int = 1024): Dataset[Llm.GateRow] = {
    // tokenize BEFORE grouping (the exact batch formula): the grouped
    // tuples carry three scalars, never the document text
    val slim = incoming
      .select(col("source"), col("doc_id").cast("long").as("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    gateWith(s, waterfillPlan(s, dir), slim, reorderWindow)
  }

  /** The gate core over an EXPLICIT plan and a slim
    * (source, doc_id, n_tok) frame — shared by [[mixGate]] (raw-corpus
    * waterfill) and [[curatedAdmission]] (curated-train waterfill).
    *
    * FULL-DRAIN CONTRACT (streaming face): like every
    * `flatMapGroupsWithState` operator, a group's state write is
    * persisted by Spark only when that group's output iterator is
    * drained to completion — a downstream operator that stops pulling
    * mid-trigger (e.g. a bare `limit` inside `foreachBatch`) abandons
    * the store commit for the rows it never pulled. The gate keeps
    * its own state exactly prefix-consistent (st.update rides every
    * step, so whatever Spark persists matches exactly the rows that
    * were emitted), but consumers must not truncate the gate's output
    * inside the micro-batch — sample AFTER the sink, not before it. */
  protected def gateWith(s: SparkSession,
      plan: Seq[(String, Long, Long, Long, Long)], slim: DataFrame,
      reorderWindow: Int, metricsName: String = "mix_gate"): Dataset[Llm.GateRow] = {
    import s.implicits._
    // An upstream plane may PRE-QUARANTINE rows (a true `quarantine`
    // column — e.g. [[curatedAdmission]]'s dedup order violations):
    // those pass straight to the quarantine output without touching
    // the gate's state or heap, so they ride the same output contract
    // and the same observedMetrics counter (E167) as the gate's own
    // contract violations. Callers without the column gate everything.
    val slimQ =
      if (slim.columns.contains("quarantine"))
        slim.select(col("source"), col("doc_id"), col("n_tok"),
          col("quarantine"))
      else slim.select(col("source"), col("doc_id"), col("n_tok"),
        lit(false).as("quarantine"))
    if (!slim.isStreaming) {
      val pdf = plan
        .toDF("source", "avail_tokens", "weight_micro", "alloc_tokens",
          "capped")
        .select(col("source"), col("alloc_tokens"))
      // the batch face honors a pre-quarantine column EXACTLY like the
      // streaming face (ADVICE r11): flagged rows divert to the
      // quarantine output and never touch the cumulative ledger — a
      // batch caller replaying a curated plane must not silently admit
      // rows the streaming plane would have quarantined. Callers
      // without the column keep the original single-branch plan.
      val admitted = cumBySourceOf(
        slimQ.filter(!col("quarantine"))
          .select(col("source"), col("doc_id"), col("n_tok")))
        .join(broadcast(pdf), "source")
        .filter(col("cum") <= col("alloc_tokens"))
        .select(col("source"), col("doc_id"), col("n_tok"), col("cum"),
          lit("admit").as("status"))
      val out =
        if (!slim.columns.contains("quarantine")) admitted
        else admitted.unionByName(
          slimQ.filter(col("quarantine"))
            .select(col("source"), col("doc_id"), col("n_tok"),
              lit(-1L).as("cum"), lit("quarantine").as("status")))
      out
        .observe(metricsName,
          count(when(col("status") === "quarantine", lit(1)))
            .as("quarantined"),
          count(when(col("status") === "admit", lit(1))).as("admitted"))
        .as[Llm.GateRow]
    } else {
      val alloc: Map[String, Long] = plan.map(p => p._1 -> p._4).toMap
      val bAlloc = s.sparkContext.broadcast(alloc)
      val w = math.max(reorderWindow, 0)
      slimQ
        .as[(String, Long, Long, Boolean)]
        .groupByKey(_._1)
        .flatMapGroupsWithState(
          OutputMode.Append, GroupStateTimeout.NoTimeout)(
          (source: String, rows: Iterator[(String, Long, Long, Boolean)],
              st: GroupState[Llm.GateState]) => {
            val a = bAlloc.value.getOrElse(source, 0L)
            val s0 = st.getOption.getOrElse(Llm.GateState(0L, Long.MinValue))
            var cum = s0.cum
            var maxId = s0.maxId
            val heap = new java.util.PriorityQueue[Array[Long]](
              w + 1, java.util.Comparator.comparingLong(
                (x: Array[Long]) => x(0)))
            def quarantined(id: Long, n: Long): Llm.GateRow =
              Llm.GateRow(source, id, n, -1L, "quarantine")
            // ids pop in ascending order, so a pop at or below maxId is
            // a duplicate whose twin already processed (both copies of
            // an in-window duplicate pass the insert check)
            // state writes ride EVERY step, not a lazy tail: a
            // downstream operator that stops pulling the group's
            // iterator mid-trigger (a limit in foreachBatch) would
            // silently skip a deferred final update and lose the
            // running total (ADVICE r9). st.update is an in-memory
            // field set until the store commits, so the per-step write
            // costs one small allocation — and leaves state consistent
            // with exactly the prefix that was processed, at every
            // prefix.
            def step(id: Long, n: Long): Iterator[Llm.GateRow] =
              if (id <= maxId) Iterator.single(quarantined(id, n))
              else {
                cum += n
                maxId = id
                st.update(Llm.GateState(cum, maxId))
                if (cum <= a)
                  Iterator.single(Llm.GateRow(source, id, n, cum, "admit"))
                else Iterator.empty
              }
            // lazy end to end: rows pull through the heap one at a
            // time, the drain empties it after the last row — nothing
            // holds the group slice
            val main = rows.flatMap { case (_, id, n, preQ) =>
              if (preQ) Iterator.single(quarantined(id, n))
              else if (id <= maxId) Iterator.single(quarantined(id, n))
              else {
                heap.add(Array(id, n))
                if (heap.size > w) {
                  val m = heap.poll(); step(m(0), m(1))
                } else Iterator.empty
              }
            }
            val drain = Iterator.continually(heap.poll())
              .takeWhile(_ != null)
              .flatMap(m => step(m(0), m(1)))
            main ++ drain
          })
        // QUARANTINE OBSERVABILITY (r9 verdict task 7): per-micro-batch
        // admit/quarantine counters ride the query's own
        // `observedMetrics` (a CollectMetrics node — map-side
        // accumulators, zero extra pass), so a contract-violating
        // crawler shows on the monitoring plane the moment its batch
        // commits, without anyone scanning the dead-letter output.
        .observe(metricsName,
          count(when(col("status") === "quarantine", lit(1)))
            .as("quarantined"),
          count(when(col("status") === "admit", lit(1))).as("admitted"))
        .as[Llm.GateRow]
    }
  }

  /** [[mixGate]]'s admitted ledger in the exact q152 shard layout —
    * the streamed twin of [[mixShards]]. Quarantined rows (contract
    * violations) are NOT silently dropped here: they exist on
    * [[mixGate]]'s own output under `status = quarantine` for the
    * caller's dead-letter sink; this view is only the clean ledger. */
  def mixAdmission(
      s: SparkSession, dir: String, incoming: DataFrame): Dataset[Llm.ShardRow] = {
    import s.implicits._
    mixGate(s, dir, incoming)
      .filter(col("status") === "admit")
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))
      .as[Llm.ShardRow]
  }

  /** Distinct md5 text hashes of the corpus, PERSISTED as a
    * content-addressed SEGMENTED artifact (`text_hashes`) — the
    * "already ingested" set the streaming exact-dedup plane anti-joins
    * against. File-decomposable as a SET (the union of per-file hash
    * sets IS the corpus hash set; a hash spanning two file windows
    * appears in both segments, so consumers must read the chain with
    * set semantics — `left_anti`/`left_semi` joins and `distinct`
    * folds, never row counts), so appends hash only the added files
    * and a takedown excises only the touched segments (E157). */
  private[graft] val textHashesSpec: ArtifactSpec = ArtifactSpec(
    "text_hashes", 1, "documents", Decomp.Segmented((s, _) =>
      files => Tables.scan(s, files)
        .select(md5(col("text")).as("h")).distinct()))

  private[graft] def corpusTextHashesIdx(
      s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, textHashesSpec, dir)

  /** The ONLINE face of the whole curated pipeline (q151/q154):
    * quality gates + exact-dedup admission + curated-mix admission
    * composed under ONE `readStream` — "crawl straight into the
    * curated training mix". Stage by stage, each in its streaming-safe
    * form:
    *
    *  - quality gates (q106 length/char-ratio pre-filter + q104
    *    Gopher repetition rules): pure per-row column math, map-only,
    *    stateless;
    *  - exact dedup (q29/q151 md5 keep-first), BOUNDED-STATE (the
    *    r9 verdict's task: the previous bare `dropDuplicates` kept one
    *    state row per distinct document FOREVER — O(corpus history)):
    *    two planes, neither corpus-sized. (1) A STREAM-STATIC
    *    anti-join against the persisted [[corpusTextHashesIdx]]
    *    artifact of `seenCorpus` (chain-served, takedown-excisable) —
    *    the E36/E41 discipline: cross-batch knowledge lives in the
    *    content-addressed artifact the warehouse maintains anyway,
    *    resolved at query start (a refreshed chain is picked up on
    *    restart — the standard stream-static contract), with ZERO
    *    streaming state. (2) `dropDuplicatesWithinWatermark` on
    *    the text hash over the feed's ingest clock — state holds only
    *    the hashes inside the watermark window (sized to cover the
    *    artifact-refresh lag), evicted as the watermark passes:
    *    O(window backlog), never O(corpus);
    *  - leakage-safe split (q55 deterministic Knuth-hash buckets):
    *    map-only filter on the surviving representative, train bucket
    *    only;
    *  - curated-mix admission: [[gateWith]] against the CURATED-train
    *    waterfill plan (q154's plan, not the raw-corpus one) — the
    *    [[mixGate]] discipline: two scalars of state per source, the
    *    bounded reorder heap, quarantine on contract violations.
    *
    * REPRESENTATIVE RULE (ADVICE r9, ENFORCED r11): the streaming
    * plane keeps the FIRST ARRIVAL of each novel hash — in append
    * mode an admitted document cannot be un-admitted, so no online
    * rule can retroactively prefer a later-arriving smaller doc_id.
    * The batch face keeps `min_by(doc_id)` (a batch frame has no
    * arrival order). The two agree exactly when duplicate-text
    * arrivals are globally doc_id-monotone — per-source monotonicity
    * (the crawler contract the gate enforces) plus cross-source
    * interleave of duplicate texts in doc_id order. That precondition
    * is now ENFORCED, not merely documented: the dedup plane's state
    * carries the kept representative's doc_id per in-window hash, and
    * a later duplicate arrival with a SMALLER doc_id — exactly the
    * arrival the batch ledger would have kept instead — QUARANTINES
    * (status = quarantine on the output, counted on the
    * `curated_gate` observedMetrics), so a cross-source
    * out-of-id-order interleave is loud at the moment it happens
    * instead of a silently flipped split bucket. Deployments that see
    * the counter move reconcile against the batch face (the artifact
    * plane is arrival-order-free either way).
    *
    * `incoming` must carry (source, doc_id, text, n_chars) — the
    * crawler frame — plus an optional `arr_ts` ingest clock (defaults
    * to the micro-batch timestamp). The streaming face requires the
    * RocksDB state store provider (the dedup plane is a
    * `transformWithState` operator — arbitrary-state v2, the only
    * stateful operator that can declare its output event-time column
    * and therefore legally chain into the gate's stateful operator). StreamingSpec pins the composed
    * ledger ≡ the persisted q154 curated shards across micro-batches,
    * the state-row bound (dedup state ≤ the watermark window's
    * distinct count, NOT the fed history), and the anti-join plane
    * (already-ingested docs drop with zero state growth); RestartSpec
    * pins that BOTH state planes (dedup + per-source totals) survive
    * a checkpoint restart. State: O(watermark window) hashes for the
    * dedup plane + O(sources) scalars + O(reorderWindow) heap for the
    * mix plane. */
  def curatedAdmission(s: SparkSession, dir: String, incoming: DataFrame,
      reorderWindow: Int = 1024,
      seenCorpus: Option[String] = None): Dataset[Llm.GateRow] = {
    val sess = s
    import sess.implicits._
    val (_, plan) = curatedPlan(s, dir)
    val kept = Llm.gopherStats(
        incoming
          .withColumn("n_words", size(split(col("text"), " ")))
          .filter(col("n_words") >= 15 &&
            col("n_chars") <= col("n_words") * 12L))
      .filter(col("keep") === 1)
    val deduped =
      if (incoming.isStreaming) {
        val hashed = Gates.clocked(kept).withColumn("h", md5(col("text")))
        // plane 1: the persisted seen-corpus hash set, stream-static —
        // no state, re-resolved per micro-batch
        val novel = seenCorpus.fold(hashed)(seen =>
          hashed.join(corpusTextHashesIdx(s, seen), Seq("h"), "left_anti"))
        // plane 2: in-flight FIRST-ARRIVAL dedup with the
        // representative rule ENFORCED (r10 verdict task 5): keyed
        // state holds the kept representative's doc_id per in-window
        // hash ([[CuratedDedupProcessor]] — one long, strictly less
        // than the dropDuplicatesWithinWatermark row it replaced,
        // same event-time eviction), and a LATER arrival with a
        // SMALLER doc_id — the duplicate the batch face's
        // min_by(doc_id) would have kept instead, i.e. a cross-source
        // out-of-id-order interleave — QUARANTINES loudly (ridden
        // through [[gateWith]] to the quarantine output + the
        // observedMetrics counter) instead of silently diverging from
        // the q154 ledger. Plain later-id duplicates drop silently,
        // exactly as before. `arr_ts` is the declared output
        // event-time column — the legal stateful-chain form.
        val winMs = 10L * 60L * 1000L
        Gates.watermarked(novel)
          .select(col("h"), col("source"),
            col("doc_id").cast("long").as("doc_id"),
            col("n_words").cast("bigint").as("n_tok"), col("arr_ts"))
          .as[(String, String, Long, Long, java.sql.Timestamp)]
          .groupByKey(_._1)
          .transformWithState(new Llm.CuratedDedupProcessor(winMs),
            "arr_ts", OutputMode.Append)
          .select(col("source"), col("doc_id"), col("n_tok"),
            col("quarantine"))
      } else
        kept.groupBy(md5(col("text")).as("h"))
          .agg(min_by(
            struct(col("doc_id"), col("source"), col("n_words")),
            col("doc_id")).as("r"))
          .select(col("r.source").as("source"),
            col("r.doc_id").cast("long").as("doc_id"),
            col("r.n_words").cast("bigint").as("n_tok"))
    // order violations BYPASS the split filter: their visibility must
    // not depend on which split bucket the duplicate landed in
    val train =
      if (incoming.isStreaming)
        deduped.filter(col("quarantine") ||
          pmod(graft.functions.TopK.knuthHash(col("doc_id")),
            lit(100)) < 80)
      else
        deduped.filter(pmod(graft.functions.TopK.knuthHash(col("doc_id")),
          lit(100)) < 80)
    gateWith(s, plan, train, reorderWindow, metricsName = "curated_gate")
  }

  /** q151: the END-TO-END pre-training curation chain, extended
    * through mix planning — the full pipeline a training-data team
    * actually runs, composed from the engine's own oracle-gated
    * stages: quality gates (q106's length/char-ratio pre-filter +
    * the q104 Gopher repetition rules) → exact dedup (md5 keep-first,
    * the q29 discipline) → leakage-safe 80/10/10 split (q55's
    * deterministic Knuth-hash buckets; only TRAIN proceeds) →
    * water-filling allocation over the curated-train per-source
    * token masses (q148) → allocation-driven extraction (q149's
    * cumulative cutoff). One row per source: curated-train
    * availability, the plan, and the executed fill.
    *
    * Scale shape: each stage keeps its standalone plan — map-only
    * gates, ONE dedup shuffle with the representative carried by
    * partial-agg `min_by`, a map-only split filter, O(sources)
    * driver waterfill, and the sharded two-pass cumulative cutoff
    * ([[cumBySourceOf]] — no single-task-per-source window). The
    * composition adds NO new shuffle class; the curated-train slim
    * projection (3 narrow columns) is what the cutoff checkpoint
    * materializes. LlmSpec pins stage-equivalence (per-source
    * availability ≡ independently recomputed curated-train masses;
    * extraction ≡ a driver fold over the collected fixture) and that
    * the fixture exercises both capped and uncapped sources. */
  /** q151's curated-train slim relation (source, doc_id, n_tok):
    * quality gates → exact dedup → train bucket. Persisted via
    * [[graft.observe.IndexStore]] (r15, the q134 `admitted_baskets`
    * precedent): the gate+dedup+split passes are a derived INDEX of
    * the documents table — the materialized curation stage every
    * production pre-training pipeline persists — and both consumers
    * (q151's report, q154's durable sink) plus the waterfill collect
    * used to RE-RUN the whole pipeline on every invocation even with
    * the shard artifact warm (measured ~2 s of q154's ~2.3 s at
    * sf0.1). One build per documents state; the artifact read also
    * replaces the old `localCheckpoint` (content-addressed parquet is
    * stable across the sizing and collection passes by construction).
    * No incremental rule: the md5 keep-first dedup's representative
    * is a corpus-wide min, so deltas are not file-local — a changed
    * source rebuilds, exactly like `admitted_baskets`. */
  protected def curatedTrainSlim(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, curatedTrainSlimSpec, dir)

  private[graft] val curatedTrainSlimSpec: ArtifactSpec = ArtifactSpec(
    "curated_train_slim", 1, "documents", Decomp.Full { (s, dir) =>
      Llm.gopherStats(
          Llm.docs(s, dir)
            .withColumn("n_words", size(split(col("text"), " ")))
            .filter(col("n_words") >= 15 &&
              col("n_chars") <= col("n_words") * 12L))
        .filter(col("keep") === 1)
        .groupBy(md5(col("text")).as("h"))
        .agg(min_by(
          struct(col("doc_id"), col("source"), col("n_words")),
          col("doc_id")).as("r"))
        .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
          col("r.n_words").cast("bigint").as("n_tok"))
        .filter(pmod(graft.functions.TopK.knuthHash(col("doc_id")),
          lit(100)) < 80)
        .select(col("source"), col("doc_id"), col("n_tok"))
    })

  /** q154: the CURATED shard sink — q152's durable-output discipline
    * applied to q151's pipeline: the curated-train documents admitted
    * under the curated-mass waterfill persist as the
    * `curated_mix_shards` artifact (plan fingerprint folded into the
    * content address, exactly the q152 lifecycle). This is the actual
    * end product of the pre-training pipeline: resumable, source-
    * clustered shards of gated, deduped, split, mix-planned documents
    * — re-extracted only when the corpus (hence the curated set or
    * its plan) changes. */
  /** The checkpointed curated-train frame plus its waterfill plan —
    * the ONE definition both q151 (the report) and q154 (the durable
    * sink) compose from, so the two faces cannot drift. */
  protected def curatedPlan(s: SparkSession, dir: String)
      : (DataFrame, Seq[(String, Long, Long, Long, Long)]) = {
    val sess = s
    import sess.implicits._
    val train = curatedTrainSlim(s, dir)
    val availRows: Seq[(String, Long)] = train
      .groupBy(col("source")).agg(sum(col("n_tok")).as("n"))
      .as[(String, Long)].collect().sortBy(_._1).toSeq
    (train, waterfillOver(availRows))
  }

  def curatedMixShards(s: SparkSession, dir: String): DataFrame = {
    shardSink(s, curatedMixShardsSpec, dir, curatedPlan(s, dir)._2)
      .select(col("source"), col("doc_id"), col("n_tok"), col("cum"))
      .orderBy(col("source"), col("doc_id"))
  }

  def curationMixPipeline(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    val (train, rawPlan) = curatedPlan(s, dir)
    val plan = rawPlan
      .toDF("source", "avail_tokens", "weight_micro", "alloc_tokens",
        "capped")
      .drop("weight_micro")
    cumBySourceOf(train)
      .join(broadcast(plan), "source")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("train_docs"),
        count(when(col("cum") <= col("alloc_tokens"), lit(1)))
          .as("docs_taken"),
        coalesce(max(when(col("cum") <= col("alloc_tokens"), col("cum"))),
          lit(0L)).as("tokens_taken"),
        first(col("avail_tokens")).as("avail_tokens"),
        first(col("alloc_tokens")).as("alloc_tokens"),
        first(col("capped")).as("capped"))
      .withColumn("fill_micro",
        when(col("alloc_tokens") > 0,
          expr("tokens_taken * 1000000L div alloc_tokens"))
          .otherwise(lit(0L)))
      .orderBy(col("source"))
  }

  /** q139: per-source token-distribution KL divergence from the
    * corpus-wide distribution — the data-mixing diagnostic (a source
    * whose unigram distribution sits far from the mix is over- or
    * under-represented, mislabeled, or boilerplate-heavy; the same
    * statistic DSIR-style selection uses at the corpus level, here as
    * a per-source health score).
    *
    * Scale shape: ZERO corpus-sized shuffles per run — the (source,
    * token) counts come from the persisted [[sourceTokenCounts]]
    * chain (corpus tokenized once per document ever); everything here
    * re-aggregates that vocab×sources-sized relation (n_s per source,
    * c_t per token, the 1-row total). The per-term contribution
    * `p·ln(p/q)` is rounded to an integer pico unit PER TERM (the
    * q115 idiom: the sum is order-free and a ±1 ulp libm disagreement
    * is absorbed by the rounding), so both engines produce the
    * identical BIGINT. All ln arguments are ratios of exact integer
    * counts — never a product that could overflow. */
  def sourceKlMix(s: SparkSession, dir: String): DataFrame = {
    val cnt = sourceTokenCounts(s, dir)
      // four consumers (join probe, n_s, c_t, total) — checkpoint the
      // vocab×sources-sized merged aggregate so the chain fold runs
      // ONCE structurally (exchange reuse is not reliable across
      // differently-shaped re-aggregations; the q134 lesson)
      .localCheckpoint()
    val nS = cnt.groupBy(col("source")).agg(sum(col("c_st")).as("n_s"))
    val cT = cnt.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val tot = nS.agg(sum(col("n_s")).as("n_total"))
    cnt
      .join(broadcast(nS), "source")
      .join(cT, "token")
      .crossJoin(broadcast(tot))
      .withColumn("pico", expr(
        """CAST(round((c_st * 1e0 / n_s) *
          |  ln((c_st * 1e0 / n_s) / (c_t * 1e0 / n_total)) * 1e12)
          |AS BIGINT)""".stripMargin))
      .groupBy(col("source"))
      .agg(
        max(col("n_s")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        expr("CAST(round(sum(pico) / 1e6) AS BIGINT)").as("kl_micro"))
      .orderBy(col("kl_micro").desc, col("source"))
  }

  /** q140: temperature-sampling mix weights — the multilingual /
    * multi-domain α-sampling recipe (mBERT/XLM-R family, α = 1/2):
    * source s is sampled ∝ mass(s)^α, flattening the natural
    * distribution so long-tail sources aren't drowned. BOTH mass
    * definitions side by side: document count (the simple recipe) and
    * TOKEN count (what the mBERT/XLM-R papers actually weight by —
    * example/token mass; a source of few huge documents is
    * under-weighted by doc mass and correctly weighted by token
    * mass). Token masses fold out of the persisted
    * [[sourceTokenCounts]] chain — no corpus re-tokenize per run.
    * INTEGER-EXACT cross-engine: n^(1/2) is an exact integer sqrt
    * (floor(sqrt) with a ±1 correction — `pow` ulp skew can't leak
    * in), weights and expected draw counts are integer
    * cross-multiply-div in micro units. O(sources) rows everywhere
    * past the chain fold, at any corpus scale. */
  def mixTemperature(s: SparkSession, dir: String): DataFrame = {
    val byDocs = Llm.docs(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
    // SUM is associative over the chain's repeated (source, token)
    // keys, so the per-source total aggregates the RAW chain directly —
    // the vocab-grain merge pass would be a wasted exchange here
    val byToks = sourceTokenCountsIdx(s, dir)
      .groupBy(col("source")).agg(sum(col("c_st")).as("n_tokens"))
    val nS = byDocs.join(byToks, "source")
      .withColumn("fd",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      .withColumn("rd", expr(
        """CASE WHEN (fd + 1) * (fd + 1) <= n_docs THEN fd + 1
          |     WHEN fd * fd > n_docs THEN fd - 1
          |     ELSE fd END""".stripMargin))
      .withColumn("ft",
        expr("CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT)"))
      .withColumn("rt", expr(
        """CASE WHEN (ft + 1) * (ft + 1) <= n_tokens THEN ft + 1
          |     WHEN ft * ft > n_tokens THEN ft - 1
          |     ELSE ft END""".stripMargin))
    val tot = nS.agg(
      sum(col("rd")).as("rd_total"), sum(col("n_docs")).as("d_total"),
      sum(col("rt")).as("rt_total"), sum(col("n_tokens")).as("t_total"))
    nS.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        expr("n_docs * 1000000L div d_total").as("natural_micro"),
        expr("rd * 1000000L div rd_total").as("weight_micro"),
        expr("rd * 100000L div rd_total").as("expected_draws"),
        expr("n_tokens * 1000000L div t_total").as("tok_natural_micro"),
        expr("rt * 1000000L div rt_total").as("tok_weight_micro"),
        expr("rt * 100000L div rt_total").as("tok_expected_draws"))
      .orderBy(col("source"))
  }

  /** q143: the per-source MIX REPORT — the one-row-per-source
    * deliverable a data-mixing pipeline actually consumes: every
    * field of the three mix analytics (q139 KL divergence, q140
    * temperature weights, q141 vocabulary stats) in a single relation
    * keyed by source, sorted by KL (the "most off-mix first" triage
    * order). Each value equals its standalone query's bit for bit
    * (same integer formulas; the oracle pins it).
    *
    * NOT implemented by calling the three queries: that would fold
    * the count chain once per component (and, pre-artifact, scanned
    * the corpus once per component — the duplicate-source-scan
    * smell). The report derives everything from ONE checkpointed
    * merge of the persisted [[sourceTokenCounts]] chain — no corpus
    * scan at the token grain at all — plus the O(sources) doc-count
    * aggregate (a count-only corpus scan the token grain cannot
    * provide). */
  def mixReport(s: SparkSession, dir: String): DataFrame = {
    val cnt = sourceTokenCounts(s, dir)
      .localCheckpoint() // four consumers — the q139 discipline
    val stats = cnt.groupBy(col("source"))
      .agg(
        sum(col("c_st")).as("n_s"),
        count(lit(1)).as("vocab"),
        sum(when(col("c_st") === 1, 1L).otherwise(0L)).as("hapax"))
    val cT = cnt.groupBy(col("token")).agg(sum(col("c_st")).as("c_t"))
    val tot = stats.agg(sum(col("n_s")).as("n_total"))
    val kl = cnt
      .join(broadcast(stats.select(col("source"), col("n_s"))), "source")
      .join(cT, "token")
      .crossJoin(broadcast(tot))
      .withColumn("pico", expr(
        """CAST(round((c_st * 1e0 / n_s) *
          |  ln((c_st * 1e0 / n_s) / (c_t * 1e0 / n_total)) * 1e12)
          |AS BIGINT)""".stripMargin))
      .groupBy(col("source"))
      .agg(expr("CAST(round(sum(pico) / 1e6) AS BIGINT)").as("kl_micro"))
    val weights = Llm.docs(s, dir)
      .groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      .withColumn("f",
        expr("CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT)"))
      .withColumn("r", expr(
        """CASE WHEN (f + 1) * (f + 1) <= n_docs THEN f + 1
          |     WHEN f * f > n_docs THEN f - 1
          |     ELSE f END""".stripMargin))
    val rTot = weights.agg(sum(col("r")).as("r_total"))
    stats
      .join(kl, "source")
      .join(weights.crossJoin(broadcast(rTot))
        .select(col("source"), col("n_docs"),
          expr("r * 1000000L div r_total").as("weight_micro"),
          expr("r * 100000L div r_total").as("expected_draws")), "source")
      .select(col("source"), col("n_docs"), col("weight_micro"),
        col("expected_draws"), col("n_s").as("n_tokens"), col("vocab"),
        col("hapax"),
        expr("vocab * 1000000L div n_s").as("ttr_micro"),
        expr("hapax * 1000000L div vocab").as("hapax_micro"),
        col("kl_micro"))
      .orderBy(col("kl_micro").desc, col("source"))
  }

  /** q141: per-source vocabulary statistics — token volume, exact
    * vocabulary size, hapax-legomena count, type-token ratio and
    * hapax share (micro units). The corpus-linguistics quality
    * signals: a source with an abnormally low TTR is templated or
    * repetitive; an abnormally high hapax share is OCR noise or
    * gibberish. Served from the persisted [[sourceTokenCounts]]
    * chain like [[sourceKlMix]] — no corpus scan per run; the stats
    * fold over the vocab-sized merged relation (hapax = merged
    * c_st = 1, so the fold MUST precede the stat — a per-segment
    * hapax would miscount a token split across segments, which is
    * exactly what the append ≡ rebuild test pins). All outputs are
    * exact integers (count ratios in integer micro units) —
    * bit-identical in any engine. */
  def vocabStats(s: SparkSession, dir: String): DataFrame =
    sourceTokenCounts(s, dir)
      .groupBy(col("source"))
      .agg(
        sum(col("c_st")).as("n_tokens"),
        count(lit(1)).as("vocab"),
        sum(when(col("c_st") === 1, 1L).otherwise(0L)).as("hapax"))
      .withColumn("ttr_micro", expr("vocab * 1000000L div n_tokens"))
      .withColumn("hapax_micro", expr("hapax * 1000000L div vocab"))
      .orderBy(col("source"))

  /** Benchmark decontamination: drop corpus docs sharing any word
    * 3-gram with a held-out benchmark set (the n-gram-overlap rule used
    * for LLM training-set hygiene). The benchmark side is tiny by
    * definition → its shingle set broadcasts; the corpus side is a
    * semi-join probe, never a shuffle of the corpus. Fixture benchmark:
    * every 50th doc. Both sides read the persisted [[corpusShinglesIdx]]
    * artifact — no corpus re-tokenize per run. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = Llm.corpusShinglesIdx(s, dir)
    val benchShingles = sh.filter(col("doc_id") % 50 === 0)
      .select(explode(col("shingles")).as("sh"))
      .distinct()
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val contaminated = corpus
      .join(broadcast(benchShingles), "sh")
      .select(col("doc_id"))
      .distinct()
    val docsDf = Llm.docs(s, dir).filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("lang"))
    docsDf
      .join(contaminated.withColumn("contaminated", lit(1)),
        Seq("doc_id"), "left_outer")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("contaminated"), lit(0))).as("n_contaminated"),
        (count(lit(1)) - sum(coalesce(col("contaminated"), lit(0))))
          .as("n_clean"))
      .orderBy(col("lang"))
  }

  /** Bloom-filter decontamination — the 100 TB flavor of
    * [[decontaminate]]: instead of broadcasting the benchmark's full
    * shingle-string set to every executor, broadcast a ~128 KB Bloom
    * bitset and run the corpus probe as pure codegen'd integer math
    * (k× `hash`/`pmod`/`shiftleft` over a literal long array). Bloom
    * survivors (true hits + false positives) are then verified with the
    * exact broadcast semi-join, so the RESULT is identical to the exact
    * pipeline — the filter only prunes probes — and the same DuckDB
    * oracle applies. No false negatives by construction: every bench
    * shingle's k positions are set.
    *
    * Build step: bench shingles → k probe positions (`hash(sh, i)`, the
    * same expression the probe side evaluates, so hash parity is free)
    * → distributed `bit_or` reduction to one long per 64-bit word →
    * driver assembles the bitset (≤ m/64 = 16 384 rows — index-build
    * metadata, like collecting a stop list). */
  /** Bloom sizing derived from the MEASURED key count, not a fixture
    * constant: ~10 bits per key (next power of two), k ≈ (m/n)·ln 2
    * clamped to [2, 8]. At n = 1e5 bench shingles this reproduces the
    * old hand-picked 2^20/k=5 regime (fp ≈ 1-2%); at n = 1e9 it grows
    * the bitset toward the 2^27-bit (16 MB) broadcast cap instead of
    * silently degrading to fp ≈ 1 the way a fixed m does. The floor
    * 2^14 keeps tiny fixtures from under-hashing. */
  private[graft] def bloomParams(nKeys: Long): (Int, Int) = {
    val target = math.max(1L << 14, math.max(1L, nKeys) * 10L)
    val mBits = math.min(1L << 27,
      java.lang.Long.highestOneBit(target - 1) << 1).toInt
    val k = math.min(8, math.max(2,
      math.round(0.6931 * mBits / math.max(1L, nKeys)).toInt))
    (mBits, k)
  }

  def bloomDecontaminate(s: SparkSession, dir: String): DataFrame = {
    val sh = Llm.corpusShinglesIdx(s, dir) // persisted artifact, no re-tokenize
    val benchShingles = sh.filter(col("doc_id") % 50 === 0)
      .select(explode(col("shingles")).as("sh"))
      .distinct()
      .localCheckpoint() // counted for sizing, then probed twice below
    val (mBits, k) = bloomParams(benchShingles.count())
    def positions(shCol: Column): Seq[Column] =
      (0 until k).map(i => pmod(hash(shCol, lit(i)), lit(mBits)))
    // ---- build: distributed bit_or reduction into m/64 words ----
    val words = benchShingles
      .select(explode(array(positions(col("sh")): _*)).as("p"))
      .select(shiftright(col("p"), 6).as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), p % 64)").as("b"))
      .groupBy(col("w")).agg(expr("bit_or(b)").as("bits"))
      .collect()
    val bits = new Array[Long](mBits / 64)
    words.foreach(r => bits(r.getInt(0)) = r.getLong(1))
    val bitsLit = typedlit(bits.toSeq)
    // ---- probe: codegen integer math against the broadcast bitset ----
    val mightContain: Column =
      (0 until k).map { i =>
        expr(s"""(element_at(bl, CAST(shiftright(pmod(hash(sh, $i), $mBits), 6) + 1 AS INT))
                 & shiftleft(CAST(1 AS BIGINT), pmod(hash(sh, $i), $mBits) % 64)) != 0""")
      }.reduce(_ && _)
    val corpus = sh.filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val contaminated = corpus
      .withColumn("bl", bitsLit)
      .filter(mightContain) // bloom prunes ~98% of probes
      .drop("bl")
      .join(broadcast(benchShingles), "sh") // exact verify on survivors
      .select(col("doc_id"))
      .distinct()
    val docsDf = Llm.docs(s, dir).filter(col("doc_id") % 50 =!= 0)
      .select(col("doc_id"), col("lang"))
    docsDf
      .join(contaminated.withColumn("contaminated", lit(1)),
        Seq("doc_id"), "left_outer")
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(coalesce(col("contaminated"), lit(0))).as("n_contaminated"),
        (count(lit(1)) - sum(coalesce(col("contaminated"), lit(0))))
          .as("n_clean"))
      .orderBy(col("lang"))
  }

  /** Repetition-ratio quality filter (Gopher-style): fraction of
    * repeated word 3-grams inside each doc; docs above the threshold
    * are flagged. Pure per-row array arithmetic — map-only. */
  def repetitionFilter(s: SparkSession, dir: String): DataFrame =
    Llm.docs(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("all_sh", expr(
        """transform(sequence(1, greatest(size(ws) - 2, 1)),
             i -> concat_ws(' ', slice(ws, i, 3)))"""))
      .withColumn("rep_ratio", round(
        lit(1.0) - size(array_distinct(col("all_sh"))).cast("double")
          / size(col("all_sh")), 6))
      .withColumn("flagged", (col("rep_ratio") > 0.1).cast("int"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("flagged")).cast("bigint").as("n_flagged"),
        round(avg(col("rep_ratio")), 6).as("avg_rep_ratio"))
      .orderBy(col("lang"))

}
