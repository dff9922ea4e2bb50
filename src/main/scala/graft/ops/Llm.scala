package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState,
  GroupStateTimeout, OutputMode, StatefulProcessor, TTLConfig, TimeMode,
  TimerValues, ValueState}
import graft.Tables
import graft.observe.{ArtifactSpec, Decomp, IndexStore}
import graft.functions.GraftFx

/** LLM-training-data pipeline operators — SURVEY.md §2.9 (north-star
  * X1-X4) over the `documents` and `embeddings` fixtures.
  *
  * Design rules for 100 TB (the whole point of this module):
  *
  *  - **Signatures are map-only projections.** MinHash (custom
  *    [[graft.functions.MinHashBands]] Catalyst expression), SimHash, and
  *    fingerprints (higher-order functions) are computed per-row — no
  *    shuffle in the signature stage. A 100 TB corpus streams through it
  *    embarrassingly parallel.
  *  - **Candidates come from bucketed equi-joins, never all-pairs.**
  *    Near-dup candidates are generated by joining on LSH band hashes
  *    (MinHash) or IVF cluster ids (embeddings); the O(n²) verify step
  *    runs only inside buckets. The lone `crossJoin` in this file pairs
  *    the full table against a **broadcast** handful of query vectors /
  *    centroids (a broadcast nested-loop with k rows on one side — the
  *    correct plan for IVF assignment and brute-force baselines).
  *  - **Exact verification after approximate candidate generation.**
  *    Candidate pairs are re-checked with true Jaccard / cosine before
  *    being reported, the classic LSH pipeline.
  */
object Llm extends LlmCurationOps with LlmAnnOps {

  // Spread loads: every op in this module is per-row CPU-bound
  // (shingles, hashes, vector math), so parallelism must not be capped
  // by the source's row-group layout — see Tables.loadSpread.
  private[ops] def docs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "documents")
  private[ops] def embs(s: SparkSession, dir: String): DataFrame =
    Tables.loadSpread(s, dir, "embeddings")

  // ---- text analysis (X4) ----------------------------------------------

  /** Per-language corpus stats: doc counts, char/word means. One hash
    * aggregation over a pure projection — partial agg map-side. */
  def textStats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_words", size(split(col("text"), " ")))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        sum(col("n_words")).cast("bigint").as("sum_words"),
        round(avg(col("n_words")), 4).as("avg_words"),
        max(col("n_words")).cast("bigint").as("max_words"))
      .orderBy(col("lang"))

  /** Language-ID by stopword evidence (n-gram-free heuristic): count
    * function-word hits per candidate language, argmax with a fixed
    * tie-break order, reported as a lang × predicted confusion matrix.
    * Counts (not ratios) are compared so the oracle match is integral. */
  def langIdConfusion(s: SparkSession, dir: String): DataFrame = {
    val scored = docs(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("en_hits", expr(
        "size(filter(ws, w -> array_contains(array('the','a','is','of','and'), w)))"))
      .withColumn("fr_hits", expr(
        "size(filter(ws, w -> array_contains(array('le','la','de','et','un'), w)))"))
      .withColumn("de_hits", expr(
        "size(filter(ws, w -> array_contains(array('der','die','das','und','ein'), w)))"))
      .withColumn("predicted",
        when(col("en_hits") >= col("fr_hits") && col("en_hits") >= col("de_hits"), "en")
          .when(col("fr_hits") >= col("de_hits"), "fr")
          .otherwise("de"))
    scored.groupBy(col("lang"), col("predicted"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("predicted"))
  }

  /** Per-doc quality scoring: length, mean word length, stopword ratio,
    * composite score — all deterministic double arithmetic. */
  def qualityScore(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("ws", split(col("text"), " "))
      .withColumn("n_words", size(col("ws")))
      .withColumn("stop_hits", expr(
        "size(filter(ws, w -> array_contains(array('the','a','and','of','is'), w)))"))
      .select(
        col("doc_id"),
        col("n_words").cast("bigint").as("n_words"),
        round(
          (col("n_chars") - (col("n_words") - 1)).cast("double") / col("n_words"), 4)
          .as("avg_word_len"),
        round(col("stop_hits").cast("double") / col("n_words"), 6)
          .as("stopword_ratio"),
        round(
          least(lit(1.0), col("n_words") / lit(100.0)) *
            (lit(1.0) - col("stop_hits").cast("double") / col("n_words")), 6)
          .as("quality"))
      .orderBy(col("doc_id"))

  /** Per-language length outliers (X4 quality filtering): documents at
    * or above their language's 95th-percentile `n_chars`. The threshold
    * is computed as a 5-row aggregate and BROADCAST back onto the
    * corpus — the 100 TB shape (two scans, no shuffle of the fact side)
    * — instead of a `percent_rank` window, whose per-language sort
    * partitions would be catastrophically skewed at 5 languages.
    * Exact `percentile` keeps DuckDB `quantile_cont` parity; the
    * sketch flavor at scale is `percentile_approx` (see q42/q65).
    * BUFFER BOUND (why exact is safe HERE, unlike q120's prices): the
    * percentile buffer holds one entry per distinct `n_chars` per
    * language, and document character counts live in a fixed
    * human-scale range (≤ ~10⁶ distinct values no matter how many
    * documents exist) — the buffer cannot grow with the corpus. The
    * `unbounded-agg-buffer` lint rule flags this site; it is
    * allowlisted with exactly this rationale. */
  def lengthOutliers(s: SparkSession, dir: String): DataFrame = {
    val d = docs(s, dir)
    val thr = d.groupBy(col("lang"))
      .agg(expr("percentile(n_chars, 0.95)").as("thr"))
    d.join(broadcast(thr), "lang")
      .filter(col("n_chars") >= col("thr"))
      .select(
        col("doc_id"), col("lang"), col("n_chars"),
        round(col("thr"), 6).as("p95"))
      .orderBy(col("doc_id"))
  }

  /** Token counting: whitespace tokens vs a BPE-ish regex tokenizer
    * (letter runs | digit runs | single punctuation), per source.
    * Counts come from `regexp_count`, which scans the text once
    * WITHOUT materializing the match array (`size(regexp_extract_all)`
    * allocated ~1k strings per document just to read `.length` — at
    * 100 TB that garbage dominates the stage; measured 2.2 s → the
    * split-free form at sf0.1). The whitespace count keeps `split`:
    * token count = separators + 1 exactly, including empty tokens,
    * matching the oracle's `string_split` semantics. */
  def tokenCounts(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("n_ws_tokens", size(split(col("text"), " ")))
      .withColumn("n_re_tokens",
        regexp_count(col("text"), lit("[a-z]+|[0-9]+|[^a-z0-9 ]")))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_ws_tokens")).cast("bigint").as("sum_ws_tokens"),
        sum(col("n_re_tokens")).cast("bigint").as("sum_re_tokens"))
      .orderBy(col("source"))

  /** Document fingerprint: min-hash over 16-char rolling character
    * shingles (winnowing-lite). Map-only via the
    * [[graft.functions.RollingFingerprint]] expression (one digest per
    * window over byte slices; the interpreted `md5(substring(text, i,
    * 16))` HOF it replaces re-walked the string per window — the
    * DuckDB oracle keeps that independent formulation). The
    * fingerprint column is the join key for cheap cross-corpus
    * containment checks at scale. */
  def fingerprints(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(
        col("doc_id"),
        graft.functions.GraftFx.rollingFingerprint(col("text"), 16)
          .as("fingerprint"))
      .orderBy(col("doc_id"))

  // ---- dedup family (X1/X2) --------------------------------------------

  /** Exact content dedup by md5(text) hash, per source: a 100 TB corpus
    * dedups on the hash (fixed 32 bytes through the shuffle), never the
    * raw text. */
  def exactDedup(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("source"), md5(col("text")).as("h"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("h")).as("n_distinct"),
        (count(lit(1)) - countDistinct(col("h"))).as("n_dups"))
      .orderBy(col("source"))

  /** Posting lists of the stop-shingle-pruned inverted index, with each
    * list entry carrying its document's pruned shingle count — shared by
    * the Jaccard (q33) and containment (q68) pair pipelines.
    *
    * Shape decisions, all scale-driven:
    *  - Stop-shingles (df > the relative threshold, floor 100) are few by
    *    construction — broadcast the SMALL exclusion list and
    *    anti-join, instead of equi-joining the O(corpus) rare set; at
    *    100 TB the stop list stays driver-sized.
    *  - Only the pruned index is `localCheckpoint`ed (its "write the
    *    inverted index to storage" step at 100 TB): the sizes agg and
    *    the size-attach join both branch off it. The raw exploded index
    *    is NOT materialized — its one other consumer (the df agg) just
    *    re-runs the map-only shingle split, which is cheaper than a
    *    second 500 k-row checkpoint write.
    *  - Per-doc sizes ride INSIDE the posting lists
    *    (`struct(doc_id, n)`): pair emission then produces
    *    (d1, n1, d2, n2) directly and the verify stage is a pure hash
    *    aggregation — no post-join of the O(pairs) relation against a
    *    per-doc sizes table, which at 100 TB would shuffle the pair
    *    blow-up twice more (and sizes, one row per document, is never
    *    broadcastable at that scale). `sort_array` on the structs
    *    orders by doc_id (first field), preserving d1 < d2 emission. */
  /** Persisted per warehouse state via [[graft.observe.IndexStore]]
    * (like [[verifiedPairs]]): the Jaccard (q33) and containment (q68)
    * pipelines consume the identical index build and differ only in
    * scoring, so the index is built once and read as a plain parquet
    * scan thereafter — rebuilt automatically when the source tables'
    * fingerprint changes. */
  /** Index source scope: text indexes are fingerprinted against the
    * DOCUMENTS table path, not the whole warehouse — an append to any
    * other table (events, embeddings) must neither invalidate these
    * artifacts nor, worse, satisfy the pure-append check and feed
    * non-document files into an incremental delta read. */
  private[ops] def docsSrc(dir: String): String = s"$dir/documents.parquet"
  private[ops] def embsSrc(dir: String): String = s"$dir/embeddings.parquet"

  private[graft] val sizedPostingsSpec: ArtifactSpec = ArtifactSpec(
    "sized_postings", 1, "documents",
    Decomp.Full(computeSizedPostings), Seq(shingleSetsSpec))

  private def sizedPostings(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, sizedPostingsSpec, dir)

  /** The stop-shingle threshold: [[SigFamily.relative]] floored at
    * 100. Posting lists between the floor and the fraction are
    * vanishing for natural-text 3-gram df (Zipf-squared decay), and the
    * LSH pipeline (q30) — whose candidate volume is independent of df —
    * remains the designated pair generator at 100 TB. */
  private val stopDfThresholdSql: String =
    "greatest(100, (SELECT count(*) // 5 FROM documents))"

  private def computeSizedPostings(s: SparkSession, dir: String): DataFrame = {
    val nDocs = Tables.rowCount(s, dir, "documents") // index-build stat
    val inv = corpusShinglesIdx(s, dir) // shared artifact, not a re-tokenize
      .select(col("doc_id"), explode(col("shingles")).as("sh"))
    val stops =
      SigFamily.stopsOf(inv, Seq("sh"), SigFamily.relative(100L)(nDocs))
    val pruned = inv.join(broadcast(stops), Seq("sh"), "left_anti")
      .localCheckpoint()
    val sizes = pruned.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pruned.join(sizes, "doc_id")
      .groupBy(col("sh"))
      .agg(sort_array(collect_list(struct(col("doc_id"), col("n")))).as("ds"))
      .filter(size(col("ds")) > 1)
  }

  /** Pair emission + intersection count over [[sizedPostings]]: each
    * posting list yields its strictly-ordered pairs map-side; the
    * groupBy then counts how many lists each pair co-occurred in —
    * that count IS |intersection| over pruned shingle sets. */
  private[ops] def pairCommonCounts(s: SparkSession, dir: String): DataFrame =
    sizedPostings(s, dir)
      // parallelism is a COMPUTE decision (r15, the q134 lesson): the
      // C(|posting|,2) in-row pair expansion is far denser per byte
      // than the posting rows feeding it, and the compacted artifact
      // scans as one 128 MB-split task — one explicit round-robin
      // exchange of the SLIM posting rows keys the expansion to the
      // session's cores at any scale
      .repartition(s.sparkContext.defaultParallelism)
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
             transform(slice(ds, i + 2, size(ds) - i - 1),
                       y -> struct(x.doc_id AS d1, x.n AS n1,
                                   y.doc_id AS d2, y.n AS n2))))""")).as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.n1").as("n1"),
        col("p.d2").as("d2"), col("p.n2").as("n2"))
      .agg(count(lit(1)).as("common"))

  /** MinHash + LSH banding near-dup pipeline (X2):
    * 24 hash functions h_i(sh) = md5(i || '|' || sh) (string-min is a
    * valid min-hash family), banded b=12 × r=2; docs sharing any band
    * hash become candidates (equi-join on the band hash — the only
    * shuffle); candidates are verified with exact Jaccard ≥ 0.5.
    *
    * Signature+banding is the custom [[GraftFx.minhashBands]] Catalyst
    * expression: one pass per row under a single `posexplode`, so it is
    * evaluated exactly once per doc per join side (the equivalent
    * built-in higher-order formulation was re-evaluated per band
    * reference — 192 s vs ~2 s on 500 docs; see graft.functions). */
  def minhashPairs(s: SparkSession, dir: String): DataFrame =
    verifiedPairs(s, dir).orderBy(col("d1"), col("d2"))

  /** The 3-gram shingle-set kernel as ONE SQL expr string (over a
    * `ws` word-array column) — consumed by the batch projection AND
    * the streaming admission face, so the shingle width cannot
    * silently diverge between the persisted corpus artifact and the
    * gate that probes it. */
  private val shingleSetExpr =
    """array_distinct(transform(
         sequence(1, greatest(size(ws) - 2, 1)),
         i -> concat_ws(' ', slice(ws, i, 3))))"""

  /** The text admission gates' per-item stage: an incoming doc's
    * shingle set, keeping `arr_ts` (a join back onto the feed would be
    * a stream-stream self-join). */
  private def shingleStage(fed: DataFrame): DataFrame =
    fed.withColumn("ws", split(col("text"), " "))
      .withColumn("in_sh", expr(shingleSetExpr))
      .select(col("doc_id").as("in_id"), col("arr_ts"), col("in_sh"))

  /** [[shingled]] over an arbitrary documents frame (the incremental
    * path shingles only appended files). */
  private def shingledOf(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("ws", split(col("text"), " "))
      .withColumn("shingles", expr(shingleSetExpr))
      .select(col("doc_id"), col("shingles"))

  /** MinHash band signature rows (doc_id, band index, band hash) of a
    * shingled frame — the map-only signature stage. */
  private def bandsOf(sh: DataFrame): DataFrame =
    sh.select(col("doc_id"),
      posexplode(GraftFx.minhashBands(col("shingles"))).as(Seq("b", "bh")))

  /** The banded MinHash signature table, persisted as a SNAPSHOT CHAIN:
    * on pure corpus append only the added files are shingled and
    * signed — the delta segment links to the previous artifact, so the
    * signature CPU (the dominant cost of the LSH pipeline at 100 TB) is
    * paid once per document ever, not once per corpus state. */
  /** Corpus shingle SETS, persisted via [[graft.observe.IndexStore]] —
    * the artifact that makes every exact-Jaccard verify a parquet
    * LOOKUP instead of a corpus re-tokenize: the pair pipelines
    * (q30/q63/q77), the inverted-index build (q33/q68/q88), and the
    * streaming admission gate all consume it. Tokenize+distinct is the
    * dominant CPU of the whole near-dup family at 100 TB; with this
    * artifact it is paid once per document EVER (append-monotone
    * snapshot chain, delta = shingles of the added files), and the
    * MinHash band index derives from the artifact rather than from a
    * second tokenize pass. */
  // per-document rows never span source files → file-decomposable:
  // deletion excises the touched segments instead of re-shingling the
  // corpus (the near-dup family's takedown path)
  private[graft] val shingleSetsSpec: ArtifactSpec = ArtifactSpec(
    "shingle_sets", 1, "documents", Decomp.Segmented((s, _) =>
      files => shingledOf(Tables.scan(s, files)
        .repartition(s.sparkContext.defaultParallelism))))

  private[graft] def corpusShinglesIdx(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, shingleSetsSpec, dir)

  /** The (b, bh, doc_id) MinHash band index — SEGMENTED (E157):
    * per-doc band rows never span source files, so a takedown excises
    * the touched segments. Each window's bands derive from the SHARED
    * shingle artifact restricted to that window's doc_ids (a column
    * scan of the window files + one semi-join against the chain), so
    * tokenize+distinct stays paid once per document ever — never a
    * second shingle pass (the round-3 double-tokenize nit), at any
    * lifecycle event. The shingle artifact resolves at the CURRENT
    * source state (itself delete-aware), so an excised window's bands
    * are consistent with the excised shingle sets by construction. */
  private[graft] val minhashBandsSpec: ArtifactSpec = ArtifactSpec(
    "minhash_bands", 1, "documents", Decomp.Segmented((s, dir) =>
      files => bandsOf(corpusShinglesIdx(s, dir).join(
        Tables.scan(s, files).select(col("doc_id")),
        Seq("doc_id"), "left_semi"))), Seq(shingleSetsSpec))

  private[graft] def minhashBandsIdx(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, minhashBandsSpec, dir)

  /** The verified near-dup pair graph — persisted per warehouse state
    * via [[graft.observe.IndexStore]]: it is the shared artifact of the
    * pair report (q30) and BOTH clustering flavors (q63/q77), and a
    * real dedup pipeline materializes the pair table exactly once
    * before clustering. Content-addressed by the source fingerprint, so
    * a rewritten warehouse can never serve stale pairs.
    *
    * Incrementally maintained on append: a delta pair involves at least
    * one appended document by construction (old-old pairs are untouched
    * by an append), so `old pairs ∪ delta` IS the full-rebuild result —
    * candidates come from joining the NEW docs' bands against the full
    * band chain, and only candidate documents are re-shingled for the
    * exact-Jaccard verify (selective doc_id semi-join, never a corpus
    * re-read). */
  private def verifiedPairs(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, neardupPairsSpec, dir)

  private[graft] val neardupPairsSpec: ArtifactSpec = ArtifactSpec(
    "neardup_pairs", 1, "documents", Decomp.Append(
      (s, dir) =>
        pairsFromCandidates(s, dir, bandCandidates(minhashBandsIdx(s, dir))),
      (s, dir) => (_, added) => {
        val bands = minhashBandsIdx(s, dir) // chain incl. the new segment
        // no broadcast hint: an appended batch can itself be huge; let
        // AQE pick the strategy from the delta's actual size
        val newIds = Tables.scan(s, added).select(col("doc_id"))
        val newBands = bands.join(newIds, Seq("doc_id"), "left_semi")
        // new×all candidates, normalized to d1 < d2 (covers new×new once)
        val cand = newBands.as("a")
          .join(bands.as("b"),
            col("a.bh") === col("b.bh") && col("a.b") === col("b.b") &&
              col("a.doc_id") =!= col("b.doc_id"))
          .select(
            least(col("a.doc_id"), col("b.doc_id")).as("d1"),
            greatest(col("a.doc_id"), col("b.doc_id")).as("d2"))
          .distinct()
        pairsFromCandidates(s, dir, cand)
      }), Seq(minhashBandsSpec, shingleSetsSpec))

  /** Near-dup ADMISSION CONTROL for incoming documents — the production
    * face of the persisted index: band the incoming docs map-side,
    * collide them against the PERSISTED corpus band chain (an
    * equi-join on the band hash — stream-static when `incoming` is a
    * streaming frame), and verify exact Jaccard against only the
    * colliding corpus documents. The SAME plan serves a batch backfill
    * and a `readStream` crawler gate (Structured Streaming's
    * batch/stream contract); StreamingSpec proves the two emit
    * identical flags. Emits (in_id, corpus_id, jaccard ≥ 0.5).
    *
    * 100 TB notes: the incoming-side work is map-only; the corpus side
    * is the persisted band index (never re-signed), and the verify join
    * reads the persisted [[corpusShinglesIdx]] artifact — a parquet
    * LOOKUP of only the colliding documents, never a corpus re-tokenize
    * per micro-batch (the streaming plan contains no scan of the
    * documents table at all — asserted in StreamingSpec). Candidate
    * dedup state is BOUNDED: a (in_id, corpus_id) pair only repeats
    * when one incoming doc collides with the same corpus doc on
    * several bands — i.e. within the micro-batch that carries the doc —
    * so the streaming plan dedups within an event-time watermark on the
    * feed's `arr_ts` (synthesized as the ingest clock when the feed has
    * none) and the state store drops pairs as the watermark passes,
    * instead of accreting one row per flagged pair forever. */
  def nearDupAdmission(s: SparkSession, dir: String, incoming: DataFrame,
      decision: Boolean = false): DataFrame = {
    val corpus = minhashBandsIdx(s, dir)
    val corpSh = corpusShinglesIdx(s, dir)
      .select(col("doc_id").as("corpus_id"), col("shingles").as("sh2"))
    Gates.text.admit(incoming, decision)(
      stage = shingleStage,
      candidates = Candidates.Probes(_
        .select(col("in_id"), col("arr_ts"), col("in_sh"),
          posexplode(GraftFx.minhashBands(col("in_sh"))).as(Seq("b", "bh")))
        .join(corpus, Seq("b", "bh"))
        .select(col("in_id"), col("arr_ts"), col("in_sh"),
          col("doc_id").as("corpus_id"))),
      verify = Verify.SetJoin(corpSh, _
        .withColumn("common", GraftFx.intersectCount(col("in_sh"), col("sh2")))
        .withColumn("jaccard", round(
          col("common") /
            (size(col("in_sh")) + size(col("sh2")) - col("common")), 6))
        .filter(col("jaccard") >= 0.5)))
  }

  /** Cross-source contamination matrix: for every source pair, the
    * number of rare (stop-pruned) shingles they share — the "is my
    * benchmark source leaking into my training sources" view that
    * doc-level pair mining (q33) can't give directly. Same corpus-
    * relative stop threshold as the pair pipelines, so
    * "shared" means shared RARE content, not boilerplate.
    *
    * Plan: reads the PERSISTED [[sizedPostings]] index (which holds
    * exactly the candidate shingles: stop-pruned, ≥2 docs — a df=1
    * shingle can't span two sources, and a one-source multi-doc
    * shingle drops at the set-size filter), then ONE shuffle —
    * distinct (shingle, source) rows group to a sorted source-set per
    * shingle, and pairs are emitted map-side from each set
    * (≤ |sources|²/2 per shingle, ubiquitous shingles already
    * stop-pruned). No corpus re-shingle per run, no self-join of the
    * O(corpus) inverted index against itself. */
  def contaminationMatrix(s: SparkSession, dir: String): DataFrame = {
    val srcSh = sizedPostings(s, dir)
      .select(col("sh"), explode(col("ds")).as("d"))
      .select(col("sh"), col("d.doc_id").as("doc_id"))
      .join(docs(s, dir).select(col("doc_id"), col("source")), "doc_id")
      .select(col("sh"), col("source")).distinct()
    srcSh.groupBy(col("sh"))
      .agg(sort_array(collect_set(col("source"))).as("ss"))
      .filter(size(col("ss")) > 1)
      .select(explode(expr(
        """flatten(transform(ss, (x, i) ->
             transform(slice(ss, i + 2, size(ss) - i - 1),
                       y -> struct(x AS s1, y AS s2))))""")).as("p"))
      .groupBy(col("p.s1").as("s1"), col("p.s2").as("s2"))
      .agg(count(lit(1)).as("shared_shingles"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Band-bucket equi-join candidate pairs over a full signature table. */
  private def bandCandidates(bands: DataFrame): DataFrame =
    bands.as("a")
      .join(bands.as("b"),
        col("a.bh") === col("b.bh") && col("a.b") === col("b.b") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .distinct()

  /** Exact-Jaccard verify of candidate pairs. Shingle sets come from
    * the persisted [[corpusShinglesIdx]] artifact filtered to candidate
    * documents (doc_id semi-join — a parquet lookup, never a corpus
    * re-tokenize), so verify cost tracks the candidate volume. */
  private def pairsFromCandidates(
      s: SparkSession, dir: String, cand: DataFrame): DataFrame = {
    val c = cand.localCheckpoint() // feeds the id filter AND the verify join
    val candIds = c.select(col("d1").as("doc_id"))
      .union(c.select(col("d2").as("doc_id"))).distinct()
    val sh = corpusShinglesIdx(s, dir)
      .join(candIds, Seq("doc_id"), "left_semi")
      .localCheckpoint() // both verify sides read it
    val s1 = sh.select(col("doc_id").as("d1"), col("shingles").as("sh1"))
    val s2 = sh.select(col("doc_id").as("d2"), col("shingles").as("sh2"))
    c.join(s1, "d1").join(s2, "d2")
      .withColumn("common", GraftFx.intersectCount(col("sh1"), col("sh2")))
      .withColumn("jac",
        col("common") / (size(col("sh1")) + size(col("sh2")) - col("common")))
      .filter(col("jac") >= 0.5)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
  }

  /** Exact n-gram Jaccard near-dup via inverted shingle index: explode
    * shingles, drop stop-shingles above the corpus-relative
    * threshold ([[SigFamily.relative]], floor 100; skew guard — at
    * 100 TB a handful of ubiquitous shingles would otherwise square
    * the join; Jaccard is then defined over the pruned sets, standard
    * stop-shingle practice), then group the index by shingle and emit doc pairs from
    * each posting list map-side — ONE shuffle of the index instead of
    * the two a self-join would plan, with the pair blow-up bounded by
    * the stop-shingle cap. Intersection sizes are a count over the emitted
    * pairs — no per-pair set materialization, so the verify stage is a
    * hash aggregation keyed by (d1, d2), never an array intersect. */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    pairCommonCounts(s, dir)
      .withColumn("jac", col("common") / (col("n1") + col("n2") - col("common")))
      .filter(col("jac") >= 0.5)
      .select(col("d1"), col("d2"), round(col("jac"), 6).as("jaccard"))
      .orderBy(col("d1"), col("d2"))

  /** q146: EXACT Jaccard near-dup join via PREFIX FILTERING (the
    * PPJoin/All-Pairs candidate discipline — Chaudhuri, Ganti &
    * Kaushik, "A Primitive Operator for Similarity Joins in Data
    * Cleaning", ICDE 2006; Xiao et al., "Efficient Similarity Joins
    * for Near Duplicate Detection", WWW 2008). q33 buys its bounded
    * candidate space by DROPPING stop-shingles — Jaccard is then
    * defined over the pruned sets. This operator keeps the RAW sets
    * and still never joins all pairs: order every document's shingles
    * by ascending global df (rarest first; ties by shingle — but the
    * result is tie-order-independent, see below), index only each
    * document's PREFIX of length n − ⌈τ·n⌉ + 1, and generate
    * candidates from prefix collisions. The pigeonhole guarantee: two
    * sets with J ≥ τ overlap in ANY (1−τ)-fraction prefix, so the
    * candidate set provably contains every qualifying pair — no
    * recall tradeoff, unlike LSH (q30) or stop-pruning (q33).
    * Candidates are verified with exact Jaccard over the full sets.
    *
    * Scale shape: prefixes hit each document's RAREST shingles, so
    * prefix posting lists are short by construction (a ubiquitous
    * boilerplate shingle lands in a prefix only for documents that
    * contain almost nothing else); the candidate join is one
    * equi-shuffle of the prefix index (a small fraction of the full
    * index the q33 pipeline shuffles); verification joins the
    * candidate pairs back to the PERSISTED shingle-set artifact
    * (in-row `array_intersect` of two doc-bounded arrays). The
    * τ-threshold test is the integer comparison 3·common ≥ n1+n2
    * (⟺ J ≥ 1/2) — no float boundary to disagree on; and because
    * verification is exact, the two engines emit IDENTICAL rows even
    * if df tie-breaks order their prefixes differently (a candidate
    * superset difference is filtered out by the exact check).
    *
    * Output-size caveat (inherent to EVERY exact pair reporter, not
    * this plan): k truly identical documents are C(k,2) true pairs,
    * so the OUTPUT is quadratic in duplicate-clique size — on a
    * dup-heavy corpus the scalable dedup ACTION is the cluster-reps
    * path (q63/q110, linear in docs); this operator is the
    * audit/verification tool where exactness is the point. */
  /** The (doc_id, sh) PREFIX posting index of [[prefixJaccardPairs]],
    * persisted per corpus state via [[graft.observe.IndexStore]] —
    * the q33 `sized_postings` discipline: build once per source
    * fingerprint (one df shuffle + a doc-grain window over the
    * persisted shingle artifact), serve every join thereafter as a
    * plain parquet scan. Deliberately NOT an incremental chain: each
    * document's prefix depends on the GLOBAL df ordering, which every
    * append perturbs — a delta segment would freeze old documents'
    * prefixes against a stale order and silently break the pigeonhole
    * guarantee. A full per-state rebuild is the correct lifecycle, and
    * it is index-build-sized (the exactness lives in the verify step,
    * which always reads the current shingle artifact). */
  private[graft] def prefixIndexIdx(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, prefixIndexSpec, dir)

  private[graft] val prefixIndexSpec: ArtifactSpec = ArtifactSpec(
    "prefix_index", 2, "documents", Decomp.Full { (s, dir) =>
      val sets = corpusShinglesIdx(s, dir)
      val inv = sets.select(col("doc_id"),
        explode(col("shingles")).as("sh"))
      val dfreq = SigFamily.dfOf(inv, Seq("sh"))
      val sizes = sets.select(col("doc_id"), size(col("shingles")).as("n"))
      val wOrd = Window.partitionBy(col("doc_id"))
        .orderBy(col("df"), col("sh"))
      inv.join(dfreq, "sh")
        .withColumn("rn", row_number().over(wOrd))
        .join(sizes, "doc_id")
        // prefix length n − ⌈n/2⌉ + 1 in pure integer arithmetic; rn
        // (the token's rank in the doc's FULL df-order) and n ride
        // along for the join-time positional/length filters
        .filter(expr("rn <= n - (n + 1) div 2 + 1"))
        .select(col("doc_id"), col("sh"), col("rn"), col("n"))
    }, Seq(shingleSetsSpec))

  def prefixJaccardPairs(s: SparkSession, dir: String): DataFrame = {
    val sets = corpusShinglesIdx(s, dir) // persisted (doc_id, shingles)
    val prefix = prefixIndexIdx(s, dir) // persisted prefix postings
    // Candidate generation applies PPJoin's two LOSSLESS pruning
    // filters in the join condition (measured 409k → 125k candidate
    // pairs on the sf0.1 fixture):
    //  - LENGTH: J ≥ 1/2 forces n1 ≤ 2·n2 and n2 ≤ 2·n1;
    //  - POSITIONAL: a match at full-order ranks (rn_a, rn_b) bounds
    //    the intersection by 1 + min(n1−rn_a, n2−rn_b), and for the
    //    FIRST common token (which the prefix guarantee places in
    //    both prefixes whenever J ≥ τ) that bound must clear
    //    3·bound ≥ n1+n2 — so keeping pairs where ANY match passes
    //    never drops a qualifying pair.
    // The exact-verify stage downstream costs ~26 µs per candidate
    // (in-row set intersection over ~1k-element shingle arrays) while
    // the candidate rows themselves are two longs — AQE's coalescing
    // sees a few-MB exchange and folds the distinct to ONE partition,
    // serializing the expensive verify (measured 6.5 s single-task at
    // sf0.1). An explicit-count repartition on the distinct keys
    // carries the same hash partitioning the distinct needs (one
    // exchange, not two) and is exempt from AQE coalescing, so verify
    // parallelism tracks the session's cores at any scale.
    val cand = prefix.as("a")
      .join(prefix.as("b"), col("a.sh") === col("b.sh") &&
        col("a.doc_id") < col("b.doc_id") &&
        col("a.n") * 2 >= col("b.n") && col("b.n") * 2 >= col("a.n") &&
        (least(col("a.n") - col("a.rn"), col("b.n") - col("b.rn")) +
          lit(1)) * 3 >= col("a.n") + col("b.n"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .repartition(s.sparkContext.defaultParallelism,
        col("d1"), col("d2"))
      .distinct()
    cand
      .join(sets.select(col("doc_id").as("d1"), col("shingles").as("s1")),
        "d1")
      .join(sets.select(col("doc_id").as("d2"), col("shingles").as("s2")),
        "d2")
      .withColumn("common",
        GraftFx.intersectCount(col("s1"), col("s2")).cast("bigint"))
      .withColumn("n1", size(col("s1"))).withColumn("n2", size(col("s2")))
      .filter(col("common") * 3 >= col("n1") + col("n2"))
      .select(col("d1"), col("d2"), col("common"),
        round(col("common") / (col("n1") + col("n2") - col("common")), 6)
          .as("jaccard"))
      .orderBy(col("d1"), col("d2"))
  }

  /** EXACT-Jaccard dedup ADMISSION for incoming documents — the
    * streaming face of [[prefixJaccardPairs]], and the exactness
    * upgrade of [[nearDupAdmission]]'s banded gate: an incoming doc is
    * flagged against every corpus doc with TRUE Jaccard ≥ 1/2, no
    * recall loss, no probabilistic bands.
    *
    * Candidate generation drops the incoming side's prefix restriction
    * (computing a prefix stream-side would need a per-doc regroup —
    * a streaming aggregation append mode forbids): incoming tokens
    * join the CORPUS prefix index directly. Still complete — the
    * first common token of any J ≥ τ pair lies in the CORPUS doc's
    * prefix by the pigeonhole bound, and it is by definition among
    * the incoming doc's tokens — just a candidate superset, which the
    * exact verify filters. Every stage is append-mode legal: map-side
    * shingling (set rides the row), a stream-static equi-join on the
    * shingle, watermarked candidate dedup, and an in-row
    * `array_intersect` + integer threshold against the corpus
    * shingle-set artifact. Both static sides are persisted IndexStore
    * artifacts — no corpus rescan per micro-batch. */
  def prefixJaccardAdmission(s: SparkSession, dir: String,
      incoming: DataFrame): DataFrame = {
    val corpusPrefix = prefixIndexIdx(s, dir)
      .select(col("sh"), col("doc_id").as("corpus_id"))
    val corpusSets = corpusShinglesIdx(s, dir)
      .select(col("doc_id").as("corpus_id"), col("shingles"))
    Gates.admit("prefix", Seq("corpus_id", "common", "jaccard"),
      incoming, decide = None)(
      stage = shingleStage,
      candidates = Candidates.Probes(_
        .withColumn("sh", explode(col("in_sh")))
        .join(corpusPrefix, "sh")
        .filter(col("in_id") =!= col("corpus_id"))
        .select(col("in_id"), col("arr_ts"), col("in_sh"),
          col("corpus_id"))),
      verify = Verify.SetJoin(corpusSets, _
        .withColumn("common",
          GraftFx.intersectCount(col("in_sh"), col("shingles"))
            .cast("bigint"))
        .withColumn("n1", size(col("in_sh")))
        .withColumn("n2", size(col("shingles")))
        .filter(col("common") * 3 >= col("n1") + col("n2"))
        .withColumn("jaccard",
          round(col("common") / (col("n1") + col("n2") - col("common")), 6))))
  }

  /** Winnowed fingerprint projection (Schleimer–Wilkerson–Aiken 2003,
    * the MOSS algorithm) of an arbitrary documents frame: per
    * document, hash every token 4-gram, slide a window of 8 k-gram
    * hashes and keep each window's MINIMUM — one in-row HOF pass
    * (map-only; ~n/w distinct mins per doc, an 8× reduction of the
    * index vs raw k-grams). Shared by the full build, the incremental
    * delta (fingerprints of appended docs only), and the streaming
    * admission face. */
  /** The winnowing kernel (k = 4 token-gram md5 hashes over a `ws`
    * word array; w = 8 window minima over a `kg` hash array) as ONE
    * pair of SQL expr strings — consumed by the batch projection AND
    * the streaming admission face, so k/w cannot silently diverge
    * between the persisted corpus artifact and the gate probing it. */
  private val winnowKgramsExpr =
    """transform(sequence(1, greatest(size(ws) - 3, 1)),
      |  i -> md5(concat_ws(' ', slice(ws, i, 4))))""".stripMargin
  private val winnowMinsExpr =
    """array_distinct(transform(
      |  sequence(1, greatest(size(kg) - 7, 1)),
      |  j -> array_min(slice(kg, j, 8))))""".stripMargin

  private def winnowFpsOf(docsDf: DataFrame): DataFrame =
    docsDf
      .withColumn("ws", split(col("text"), " "))
      .withColumn("kg", expr(winnowKgramsExpr))
      .select(col("doc_id"), explode(expr(winnowMinsExpr)).as("fp"))

  /** The (doc_id, fp) winnowed-fingerprint index, PERSISTED via
    * [[graft.observe.IndexStore]] as an append-monotone snapshot chain
    * (the [[corpusShinglesIdx]] discipline): per-doc fingerprints are
    * a pure map, so a corpus append fingerprints ONLY the added files
    * and `old ∪ delta ≡ full rebuild` exactly. The winnowing CPU —
    * the dominant cost of shift-robust dedup at 100 TB — is paid once
    * per document ever; the pair report (q142) and the streaming
    * admission gate ([[winnowAdmission]]) both read the chain as a
    * plain parquet scan. Per-doc rows never span source files →
    * file-decomposable → SEGMENTED (E157): a takedown excises the
    * touched segments instead of re-fingerprinting the corpus. */
  private[graft] val winnowFpsSpec: ArtifactSpec = ArtifactSpec(
    "winnow_fps", 1, "documents", Decomp.Segmented((s, _) =>
      files => winnowFpsOf(Tables.scan(s, files)
        .repartition(s.sparkContext.defaultParallelism))))

  private[graft] def winnowFpsIdx(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, winnowFpsSpec, dir)

  /** Absolute document-frequency cap for winnowing PAIR EMISSION: a
    * fingerprint in more documents than this is boilerplate whose
    * C(df, 2) pair blow-up would dominate the output without naming
    * any real near-dup relation — such lists are dropped here and the
    * LSH/banded pipeline (q30), whose candidate volume is df-
    * independent, remains the designated pair generator for them. An
    * ABSOLUTE bound (unlike the corpus-fraction stop threshold,
    * which still admits nDocs/5-sized lists at scale): with it the
    * widest emitted row is C(256, 2) pair structs no matter the
    * corpus size. The effective cap is
    * `least(max(100, nDocs / 5), 256)` on both engines
    * ([[SigFamilies.winnowFps]]). */
  private[graft] val winnowDfCap = 256L

  /** q142: winnowing fingerprint pairs — docs sharing ≥ 2 winnowed
    * fingerprints pair up, ranked by shared-fingerprint count. The
    * guarantee fixed-size chunking (q89) cannot give: any shared
    * token run of length ≥ w + k − 1 = 11 produces a shared
    * fingerprint REGARDLESS of where it sits in either document, so
    * shifted plagiarism/quote overlap is caught.
    *
    * Scale shape: fingerprints come from the PERSISTED
    * [[winnowFpsIdx]] artifact (winnowing CPU paid once per document
    * ever; both consumers below are parquet scans of 16 B keys). The
    * posting build follows the q33 [[sizedPostings]] discipline —
    * ubiquitous fingerprints (df past the ABSOLUTE [[winnowDfCap]])
    * are the persisted `winnow_stop_fps` list, anti-joined away as a
    * broadcast BEFORE any doc list is collected, so
    * both the collect buffer and the in-row pair emission are bounded
    * by the constant cap (≤ C(256,2) structs per row), and the
    * emission is one shuffle of the pruned index, never a self-join. */
  def winnowingPairs(s: SparkSession, dir: String): DataFrame = {
    val postings = winnowFpsIdx(s, dir)
      .join(broadcast(SigFamilies.winnowFps.stops(s, dir)), Seq("fp"),
        "left_anti")
      .groupBy(col("fp"))
      .agg(sort_array(collect_set(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) >= 2)
    postings
      .select(explode(expr(
        """flatten(transform(ds, (x, i) ->
          |  transform(slice(ds, i + 2, size(ds) - i - 1),
          |            y -> struct(x AS d1, y AS d2))))""".stripMargin))
        .as("p"))
      .groupBy(col("p.d1").as("d1"), col("p.d2").as("d2"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= 2)
      .orderBy(col("shared").desc, col("d1"), col("d2"))
  }

  /** Shift-robust dedup ADMISSION for incoming documents — the
    * production face of [[winnowFpsIdx]], completing the E36/E41
    * pattern for the winnowing family: fingerprint the incoming docs
    * map-side (the same [[winnowFpsOf]] expression — window/state-
    * free, so the SAME plan runs under `readStream`), collide them
    * against the persisted corpus fingerprint chain (a stream-static
    * equi-join on the 16 B fingerprint), and flag pairs sharing ≥ 2
    * fingerprints. Emits (in_id, corpus_id, shared).
    *
    * Shape notes (mirrors [[nearDupAdmission]]): the incoming doc's
    * fingerprint SET rides each candidate row so the ≥ 2 check is an
    * in-row `array_intersect` against the corpus doc's set — no
    * streaming aggregation, so append mode works; candidate dedup is
    * watermarked, so state stays bounded on a long feed; the corpus
    * side reads only index-store artifacts, never the documents
    * table. The stop list is the persisted `winnow_stop_fps`
    * artifact. The corpus fingerprint-set relation is a static-side
    * AGGREGATE of the persisted chain — allowed in a stream-static
    * join, and PINNED (localCheckpoint) at gate build: one corpus pass
    * per gate start, never per trigger (the per-doc set fold is
    * corpus-sized, and Spark re-executes unpinned static sides every
    * micro-batch; StreamingSpec asserts the micro-batch plan carries
    * no collect_set fold). The sets fold cannot move into the
    * segmented store like media's (E173): it is PRUNED by the
    * global-df stop list, and globally-df-dependent artifacts are not
    * file-decomposable (a deletion shifts df everywhere — the
    * sized_postings/prefix_index class). */
  def winnowAdmission(s: SparkSession, dir: String,
      incoming: DataFrame): DataFrame = {
    val corpus = winnowFpsIdx(s, dir)
    val stops = SigFamilies.winnowFps.stops(s, dir)
    val pruned = corpus.join(broadcast(stops), Seq("fp"), "left_anti")
    val corpusSets = pruned
      .groupBy(col("doc_id"))
      .agg(collect_set(col("fp")).as("corpus_fps"))
      .select(col("doc_id").as("corpus_id"), col("corpus_fps"))
      .localCheckpoint()
    Gates.admit("winnow", Seq("corpus_id", "shared"),
      incoming, decide = None)(
      // map-only fingerprint projection that KEEPS arr_ts and the
      // per-doc fingerprint set (a join back onto the feed would be
      // stream-stream)
      stage = _.withColumn("ws", split(col("text"), " "))
        .withColumn("kg", expr(winnowKgramsExpr)) // the ONE kernel def
        .withColumn("in_fps", expr(winnowMinsExpr))
        .select(col("doc_id").as("in_id"), col("arr_ts"), col("in_fps")),
      candidates = Candidates.Probes(_
        .withColumn("fp", explode(col("in_fps")))
        .join(pruned.select(col("fp"), col("doc_id").as("corpus_id")), "fp")
        .select(col("in_id"), col("arr_ts"), col("in_fps"),
          col("corpus_id"))),
      verify = Verify.SetJoin(corpusSets, _
        .withColumn("shared",
          GraftFx.intersectCount(col("in_fps"), col("corpus_fps"))
            .cast("bigint"))
        .filter(col("shared") >= 2)))
  }

  /** Near-dup clusters (the step after X2's pair verification): connected
    * components over the verified MinHash pair graph, one row per dup
    * cluster — `cluster_id` = min doc_id (the canonical doc a dedup
    * keeps), `members` = every doc in the cluster, of which
    * `n_docs - 1` get dropped. Pairs alone under-dedup (A≈B, B≈C ⇒ keep
    * one of {A,B,C}, which only the component view sees). Components
    * via [[Lineage.connectedComponents]] min-label propagation —
    * O(diameter) shuffle rounds over a relation of pair endpoints only,
    * never the full corpus. */
  def dupClusters(s: SparkSession, dir: String): DataFrame =
    clustersFrom(Lineage.connectedComponents(
      verifiedPairs(s, dir).select(col("d1"), col("d2"))))

  /** Same clustering contract as [[dupClusters]] but via the
    * large-star/small-star contraction
    * ([[Lineage.connectedComponentsBigStar]]) — the O(log²)-round
    * variant for deep components. Shares q63's oracle: the two
    * algorithms must produce identical clusters. */
  def dupClustersBigStar(s: SparkSession, dir: String): DataFrame =
    clustersFrom(Lineage.connectedComponentsBigStar(
      verifiedPairs(s, dir).select(col("d1"), col("d2"))))

  /** q110: representative selection — the curation step AFTER
    * clustering decides which near-duplicate survives. Policy: keep
    * the longest document (most content), ties broken by smallest
    * doc_id; report how many chars the cluster drops. One join of the
    * label relation (O(docs-in-clusters), not O(corpus)) against the
    * docs table, one agg — the representative is picked by a mergeable
    * `max(struct(n_chars, -doc_id))`, so selection is a partial agg,
    * not a window sort. Scales with the dup-cluster mass only. */
  def clusterRepresentatives(s: SparkSession, dir: String): DataFrame = {
    val labels = Lineage.connectedComponents(
      verifiedPairs(s, dir).select(col("d1"), col("d2")))
    labels
      .join(docs(s, dir).select(col("doc_id"), col("n_chars")),
        labels("v") === col("doc_id"))
      .groupBy(col("label").as("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        max(struct(col("n_chars"), (-col("doc_id")).as("neg_id"))).as("rep"),
        sum(col("n_chars")).as("sum_chars"))
      .select(col("cluster_id"), col("n_docs"),
        (-col("rep.neg_id")).as("rep_doc_id"),
        col("rep.n_chars").as("rep_n_chars"),
        (col("sum_chars") - col("rep.n_chars")).cast("bigint").as("chars_dropped"))
      .orderBy(col("cluster_id"))
  }

  private def clustersFrom(labels: DataFrame): DataFrame =
    labels
      .groupBy(col("label").as("cluster_id"))
      .agg(
        count(lit(1)).as("n_docs"),
        array_join(
          transform(sort_array(collect_list(col("v"))), _.cast("string")),
          ",").as("members"))
      .orderBy(col("cluster_id"))

  /** `bits`-wide SimHash per doc (bits ≤ 32 — one vote per md5 hex
    * nibble): per-word md5, per-bit ±1 vote from the top bit of each
    * nibble, sign of the vote sum sets the bit. Map-only, via the
    * [[graft.functions.SimHash]] Catalyst expression — one digest per
    * token and integer bit tests, replacing the interpreted
    * per-lambda-element HOF fold (measured 10.1 s → sub-second for
    * q107 at sf0.1; the DuckDB oracle keeps the independent
    * string-nibble construction as the cross-check, and
    * LlmSpec proves the two agree bit-for-bit). */
  private[graft] def simhashSigs(d: DataFrame, bits: Int): DataFrame =
    d.select(
      col("doc_id"),
      graft.functions.GraftFx.simhash(col("text"), bits).as("simhash"))

  /** q32: the 16-bit signature relation itself. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashSigs(docs(s, dir), 16)
      .orderBy(col("doc_id"))

  /** SimHash near-dup by HAMMING BALL (Manku, Jain & Das Sarma,
    * WWW 2007, "Detecting near-duplicates for web crawling"): find
    * all pairs within Hamming distance ≤ 3 of a 32-bit signature,
    * reported as the per-distance pair histogram. Candidates come
    * from the paper's pigeonhole banding — 4 bands of 8 bits; a pair
    * differing in ≤ 3 bits CANNOT differ in all 4 bands, so matching
    * on any one band has EXACT recall (the oracle brute-forces
    * all-pairs and must agree bit-for-bit). q90's hyperplane LSH
    * flavor catches pairs COLLIDING on a full signature; this owns
    * the near-miss ring around it.
    *
    * Scale shape: signatures are the map-only in-row fold; each doc
    * emits exactly 4 (band, value) keys into an equi-join — never
    * all-pairs; the verify (`bit_count(xor)`) is candidate-bound and
    * codegen'd; the histogram is one partial agg. At web scale the
    * 64-bit signature splits into 4×16-bit bands (65 536 buckets per
    * band) — same plan, wider literal. */
  def simhashHamming(s: SparkSession, dir: String): DataFrame = {
    // checkpointed: the banded relation feeds BOTH sides of the
    // candidate self-join — without it the signature scan runs twice
    // (at 100 TB the signature relation is the thing you persist)
    val sig = simhashSigs(docs(s, dir), 32).localCheckpoint()
    val banded = sig.select(col("doc_id"), col("simhash"),
      explode(expr(
        """transform(sequence(0, 3),
             b -> named_struct('b', b,
               'bv', (simhash div shiftleft(1L, 8 * b)) % 256))"""))
        .as("band"))
      .select(col("doc_id"), col("simhash"), col("band.b").as("b"),
        col("band.bv").as("bv"))
    val a = banded.select(col("b"), col("bv"), col("doc_id").as("d1"),
      col("simhash").as("s1"))
    val bq = banded.select(col("b"), col("bv"), col("doc_id").as("d2"),
      col("simhash").as("s2"))
    a.join(bq, Seq("b", "bv"))
      .filter(col("d1") < col("d2"))
      .select(col("d1"), col("d2"), col("s1"), col("s2"))
      .distinct() // a pair can share several bands
      .withColumn("hamming", bit_count(col("s1").bitwiseXOR(col("s2"))))
      .filter(col("hamming") <= 3)
      .groupBy(col("hamming"))
      .agg(count(lit(1)).as("n_pairs"))
      .select(col("hamming").cast("long").as("hamming"), col("n_pairs"))
      .orderBy(col("hamming"))
  }

  /** Token frequency (vocabulary building) with an explicit two-stage
    * salted aggregation: stage 1 aggregates on (token, salt) — 16-way
    * splitting any heavy-hitter key across reducers — stage 2 merges
    * the partials. For a Zipf-distributed 100 TB corpus the head token
    * appears in ~every row; salting bounds the largest reduce group.
    * The salt width scales with the session's parallelism (floored at
    * 16): splitting the head key 16 ways is pointless on a
    * 1 000-executor cluster — the head must split across the actual
    * reducer count for the stage to balance. Results are identical to a
    * direct groupBy under ANY salt width (sum is associative), so the
    * oracle is unaffected; top-k with total tie-break for the oracle. */
  def tokenFreq(s: SparkSession, dir: String): DataFrame = {
    val nSalts = math.max(16, s.sparkContext.defaultParallelism)
    docs(s, dir)
      .select(explode(split(col("text"), " ")).as("token"))
      .withColumn("salt", pmod(crc32(col("token")), lit(nSalts)))
      .groupBy(col("token"), col("salt"))
      .agg(count(lit(1)).as("partial_n")) // stage 1: skew-split partials
      .groupBy(col("token"))
      .agg(sum(col("partial_n")).as("n")) // stage 2: merge
      .orderBy(col("n").desc, col("token"))
      .limit(100)
  }

  /** One admitted shard row of [[mixAdmission]] — the exact layout the
    * q152 artifact persists, so the streamed ledger IS shard content. */
  case class ShardRow(source: String, doc_id: Long, n_tok: Long, cum: Long)

  /** One gate decision of [[mixGate]]: `status` is `admit` (in
    * contract and within budget — `cum` is the running total INCLUDING
    * this document) or `quarantine` (the document violated the
    * crawler's monotone doc_id contract — `cum` is the sentinel -1 and
    * the running total did NOT advance). In-contract documents over
    * budget emit nothing: "budget full" is the gate's steady state,
    * not an event worth a row per rejected document. */
  case class GateRow(source: String, doc_id: Long, n_tok: Long, cum: Long,
      status: String)

  /** Per-source gate state: the q149 running token total over every
    * in-contract document seen (admitted or not), plus the largest
    * doc_id processed — the contract CHECK, so an out-of-order or
    * duplicate delivery fails loudly (quarantine) instead of silently
    * diverging from the batch semantics. */
  case class GateState(cum: Long, maxId: Long)

  /** One output row of [[curatedAdmission]]'s streaming dedup plane:
    * the first arrival of a novel hash (`quarantine = false`, admitted
    * downstream) or a later duplicate arrival with a SMALLER doc_id —
    * the representative the batch face's `min_by(doc_id)` would have
    * kept instead, i.e. a cross-source out-of-id-order interleave —
    * flagged for the quarantine output (`quarantine = true`). `arr_ts`
    * rides along as the DECLARED output event-time column, which is
    * what lets this stateful plane legally chain into [[gateWith]]'s
    * stateful operator under the global-watermark correctness check. */
  private[graft] case class DedupOut(source: String, doc_id: Long,
      n_tok: Long, quarantine: Boolean, arr_ts: java.sql.Timestamp)

  /** [[curatedAdmission]]'s dedup-plane processor (arbitrary-state v2,
    * the [[graft.stream.Watchdog]] API — required here because the
    * plane chains into the gate's `flatMapGroupsWithState` and
    * `transformWithState` is the one stateful operator that can
    * DECLARE its output event-time column, re-enabling downstream
    * stateful operators; requires the RocksDB state store provider):
    * per text hash, `ValueState` holds the kept representative's
    * doc_id — ONE long per in-window hash, strictly smaller state than
    * the `dropDuplicatesWithinWatermark` row it replaced — and one
    * event-time timer at first-arrival + window clears it when the
    * watermark passes (the same eviction clock). First arrival emits
    * (keep-first is the only admissible online rule in append mode);
    * later arrivals with a smaller doc_id emit flagged; later arrivals
    * with a larger doc_id drop silently, exactly as before. */
  private[ops] class CuratedDedupProcessor(winMs: Long)
      extends StatefulProcessor[String,
        (String, String, Long, Long, java.sql.Timestamp), DedupOut] {

    @transient private var kept: ValueState[Long] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      kept = getHandle.getValueState[Long]("kept",
        org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

    override def handleInputRows(key: String,
        rows: Iterator[(String, String, Long, Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[DedupOut] =
      rows.flatMap { case (_, src, id, n, ts) =>
        if (!kept.exists()) {
          kept.update(id)
          // evict when the watermark passes this first arrival +
          // window; clamped above the current watermark (the operator
          // does not pre-filter late-but-allowed rows)
          getHandle.registerTimer(math.max(ts.getTime + winMs,
            timerValues.getCurrentWatermarkInMs() + 1L))
          Iterator.single(DedupOut(src, id, n, quarantine = false, ts))
        } else if (id < kept.get())
          Iterator.single(DedupOut(src, id, n, quarantine = true, ts))
        else Iterator.empty
      }

    override def handleExpiredTimer(key: String,
        timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[DedupOut] = {
      kept.clear()
      Iterator.empty
    }
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.declare(Gates.llm, Map(
    "q121_embedding_coverage" -> embeddingCoverage,
    "q122_fuzzy_name_pairs" -> fuzzyNamePairs,
    "q67_tfidf_top_terms" -> tfidfTopTerms,
    "q68_containment_pairs" -> containmentPairs,
    "q72_charngram_langid" -> charNgramLangId,
    "q28_text_stats" -> textStats,
    "q29_exact_dedup" -> exactDedup,
    "q30_minhash_pairs" -> minhashPairs,
    "q31_topk_cosine" -> topkCosine,
    "q32_simhash" -> simhash,
    "q33_jaccard_pairs" -> jaccardPairs,
    "q34_langid_confusion" -> langIdConfusion,
    "q35_quality_score" -> qualityScore,
    "q78_length_outliers" -> lengthOutliers,
    "q36_token_counts" -> tokenCounts,
    "q37_fingerprints" -> fingerprints,
    "q38_ivf_topk" -> ivfTopk,
    "q39_embed_neardup" -> embedNearDup,
    "q53_token_freq" -> tokenFreq,
    "q55_split_assignment" -> splitAssignment,
    "q133_global_sequence" -> globalSequence,
    "q81_sequence_packing" -> sequencePacking,
    "q83_filtered_topk" -> filteredTopk,
    "q84_doc_chunks" -> docChunks,
    "q85_data_mixture" -> dataMixture,
    "q88_contamination_matrix" -> contaminationMatrix,
    "q89_chunk_dedup" -> chunkDedup,
    "q90_hyperplane_neardup" -> hyperplaneNearDup,
    "q132_multiprobe_topk" -> multiProbeTopK,
    "q59_decontaminate" -> decontaminate,
    "q73_bloom_decontaminate" -> bloomDecontaminate,
    "q60_repetition_filter" -> repetitionFilter,
    "q63_dup_clusters" -> dupClusters,
    "q77_dup_clusters_bigstar" -> dupClustersBigStar,
    "q110_cluster_reps" -> clusterRepresentatives,
    "q64_kmeans_iteration" -> kmeansIteration,
    "q91_url_dedup" -> urlDedup,
    "q92_lm_rare_filter" -> lmRareFilter,
    "q93_quantized_topk" -> quantizedTopk,
    "q94_domain_caps" -> domainCaps,
    "q95_pii_scrub" -> piiScrub,
    "q96_pq_topk" -> pqTopk,
    "q144_pq_rerank_topk" -> pqRerankTopk,
    "q145_ivf_adc_topk" -> ivfAdcTopk,
    "q150_ivf_multiprobe_topk" -> ivfAdcMultiprobeTopk,
    "q158_ivf_adaptive_topk" -> ivfAdcAdaptiveTopk,
    "q146_prefix_jaccard_pairs" -> prefixJaccardPairs,
    "q147_residual_ivf_adc_topk" -> residualIvfAdcTopk,
    "q148_mix_allocation" -> mixAllocation,
    "q149_mix_extraction" -> mixExtraction,
    "q151_curation_mix_pipeline" -> curationMixPipeline,
    "q152_mix_shards" -> mixShards,
    "q153_ann_recall_report" -> annRecallReport,
    "q154_curated_mix_shards" -> curatedMixShards,
    "q98_semantic_dedup" -> semanticDedup,
    "q99_dsir_selection" -> dsirSelection,
    "q100_leakage_safe_split" -> leakageSafeSplit,
    "q102_bpe_merges" -> bpeMerges,
    "q103_bpe_encode" -> bpeEncode,
    "q104_gopher_repetition" -> gopherRepetition,
    "q106_curation_pipeline" -> curationPipeline,
    "q112_quality_classifier" -> qualityClassifier,
    "q113_random_projection" -> randomProjection,
    "q114_incremental_doc_counts" -> incrementalDocCounts,
    "q115_char_entropy" -> charEntropy,
    "q107_simhash_hamming" -> simhashHamming,
    "q139_source_kl_mix" -> sourceKlMix,
    "q140_mix_temperature" -> mixTemperature,
    "q141_vocab_stats" -> vocabStats,
    "q142_winnowing_pairs" -> winnowingPairs,
    "q143_mix_report" -> mixReport,
  ))

  /** Char-bigram language-model rare-sequence filter — the integer-
    * exact cousin of the perplexity filters used for corpus cleaning
    * (CCNet/Gopher family score documents under a small LM and drop
    * the tails): train a per-language char-bigram model on the corpus
    * itself (one aggregation; the model is ≤ |charset|² rows per
    * language — driver/broadcast-sized at ANY corpus scale), then flag
    * documents whose fraction of corpus-rare bigrams is high. "Rare"
    * and "flagged" are INTEGER comparisons (`cnt·10⁴ < total`,
    * `n_rare·10 > n_bigrams`), so both engines agree exactly — no
    * cross-engine floating-point log drift, which is why this is the
    * rare-RATIO formulation rather than mean log-prob.
    *
    * Plan: bigram explode → broadcast model join → per-doc partial
    * agg. At 100 TB the explode streams map-side into the partial
    * aggregation and only (doc_id, counters) rows shuffle. */
  def lmRareFilter(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.GraftFx.charNgrams(col("text"), 2)).as("bg"))
    val model = bg.groupBy(col("lang"), col("bg"))
      .agg(count(lit(1)).as("cnt"))
    val totals = model.groupBy(col("lang")).agg(sum(col("cnt")).as("total"))
    val rare = model.join(totals, "lang")
      .select(col("lang"), col("bg"),
        (col("cnt") * 10000L < col("total")).cast("long").as("is_rare"))
    bg.join(broadcast(rare), Seq("lang", "bg"))
      .groupBy(col("doc_id"), col("lang"))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(col("is_rare")).as("n_rare"))
      .withColumn("flagged",
        (col("n_rare") * 10L > col("n_bigrams")).cast("long"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_rare")).as("sum_rare"),
        sum(col("flagged")).as("n_flagged"))
      .orderBy(col("lang"))
  }

  /** Semantic (embedding-space) dedup — the SemDeDup recipe (Abbas et
    * al. 2023, arXiv:2303.09540): cluster the corpus embeddings with
    * the trained IVF quantizer, then WITHIN each cluster drop every
    * vector that has a near-duplicate (cosine ≥ 0.4, q39's verified
    * threshold) with a smaller vec_id — the greedy id-ordered
    * keep-first rule, the deterministic stand-in for the paper's
    * keep-one-per-ε-ball sweep. Output is the DROP LIST itself (the
    * artifact a pipeline applies): one row per removed vector with the
    * smallest-id neighbor that removed it ("killer") and their cosine.
    *
    * Scale shape is exactly q39's: candidate pairs come from the
    * persisted cluster equi-join (never all-pairs — occupancy is
    * bounded by the corpus-derived centroid count), the greedy rule is
    * one partial-agg min over pair structs, and nothing beyond the
    * drop list leaves the cluster partitions. */
  def semanticDedup(s: SparkSession, dir: String): DataFrame = {
    val cl = ivfClusters(s, dir)
    val a = cl.select(col("cid"), col("vec_id").as("v1"),
      col("v").as("x1"), col("nrm").as("n1"))
    val b = cl.select(col("cid"), col("vec_id").as("v2"),
      col("v").as("x2"), col("nrm").as("n2"))
    a.join(b, "cid")
      .filter(col("v1") < col("v2"))
      .withColumn("cos", dot(col("x1"), col("x2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= 0.4)
      .groupBy(col("v2"), col("cid"))
      .agg(min(struct(col("v1"), col("cos"))).as("k"))
      .select(col("v2").as("vec_id"), col("cid"),
        col("k.v1").as("killer"), round(col("k.cos"), 6).as("cos"))
      .orderBy(col("vec_id"))
  }

  /** DSIR-style target-distribution selection (Xie et al. 2023,
    * arXiv:2302.03169, "Data Selection for Language Models via
    * Importance Resampling") in the engine's integer-exact idiom:
    * estimate a TARGET char-bigram model (the `en` slice standing in
    * for the wanted distribution) and a SOURCE model (the whole raw
    * corpus), call a bigram "target-favored" when its target rate
    * exceeds its source rate — compared by integer cross-multiply
    * `cnt_t·total_s > cnt_s·total_t` over decimal(38) so neither
    * engine overflows at web-scale counts and no log-likelihood
    * float ever crosses engines — and select the documents where
    * favored occurrences hold a strict majority (`2·n_fav >
    * n_bigrams`, the sign of the log-ratio under the rate proxy).
    *
    * Plan: one bigram explode feeds both model aggregations (each
    * ≤ |charset|² rows — broadcast-sized at ANY corpus scale); the
    * per-doc scoring pass joins the broadcast favored-set and partial-
    * aggs map-side, so only (doc, counters) rows ever shuffle. */
  def dsirSelection(s: SparkSession, dir: String): DataFrame = {
    val bg = docs(s, dir)
      .select(col("doc_id"), col("lang"),
        explode(graft.functions.GraftFx.charNgrams(col("text"), 2)).as("bg"))
    val tgt = bg.filter(col("lang") === "en")
      .groupBy(col("bg")).agg(count(lit(1)).as("cnt_t"))
    val src = bg.groupBy(col("bg")).agg(count(lit(1)).as("cnt_s"))
    val totT = tgt.agg(sum(col("cnt_t")).as("total_t"))
    val totS = src.agg(sum(col("cnt_s")).as("total_s"))
    val favored = src.join(tgt, Seq("bg"), "left")
      .na.fill(0L, Seq("cnt_t"))
      .crossJoin(broadcast(totT)).crossJoin(broadcast(totS))
      .select(col("bg"),
        (col("cnt_t").cast("decimal(38,0)") * col("total_s") >
          col("cnt_s").cast("decimal(38,0)") * col("total_t"))
          .cast("long").as("favored"))
    bg.join(broadcast(favored), "bg")
      .groupBy(col("doc_id"), col("lang"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("favored")).as("n_fav"))
      .withColumn("selected",
        (col("n_fav") * 2L > col("n_bigrams")).cast("long"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_fav")).as("sum_fav"),
        sum(col("selected")).as("n_selected"))
      .orderBy(col("lang"))
  }

  /** Leakage-safe train/val/test split — q55's deterministic hash
    * split made near-dup-aware: a near-duplicate pair split across
    * train and test leaks training data into evaluation, so the split
    * key is the document's DUP-CLUSTER representative (the min-label
    * connected component over the verified MinHash pair graph, q63's
    * relation) rather than the document itself — every member of a dup
    * cluster lands in the same split by construction. Unclustered
    * documents fall back to their own id. The label relation is
    * pair-ENDPOINT-sized — which on a clean corpus is a sliver, but
    * on a dup-heavy web crawl (30–50% duplicates is normal) grows
    * CORPUS-LINEARLY, so the join carries no broadcast hint: AQE
    * broadcasts when the endpoints actually fit and falls back to the
    * doc_id hash shuffle when they don't (the q157 stop-list lesson
    * applied preemptively — a forced broadcast here OOMs exactly on
    * the corpora that need leakage-safe splits most). */
  private[graft] def leakageSafeAssignment(
      s: SparkSession, dir: String): DataFrame = {
    val labels = Lineage.connectedComponents(
      verifiedPairs(s, dir).select(col("d1"), col("d2")))
      .select(col("v").as("doc_id"), col("label"))
    docs(s, dir)
      .join(labels, Seq("doc_id"), "left")
      .withColumn("rep", coalesce(col("label"), col("doc_id")))
      .withColumn("bucket",
        pmod(graft.functions.TopK.knuthHash(col("rep")), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
  }

  def leakageSafeSplit(s: SparkSession, dir: String): DataFrame = {
    leakageSafeAssignment(s, dir)
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("label").isNotNull.cast("long")).as("n_dup_docs"),
        countDistinct(col("rep")).as("n_groups"),
        sum(col("n_chars")).as("sum_chars"))
      .orderBy(col("split"))
  }

  /** Merge rounds for [[bpeMerges]] — a tokenizer-vocabulary budget
    * (model hyperparameter, NOT a data-scale constant: the merge count
    * a user asks for is the same at any corpus size). The oracle
    * unrolls exactly this many rounds. */
  private val bpeRounds = 6

  /** Distributed BPE merge training (Sennrich et al. 2016,
    * arXiv:1508.07909): the classic byte-pair-encoding loop — count
    * adjacent token pairs, merge the most frequent pair corpus-wide,
    * repeat — run as `bpeRounds` Spark aggregations. Output is the
    * MERGE TABLE (round, left, right, merged, cnt), the artifact a
    * tokenizer ships.
    *
    * Cross-engine-exact by construction: the corpus state is a string
    * of `|`-wrapped tokens (`|h||e||l||l||o|`), so "apply merge (a,b)"
    * is ONE greedy leftmost non-overlapping `replace(s,'|a||b|','|ab|')`
    * — the same scan-left semantics in Spark (`UTF8String.replace`) and
    * DuckDB, and exactly BPE's leftmost-first merge order; the wrapper
    * makes a token-boundary-safe match without lookbehind (RE2 in the
    * oracle has none). No floats anywhere, so no drift class at all.
    * Ties break (max cnt, min left, min right) via one partial-agg
    * `min(struct(-cnt, a, b))` — binary string order in both engines
    * over the [a-z ] alphabet.
    *
    * Scale shape: training reads a deterministic 10% sample (id-hash
    * predicate pushed to the scan — tokenizers train on a bounded
    * sample at any corpus size, the full 100 TB corpus adds counts,
    * not information); each round is one map-side-combinable
    * pair-count whose key space is ≤ vocab², and the driver holds only
    * the single winning pair per round — the Lloyd-training pattern
    * (model params on the driver, data never). `localCheckpoint`
    * truncates the per-round lineage so round r never recomputes
    * rounds 1..r-1 (K corpus passes total, not K²/2). */
  private def trainBpe(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    var cur = docs(s, dir)
      .filter(pmod(col("doc_id"), lit(10)) === 0)
      .select(regexp_replace(lower(col("text")), "[^a-z ]", "").as("t"))
      .filter(length(col("t")) > 0)
      .select(expr("concat('|', array_join(transform(sequence(1, " +
        "length(t)), i -> substring(t, i, 1)), '||'), '|')").as("s"))
      .localCheckpoint(false) // lazy: materializes inside round 1's job
    val merges =
      scala.collection.mutable.Buffer.empty[(Int, String, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= bpeRounds && !exhausted) {
      val row = cur
        .withColumn("tk",
          expr("split(substring(s, 2, length(s) - 2), '\\\\|\\\\|')"))
        .select(explode(expr("zip_with(slice(tk, 1, size(tk) - 1), " +
          "slice(tk, 2, size(tk) - 1), (x, y) -> struct(x AS a, y AS b))"))
          .as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(count(lit(1)).as("cnt"))
        .agg(min(struct((-col("cnt")).as("nc"), col("a"), col("b"),
          col("cnt"))).as("m"))
        .select(col("m.a"), col("m.b"), col("m.cnt"))
        .head()
      if (row.isNullAt(0)) exhausted = true // degenerate corpus: no pairs
      else {
        val (a, b, cnt) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r, a, b, a + b, cnt))
        if (r < bpeRounds)
          cur = cur
            .select(expr(s"replace(s, '|$a||$b|', '|$a$b|')").as("s"))
            .localCheckpoint(false) // lazy: next round's job materializes
      }
      r += 1
    }
    merges.toSeq.toDF("round", "left", "right", "merged", "cnt")
      .orderBy(col("round"))
  }

  /** The trained merge table as a persisted model artifact: training
    * runs once per source state (the IndexStore discipline every other
    * trained model here follows — IVF centroids, SQ8 scales, PQ
    * codebooks); every later call, session, or JVM reads the 6-row
    * parquet. No incremental rule: a sample-trained tokenizer retrains
    * on any corpus change. */
  private[graft] val bpeMergesSpec: ArtifactSpec =
    ArtifactSpec("bpe_merges", 1, "documents", Decomp.Full(trainBpe))

  private[graft] def bpeModel(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, bpeMergesSpec, dir)

  def bpeMerges(s: SparkSession, dir: String): DataFrame =
    bpeModel(s, dir).orderBy(col("round"))

  /** Per-row BPE ENCODE of a `doc_id`/`lang`/`text` frame against a
    * trained merge list: normalize, wrap, apply the merges in round
    * order as chained greedy-leftmost replaces — a PURE projection
    * (the model rides as O(vocab) string literals), so the identical
    * plan runs under `readStream` with zero state (E61, the text twin
    * of sq8Routing). Docs empty after normalization carry no tokens
    * and are dropped, mirroring training. */
  private[graft] def bpeEncodedRows(df: DataFrame,
      merges: Seq[(String, String)]): DataFrame = {
    val applied = merges.foldLeft(col("s")) { case (c, (a, b)) =>
      replace(c, lit(s"|$a||$b|"), lit(s"|$a$b|"))
    }
    df.withColumn("t", regexp_replace(lower(col("text")), "[^a-z ]", ""))
      .filter(length(col("t")) > 0)
      .withColumn("s", expr("concat('|', array_join(transform(" +
        "sequence(1, length(t)), i -> substring(t, i, 1)), '||'), '|')"))
      .withColumn("es", applied)
      .select(col("doc_id"), col("lang"), length(col("t")).as("n_chars"),
        size(expr("split(substring(es, 2, length(es) - 2), '\\\\|\\\\|')"))
          .as("n_tok"))
  }

  /** Corpus-wide encode report: per-language document/token/char
    * totals under the persisted tokenizer — the compression a trained
    * BPE buys, by slice. One projection + one partial-agg groupBy. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val merges = bpeModel(s, dir).orderBy(col("round")).collect()
      .map(r => (r.getString(1), r.getString(2))).toSeq
    bpeEncodedRows(docs(s, dir), merges)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tok")).as("n_tokens"),
        sum(col("n_chars")).as("n_chars"))
      .orderBy(col("lang"))
  }

  /** Gopher-style repetition filter (Rae et al. 2021,
    * arXiv:2112.11446 Table A1): per-document characters inside the
    * most character-occupying word 2-gram (`top2_chars`) and inside
    * duplicated word 3-grams (`dup3_chars`); a document breaching
    * either fraction threshold is repetition spam (the per-document
    * char-fraction rules proper, complementing q60's per-language
    * distinct-3-gram ratio report). Thresholds compare
    * as integer cross-products (`25·top2 > 3·n_chars` ⇔ 12 %,
    * `10·dup3 > n_chars` ⇔ 10 %) so both engines agree exactly.
    *
    * Scale shape: ZERO data shuffle (the trailing orderBy is result
    * presentation) — both statistics are per-row projections. A
    * document's n-grams sort IN-ROW (`array_sort`), then one
    * sequential `aggregate` fold per statistic walks the sorted array
    * once, tracking the current equal-run: O(k log k) per row, each
    * n-gram array referenced exactly once. The relational formulation
    * (explode → count → per-doc max) would shuffle the exploded
    * corpus — ~2× character amplification per n-gram order at 100 TB;
    * the DuckDB oracle deliberately uses that independent formulation
    * as the cross-check. */
  def gopherRepetition(s: SparkSession, dir: String): DataFrame =
    gopherStats(docs(s, dir))
      .select(col("doc_id"), col("n_chars"), col("top2_chars"),
        col("dup3_chars"), col("keep"))
      .orderBy(col("doc_id"))

  /** The per-row statistics of [[gopherRepetition]], appended to
    * whatever frame they are given (all input columns survive) — the
    * composable form [[curationPipeline]] chains. */
  private[graft] def gopherStats(d: DataFrame): DataFrame = {
    // The whole computation lives in ONE self-contained expression with
    // the word array bound as a LAMBDA VARIABLE (`transform(array(
    // split(...)), w -> ...)` — the single-element-transform "let"
    // idiom). Why: a pushed-down filter on `keep` substitutes the
    // defining expression into its condition; with `w` as a plain
    // projected column that substitution inlines `split(text)` at every
    // `element_at(w, i)` reference INSIDE the n-gram lambdas — the
    // split re-runs per lambda element, O(words²) per row (measured:
    // q106 5.7 s vs q104's 0.5 s for identical stats at sf0.1). Lambda
    // binding evaluates the split exactly once no matter where the
    // expression is inlined, and `keep` is a single struct-field
    // reference so the filter condition carries exactly one copy.
    //  - top2: best run: count·len of the top 2-gram (a run of count c
    //    peaks at c·len, so the running product needs no flush)
    //  - dup3: duplicated chars: flush each closed run with count ≥ 2;
    //    the finish lambda flushes the last
    d
      .withColumn("rep0", expr(
        """transform(array(split(text, ' ')), w -> transform(array(
             named_struct(
               'top2', CAST(aggregate(
                 if(size(w) < 2, array(),
                   array_sort(transform(sequence(1, size(w) - 1),
                     i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))),
                 named_struct('prev', '', 'run', 0, 'best', 0),
                 (acc, g) -> named_struct(
                   'prev', g,
                   'run', if(g = acc.prev, acc.run + 1, 1),
                   'best', greatest(acc.best,
                     if(g = acc.prev, acc.run + 1, 1) * length(g))),
                 acc -> acc.best) AS BIGINT),
               'dup3', CAST(aggregate(
                 if(size(w) < 3, array(),
                   array_sort(transform(sequence(1, size(w) - 2),
                     i -> concat(element_at(w, i), ' ', element_at(w, i + 1), ' ',
                                 element_at(w, i + 2))))),
                 named_struct('prev', '', 'run', 0, 'total', 0),
                 (acc, g) -> named_struct(
                   'prev', g,
                   'run', if(g = acc.prev, acc.run + 1, 1),
                   'total', acc.total + if(g = acc.prev, 0,
                     if(acc.run >= 2, acc.run * length(acc.prev), 0))),
                 acc -> acc.total +
                   if(acc.run >= 2, acc.run * length(acc.prev), 0)) AS BIGINT))),
             st -> named_struct('top2', st.top2, 'dup3', st.dup3,
               'keep', CAST(NOT(st.top2 * 25 > n_chars * 3
                                OR st.dup3 * 10 > n_chars) AS INT)))[0])[0]"""))
      .withColumn("top2_chars", col("rep0.top2"))
      .withColumn("dup3_chars", col("rep0.dup3"))
      .withColumn("keep", col("rep0.keep"))
      .drop("rep0")
  }

  /** End-to-end curation pipeline (q106) — the composed form of the
    * gates a training corpus passes on its way to a tokenizer: a
    * length/verbosity quality rule, the [[gopherStats]] repetition
    * rule, exact-dedup keep-first (smallest `doc_id` per `md5(text)`
    * among SURVIVORS, so filters run before dedup picks
    * representatives), and [[splitAssignment]]'s deterministic
    * 80/10/10 hash split; reported as per-(split, lang) doc/token
    * counts. Every stage is one of the engine's oracle-gated
    * operators — this query gates that they COMPOSE.
    *
    * Scale shape: gates are map-only projections; dedup is ONE
    * shuffle keyed by the 16-byte hash with the representative row
    * carried by a partial-agg `min_by` (no second semi-join pass);
    * the report is one partial-agg groupBy. */
  def curationPipeline(s: SparkSession, dir: String): DataFrame = {
    val kept = gopherStats(
        docs(s, dir)
          .withColumn("n_words", size(split(col("text"), " ")))
          .filter(col("n_words") >= 15 &&
            col("n_chars") <= col("n_words") * 12L))
      .filter(col("keep") === 1)
    kept
      .groupBy(md5(col("text")).as("h"))
      .agg(min_by(
        struct(col("doc_id"), col("lang"), col("n_words")),
        col("doc_id")).as("r"))
      .select(col("r.doc_id").as("doc_id"), col("r.lang").as("lang"),
        col("r.n_words").as("n_words"))
      .withColumn("bucket",
        pmod(graft.functions.TopK.knuthHash(col("doc_id")), lit(100)))
      .withColumn("split",
        when(col("bucket") < 80, "train")
          .when(col("bucket") < 90, "val")
          .otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_words")).as("n_tokens"))
      .orderBy(col("split"), col("lang"))
  }

  // ---- character entropy (q115) ----------------------------------------

  /** q115: per-document Shannon character entropy — the
    * compression-adjacent quality signal (gibberish and boilerplate
    * sit at the distribution's tails), reported per language.
    *
    * Scale shape: entropy is a PER-ROW statistic, so it is computed
    * with ZERO data shuffle — the gopher-fold idiom: characters (via
    * the one-pass [[graft.functions.CharNgrams]] n=1 windows) sort
    * IN-ROW and one sequential fold walks the runs, emitting each
    * distinct character's term `round((cnt/n)·ln(n/cnt)·1e12)` as an
    * integer pico contribution (order-free sum; the idf micro-unit
    * idiom, so libm/`Math.log` ulp skew is absorbed per term). The
    * relational shape (explode → two shuffled aggregations) would push
    * the exploded corpus through an exchange — the DuckDB oracle
    * deliberately uses exactly that independent formulation as the
    * cross-check. The word array is lambda-bound (the q106
    * single-element-transform "let") so optimizer inlining can never
    * re-evaluate the character construction. */
  def charEntropy(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .withColumn("cs",
        sort_array(graft.functions.GraftFx.charNgrams(col("text"), 1)))
      .withColumn("h_pico", expr(
        """transform(array(cs), c -> aggregate(c,
             named_struct('prev', '', 'run', 0L, 'total', 0L),
             (acc, ch) -> named_struct(
               'prev', ch,
               'run', if(ch = acc.prev, acc.run + 1L, 1L),
               'total', acc.total + if(ch = acc.prev, 0L,
                 if(acc.run > 0L,
                   CAST(round((acc.run * 1e0 / size(c))
                     * ln(size(c) * 1e0 / acc.run) * 1e12) AS BIGINT), 0L))),
             acc -> acc.total + if(acc.run > 0L,
               CAST(round((acc.run * 1e0 / size(c))
                 * ln(size(c) * 1e0 / acc.run) * 1e12) AS BIGINT), 0L)))[0]"""))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(sum(col("h_pico")) * lit(1.0) / count(lit(1)) / lit(1e6), 0)
          .cast("long").as("mean_entropy_e6"),
        round(min(col("h_pico")) / lit(1e6), 0).cast("long")
          .as("min_entropy_e6"),
        round(max(col("h_pico")) / lit(1e6), 0).cast("long")
          .as("max_entropy_e6"))
      .orderBy(col("lang"))

  // ---- trained quality classifier (q112) -------------------------------

  /** Gradient-descent rounds / learning rate of [[qualityClassifier]];
    * both sides of every literal are e-notation DOUBLEs (bare decimals
    * parse as DECIMAL in both engines — the q108 lesson). */
  private val qcIters = 4
  private val qcFeatures = 6

  /** DuckDB-semantics round (floor(x·10ⁿ + 0.5)/10ⁿ on the binary
    * value) for the driver-side weight updates — see
    * [[Lineage.pageRank]]'s parity note for why `BigDecimal`/Spark
    * rounding must not be used for iteration state. */
  private def qcRound(x: Double, n: Int): Double = {
    val p = math.pow(10, n)
    math.floor(x * p + 0.5) / p
  }

  /** Per-doc feature/label relation shared by training and scoring:
    * bias, capped length, capped word count, capped mean word length,
    * stopword fraction, lexical diversity (distinct-word ratio) — all
    * ratios of integer counts, so both engines compute bit-identical
    * DOUBLEs — plus the weak rule label `y` (the fasttext-classifier
    * practice: distill heuristic gates into a trainable scorer whose
    * threshold then generalizes the rules). */
  private[graft] def qcFeats(s: SparkSession, dir: String): DataFrame =
    docs(s, dir)
      .select(col("doc_id"), col("lang"), col("n_chars"),
        expr("size(split(text, ' '))").as("nw"),
        expr("""size(filter(split(text, ' '),
                 w -> w IN ('the','a','of','and','to','in','is')))""").as("ns"),
        expr("size(array_distinct(split(text, ' ')))").as("nd"))
      .select(col("doc_id"), col("lang"),
        expr("1e0").as("f0"),
        expr("least(n_chars, 2000) / 2000e0").as("f1"),
        expr("least(nw, 256) / 256e0").as("f2"),
        expr("least(n_chars * 1e0 / nw, 16e0) / 16e0").as("f3"),
        expr("ns * 1e0 / nw").as("f4"),
        expr("nd * 1e0 / nw").as("f5"),
        expr("CASE WHEN nw >= 50 AND ns * 1e0 / nw >= 0.04e0 " +
          "THEN 1 ELSE 0 END").as("y"))

  /** Full-batch logistic-regression training, [[qcIters]] synchronous
    * rounds: each round is ONE distributed map-side-combinable
    * aggregation of [[qcFeatures]] integer gradient sums (per-doc
    * contributions rounded into 1e12-unit BIGINTs BEFORE summing, so
    * the reduction is order-free and bit-identical in any engine —
    * the q108 idf-micro-unit idiom applied to GD); the driver holds
    * only the O(features) model and applies the DuckDB-rounded update.
    * The per-doc sigmoid is rounded to 9 dp so a last-ulp `exp`
    * difference between libm and `Math.exp` cannot reach the 1e12
    * contribution boundary. At 100 TB: T passes over the corpus, each
    * shuffling 6 longs per map partition — the textbook distributed
    * full-batch GD shape (mini-batching swaps the source slice, not
    * the plan). */
  private[graft] def qcTrain(s: SparkSession, dir: String): Array[Double] = {
    val f = qcFeats(s, dir).localCheckpoint() // qcIters passes + scoring
    val n = f.count()
    var w = Array.fill(qcFeatures)(0.0)
    for (_ <- 1 to qcIters) {
      val z = (0 until qcFeatures)
        .map(j => lit(w(j)) * col(s"f$j")).reduce(_ + _)
      val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 9)
      val g = f.select((0 until qcFeatures).map(j =>
        sum(round((p - col("y")) * col(s"f$j") * lit(1e12), 0)
          .cast("long")).as(s"g$j")): _*).head()
      w = Array.tabulate(qcFeatures)(j =>
        qcRound(w(j) - 2.0 * (g.getLong(j) / 1e12) / n, 8))
    }
    w
  }

  /** q112: the trained quality classifier applied back to the corpus —
    * per-language doc counts, predicted-keep counts (score ≥ 0.5),
    * rule-label counts, and the mean score in 1e6 units (pico-unit
    * integer sums, so the mean is order-free). The oracle unrolls the
    * identical training recurrence as a CTE chain (the q102/q111
    * unrolled-iteration idiom) and must reproduce every count and the
    * rounded mean exactly — weights are never exchanged between the
    * engines, each derives them from the data. */
  def qualityClassifier(s: SparkSession, dir: String): DataFrame = {
    val w = qcTrain(s, dir)
    val z = (0 until qcFeatures)
      .map(j => lit(w(j)) * col(s"f$j")).reduce(_ + _)
    val p = round(lit(1.0) / (lit(1.0) + exp(-z)), 9)
    qcFeats(s, dir)
      .select(col("lang"), col("y"), p.as("p"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("p") >= 0.5, 1L).otherwise(0L)).as("n_pred_keep"),
        sum(col("y")).cast("long").as("n_label_keep"),
        round(sum(round(col("p") * lit(1e12), 0).cast("long")) * lit(1.0) /
          count(lit(1)) / lit(1e6), 0).cast("long").as("mean_score_e6"))
      .orderBy(col("lang"))
  }

  /** q112 oracle body: feats CTE + the training recurrence unrolled to
    * [[qcIters]] rounds, every arithmetic step written in the same
    * order as [[qcTrain]]. */
  private def duckQc: String = {
    val fs = 0 until qcFeatures
    def dot(wRel: String) =
      fs.map(j => s"$wRel.w$j * f$j").mkString(" + ")
    val steps = (0 until qcIters).map { t =>
      s"""sc$t AS (SELECT f.*, round(1e0 / (1e0 + exp(-(${dot(s"w$t")}))), 9) AS p
         |  FROM feats f CROSS JOIN w$t),
         |g$t AS (SELECT ${fs.map(j =>
             s"sum(CAST(round((p - y) * f$j * 1e12) AS BIGINT)) AS g$j")
             .mkString(", ")} FROM sc$t),
         |w${t + 1} AS (SELECT ${fs.map(j =>
             s"round(w$j - 2e0 * (g$j / 1e12) / n, 8) AS w$j")
             .mkString(", ")}
         |  FROM w$t CROSS JOIN g$t CROSS JOIN nn)""".stripMargin
    }.mkString(",\n")
    s"""counts AS (SELECT doc_id, lang, n_chars,
       |    len(string_split(text, ' ')) AS nw,
       |    len(list_filter(string_split(text, ' '),
       |      w -> w IN ('the','a','of','and','to','in','is'))) AS ns,
       |    len(list_distinct(string_split(text, ' '))) AS nd
       |  FROM documents),
       |feats AS (SELECT doc_id, lang,
       |    1e0 AS f0,
       |    least(n_chars, 2000) / 2000e0 AS f1,
       |    least(nw, 256) / 256e0 AS f2,
       |    least(n_chars * 1e0 / nw, 16e0) / 16e0 AS f3,
       |    ns * 1e0 / nw AS f4,
       |    nd * 1e0 / nw AS f5,
       |    CASE WHEN nw >= 50 AND ns * 1e0 / nw >= 0.04e0
       |      THEN 1 ELSE 0 END AS y
       |  FROM counts),
       |nn AS (SELECT count(*) AS n FROM feats),
       |w0 AS (SELECT ${fs.map(j => s"0e0 AS w$j").mkString(", ")}),
       |$steps,
       |scf AS (SELECT lang, y,
       |    round(1e0 / (1e0 + exp(-(${dot(s"w$qcIters")}))), 9) AS p
       |  FROM feats CROSS JOIN w$qcIters)""".stripMargin
  }

  /** q103 oracle fragment: the merge applications nested in round
    * order — identical formula to [[bpeEncodedRows]]'s fold. */
  private def duckBpeApply: String =
    (1 to bpeRounds).foldLeft("s") { (acc, r) =>
      s"replace($acc, '|' || m$r.a || '||' || m$r.b || '|', " +
        s"'|' || m$r.a || m$r.b || '|')"
    }

  /** q102 oracle body: the BPE loop unrolled to `bpeRounds` CTE rounds
    * (the engine's unrolled-iteration oracle idiom, as duckClusters) —
    * each round re-derives pair counts from the PREVIOUS round's
    * corpus string and applies the winner with the identical
    * boundary-wrapped replace. */
  private def duckBpe(rounds: Int): String = {
    val sb = new StringBuilder
    sb ++= """base AS (SELECT regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
      |  FROM documents WHERE doc_id % 10 = 0),
      |s1 AS (SELECT '|' || array_to_string(
      |    [t[i:i] for i in generate_series(1, length(t))], '||') || '|' AS s
      |  FROM base WHERE length(t) > 0)""".stripMargin
    for (r <- 1 to rounds) {
      sb ++= s""",
        |p$r AS (SELECT tk[i] AS a, tk[i+1] AS b, count(*) AS cnt
        |  FROM (SELECT string_split(s[2 : length(s) - 1], '||') AS tk FROM s$r),
        |       LATERAL unnest(generate_series(1, len(tk) - 1)) AS u(i)
        |  GROUP BY 1, 2),
        |m$r AS (SELECT $r AS round, a, b, a || b AS merged, cnt FROM p$r
        |  ORDER BY cnt DESC, a, b LIMIT 1)""".stripMargin
      if (r < rounds) sb ++= s""",
        |s${r + 1} AS (SELECT replace(s, '|' || a || '||' || b || '|',
        |    '|' || a || b || '|') AS s FROM s$r, m$r)""".stripMargin
    }
    sb.toString
  }

  /** The corpus with synthesized crawl URLs canonicalized: `url` (the
    * messy wire form derived deterministically from doc_id/source),
    * `domain` (lowercased host), `canon` (scheme+host lowercased,
    * query and trailing slash stripped) — all map-only regex
    * projections shared by the URL-dedup (q91) and domain-cap (q94)
    * hygiene operators. */
  private def docsWithUrls(s: SparkSession, dir: String): DataFrame = {
    val rawUrl = concat(
      lit("https://"), upper(col("source")), lit(".Example.COM/p/"),
      (col("doc_id") % 137).cast("string"),
      when(col("doc_id") % 5 === 0, "/").otherwise(""),
      when(col("doc_id") % 3 === 0, "?utm_source=feed").otherwise(""))
    docs(s, dir)
      .withColumn("url", rawUrl)
      .withColumn("noq", regexp_replace(col("url"), "\\?.*$", ""))
      .withColumn("domain",
        lower(regexp_extract(col("noq"), "^https://([^/]+)", 1)))
      .withColumn("canon", concat(lit("https://"), col("domain"),
        regexp_replace(
          regexp_extract(col("noq"), "^https://[^/]+(/.*)$", 1),
          "/$", "")))
  }

  /** URL canonicalization + dedup — the crawl-frontier hygiene step of
    * a web-scale pipeline (before ANY content dedup, a crawler dedups
    * by canonical URL): lowercase scheme+host, strip the query string
    * and trailing slash, then count per-domain distinct pages vs
    * fetched docs. Canonicalization is a pure regex/string projection
    * ([[docsWithUrls]], map-only) and the dedup is one partial-agg-
    * friendly aggregation keyed by domain. */
  def urlDedup(s: SparkSession, dir: String): DataFrame = {
    docsWithUrls(s, dir)
      .groupBy(col("domain"))
      .agg(
        count(lit(1)).as("n_docs"),
        countDistinct(col("canon")).as("n_pages"),
        (count(lit(1)) - countDistinct(col("canon"))).as("n_dups"))
      .orderBy(col("domain"))
  }

  /** PII scrubbing (X4 corpus cleaning): redact email addresses and
    * phone-shaped numbers with map-only `regexp_replace` projections
    * and report per-source redaction counts plus the scrubbed text
    * volume (the length sum proves the REPLACEMENT output matches
    * cross-engine, not just the match counts). The fixture corpus
    * carries no PII, so the operator first PLANTS deterministic
    * doc_id-derived synthetic PII — scaffolding the oracle re-derives
    * — and the scrub path is the operator under test.
    *
    * Patterns are POSIX-simple (character classes + counted repeats
    * only, no backreferences or lookaround) so Java's backtracking
    * and DuckDB's RE2 dialects agree on every match; replacement is
    * whole-match, where leftmost-first and leftmost-longest coincide
    * for these shapes. Everything is a projection followed by one
    * partial-agg aggregation — no shuffle of text, no joins; at
    * 100 TB the regex work rides the scan. */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val emailRe = "[a-z0-9]+@[a-z0-9]+\\.[a-z]+"
    val phoneRe = "[0-9]{3}-[0-9]{4}"
    docs(s, dir)
      .withColumn("t2", concat(col("text"),
        when(col("doc_id") % 7 === 0,
          concat(lit(" contact user"), col("doc_id").cast("string"),
            lit("@example.com"))).otherwise(lit("")),
        when(col("doc_id") % 11 === 0,
          concat(lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit(""))))
      .withColumn("ne", regexp_count(col("t2"), lit(emailRe)))
      .withColumn("np", regexp_count(col("t2"), lit(phoneRe)))
      .withColumn("scrub",
        regexp_replace(regexp_replace(col("t2"), emailRe, "<EMAIL>"),
          phoneRe, "<PHONE>"))
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("ne")).as("n_emails"),
        sum(col("np")).as("n_phones"),
        sum(length(col("scrub"))).as("chars_scrubbed"))
      .orderBy(col("source"))
  }

  /** Pages kept per domain under the cap (a POLICY knob, not a scale
    * constant — the pipeline owner chooses how many pages any one host
    * may contribute, RefinedWeb-style). */
  private[graft] val domainCap = 10

  /** Per-domain page cap (crawl-frontier hygiene): keep at most
    * [[domainCap]] pages per domain, ranked by size (`n_chars` desc,
    * `doc_id` tiebreak), and report how much each domain lost. The
    * selection is the bounded-heap [[graft.functions.TopK]]
    * aggregation — ≤ cap candidates per domain per MAP partition,
    * O(domains · cap) rows through the shuffle, and no per-domain
    * sort anywhere. That shape is the point at web scale: domains are
    * the most skewed key in a crawl (one host can hold 10⁹ pages
    * while the median holds 10), so the window-rank formulation —
    * shuffle everything, sort the biggest host's entire slice in one
    * task — is exactly the skew trap the heap avoids. The totals ride
    * the same single aggregation (count/sum beside the heap), so the
    * whole operator is one pass, one model-sized shuffle. */
  def domainCaps(s: SparkSession, dir: String): DataFrame = {
    val topk = udaf(graft.functions.TopK.topKAggOf(domainCap),
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[
        graft.functions.TopK.Item]())
    docsWithUrls(s, dir)
      .groupBy(col("domain"))
      .agg(
        topk(col("n_chars").cast("double"), col("doc_id")).as("top"),
        count(lit(1)).as("n_total"))
      .select(col("domain"), col("n_total"),
        (col("n_total") - least(col("n_total"), lit(domainCap.toLong)))
          .as("n_dropped"),
        posexplode(col("top")).as(Seq("r", "item")))
      .select(col("domain"), (col("r") + 1).cast("bigint").as("rank"),
        col("item._2").as("doc_id"),
        col("item._1").cast("bigint").as("n_chars"),
        col("n_total"), col("n_dropped"))
      .orderBy(col("domain"), col("rank"))
  }

  // DuckDB mirrors. Shared fragments keep the two engines' pipelines
  // textually aligned stage by stage.
  private val duckShingles =
    """w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
      |sh AS (SELECT doc_id,
      |  list_distinct([array_to_string(ws[i:i+2], ' ')
      |    for i in generate_series(1, greatest(len(ws)-2, 1))]) AS shingles
      |  FROM w)""".stripMargin

  /** q30's full LSH pipeline through exact-Jaccard verification —
    * shared by q30 (pair report) and q63 (component clustering). */
  private val duckMinhashVerify =
    s"""$duckShingles,
       |mh AS (SELECT doc_id,
       |  [list_aggregate([md5(h || '|' || s) for s in shingles], 'min')
       |   for h in generate_series(0, 23)] AS sig FROM sh),
       |bands AS (SELECT doc_id, b,
       |  md5(sig[2*b+1] || ',' || sig[2*b+2]) AS bh
       |  FROM mh, LATERAL unnest(generate_series(0, 11)) AS t(b)),
       |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
       |  FROM bands a JOIN bands b
       |  ON a.bh = b.bh AND a.b = b.b AND a.doc_id < b.doc_id),
       |vfy AS (SELECT d1, d2,
       |  len(list_filter(x.shingles, s -> list_contains(y.shingles, s))) AS common,
       |  len(x.shingles) AS n1, len(y.shingles) AS n2
       |  FROM cand JOIN sh x ON d1 = x.doc_id JOIN sh y ON d2 = y.doc_id)""".stripMargin

  /** The verified-pair graph → min-label component labels as a
    * recursive CTE chain ending in `lab(vx, cluster_id)` — shared by
    * the q63/q77 cluster report and the q110 representative pick. */
  private val duckClusterLabels =
    s"""WITH RECURSIVE $duckMinhashVerify,
       |pairs AS (SELECT d1, d2 FROM vfy
       |  WHERE common * 1.0 / (n1 + n2 - common) >= 0.5),
       |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
       |  UNION ALL SELECT d2, d1 FROM pairs),
       |reach(vx, r) AS (
       |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
       |  UNION
       |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.vx),
       |lab AS (SELECT vx, min(r) AS cluster_id FROM reach GROUP BY vx)""".stripMargin

  /** q63/q77 shared oracle: clusters from the verified pair graph via a
    * recursive reachability CTE + min-label grouping. */
  private val duckDupClusters =
    s"""$duckClusterLabels
       |SELECT cluster_id, count(*) AS n_docs,
       |  string_agg(CAST(vx AS VARCHAR), ',' ORDER BY vx) AS members
       |FROM lab GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  private val duckVectors =
    """e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
      |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e)""".stripMargin

  /** The hyperplane sign-signature bucketing as a DuckDB CTE chain —
    * `bk` = (vec_id, v, nrm, bucket) — shared by the in-corpus pair
    * query (q90) and the admission backfill (q97); plane count and
    * plane values re-derive the Scala formulas exactly. */
  private lazy val duckHyperplaneBuckets: String =
    s"""$duckVectors,
       |np AS (SELECT $hyperplaneCountSql AS k),
       |pl AS (SELECT j,
       |  [(((j*64 + d) % 1000000007) * 2654435761 % 1000000007 % 2001
       |     - 1000) / 1000.0
       |   for d in generate_series(0, 63)] AS h
       |  FROM (SELECT unnest(generate_series(0,
       |          (SELECT k - 1 FROM np))) AS j)),
       |bk AS (SELECT vec_id, v, nrm,
       |  CAST(sum(CASE WHEN list_dot_product(h, v) > 0
       |           THEN 1 << j ELSE 0 END) AS BIGINT) AS bucket
       |  FROM n CROSS JOIN pl GROUP BY vec_id, v, nrm)""".stripMargin

  /** The trained-quantizer clustering as a DuckDB CTE chain: the
    * every-40th init plus [[kmeansMaxIters]] unrolled Lloyd updates,
    * each rounding centroids to 6 dp exactly like the Scala trainer —
    * both engines re-derive the identical model (see
    * `computeIvfCentroids` for why early Scala convergence still
    * matches the fully-unrolled chain). `cent` = final centroids,
    * `cl` = final assignment. */
  private val duckClusters: String = {
    val updates = (0 until kmeansMaxIters).map { t =>
      s"""asg$t AS (SELECT vec_id, v, nrm, cid, row_number() OVER (
         |    PARTITION BY vec_id
         |    ORDER BY list_dot_product(v, cv)/(nrm*cn) DESC, cid) AS rn
         |  FROM n CROSS JOIN cent$t),
         |agg$t AS (SELECT cid, i, sum(x) AS sx, count(*) AS n FROM
         |    (SELECT cid, i, v[i] AS x
         |     FROM (SELECT vec_id, v, cid FROM asg$t WHERE rn = 1) m$t,
         |       LATERAL unnest(generate_series(1, 64)) AS u$t(i))
         |  GROUP BY cid, i),
         |cent${t + 1} AS (SELECT cid, cv, sqrt(list_dot_product(cv, cv)) AS cn
         |  FROM (SELECT cid, list(round(sx / n, 6) ORDER BY i) AS cv
         |        FROM agg$t GROUP BY cid))""".stripMargin
    }.mkString(",\n")
    s"""$duckVectors,
       |cent0 AS (SELECT vec_id AS cid, v AS cv, nrm AS cn FROM n
       |  WHERE vec_id % $ivfStrideSql = 0),
       |$updates,
       |cent AS (SELECT * FROM cent$kmeansMaxIters),
       |asg AS (SELECT vec_id, v, nrm, cid, row_number() OVER (
       |    PARTITION BY vec_id
       |    ORDER BY list_dot_product(v, cv)/(nrm*cn) DESC, cid) AS rn
       |  FROM n CROSS JOIN cent),
       |cl AS (SELECT vec_id, v, nrm, cid FROM asg WHERE rn = 1)""".stripMargin
  }

  /** The PQ training + encoding as a DuckDB CTE chain: per-subspace
    * every-(n/ksub)-th init plus [[pqIters]] unrolled L2 Lloyd steps,
    * each rounding sub-centroids to 6 dp exactly like the Scala
    * trainer. `pqcb` = final codebooks, `pqcodes` = final encoding.
    * The L2 distance is written `a - 2*b + c` in the same order as
    * [[l2sq]] so assignment tie-breaks agree bit for bit. */
  private val duckPq: String = {
    def distSql(x: String, c: String): String =
      s"list_dot_product($x, $x) - 2*list_dot_product($x, $c)" +
        s" + list_dot_product($c, $c)"
    val steps = (0 until pqIters).map { t =>
      s"""pqasg$t AS (SELECT vec_id, j, x, cid FROM (
         |    SELECT sv.vec_id, sv.j, sv.x, cb$t.cid,
         |      row_number() OVER (PARTITION BY sv.vec_id, sv.j
         |        ORDER BY ${distSql("sv.x", s"cb$t.c")}, cb$t.cid) AS rn
         |    FROM sv JOIN cb$t ON sv.j = cb$t.j)
         |  WHERE rn = 1),
         |pqupd$t AS (SELECT j, cid, i, sum(x[i]) AS sx, count(*) AS nm
         |  FROM pqasg$t, LATERAL unnest(generate_series(1, $pqDsub))
         |    AS u$t(i)
         |  GROUP BY j, cid, i),
         |cb${t + 1} AS (SELECT j, cid,
         |    list(round(sx / nm, 6) ORDER BY i) AS c
         |  FROM pqupd$t GROUP BY j, cid)""".stripMargin
    }.mkString(",\n")
    s"""pqe AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings),
       |pst AS (SELECT greatest(1, count(*) // $pqKsub) AS st
       |  FROM embeddings),
       |sv AS (SELECT vec_id, j,
       |    v[j*$pqDsub+1 : j*$pqDsub+$pqDsub] AS x
       |  FROM pqe, LATERAL unnest(generate_series(0, ${pqNsub - 1}))
       |    AS tj(j)),
       |cb0 AS (SELECT j, vec_id // pst.st AS cid, x AS c FROM sv, pst
       |  WHERE vec_id % pst.st = 0 AND vec_id < pst.st * $pqKsub),
       |$steps,
       |pqcb AS (SELECT * FROM cb$pqIters),
       |pqcodes AS (SELECT vec_id, j, cid AS code FROM (
       |    SELECT sv.vec_id, sv.j, pqcb.cid,
       |      row_number() OVER (PARTITION BY sv.vec_id, sv.j
       |        ORDER BY ${distSql("sv.x", "pqcb.c")}, pqcb.cid) AS rn
       |    FROM sv JOIN pqcb ON sv.j = pqcb.j)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The residual-PQ training + encoding as a DuckDB CTE chain —
    * [[duckPq]] retargeted at the residual frame `res = v − c(v)`
    * (depends on `cl`/`cent` from [[duckClusters]]): same per-subspace
    * every-(n/ksub)-th init, same [[pqIters]] unrolled 6-dp-rounded L2
    * Lloyd steps, same `a − 2b + c` distance order. `rpqcb` = final
    * residual codebooks, `rpqcodes` = final residual encoding. */
  private val duckRpq: String = {
    def distSql(x: String, c: String): String =
      s"list_dot_product($x, $x) - 2*list_dot_product($x, $c)" +
        s" + list_dot_product($c, $c)"
    val steps = (0 until pqIters).map { t =>
      s"""rpqasg$t AS (SELECT vec_id, j, x, cid FROM (
         |    SELECT rsv.vec_id, rsv.j, rsv.x, rcb$t.cid,
         |      row_number() OVER (PARTITION BY rsv.vec_id, rsv.j
         |        ORDER BY ${distSql("rsv.x", s"rcb$t.c")}, rcb$t.cid) AS rn
         |    FROM rsv JOIN rcb$t ON rsv.j = rcb$t.j)
         |  WHERE rn = 1),
         |rpqupd$t AS (SELECT j, cid, i, sum(x[i]) AS sx, count(*) AS nm
         |  FROM rpqasg$t, LATERAL unnest(generate_series(1, $pqDsub))
         |    AS ur$t(i)
         |  GROUP BY j, cid, i),
         |rcb${t + 1} AS (SELECT j, cid,
         |    list(round(sx / nm, 6) ORDER BY i) AS c
         |  FROM rpqupd$t GROUP BY j, cid)""".stripMargin
    }.mkString(",\n")
    // res/rsv MATERIALIZED: DuckDB inlines single-use CTEs, and rsv is
    // referenced by every Lloyd step + the final encode — without
    // materialization each reference re-evaluates the ENTIRE coarse
    // k-means chain underneath (observed: the q147 oracle ran minutes
    // instead of seconds)
    s"""clm AS MATERIALIZED (SELECT * FROM cl),
       |centm AS MATERIALIZED (SELECT * FROM cent),
       |res AS MATERIALIZED (SELECT clm.vec_id,
       |    [clm.v[i] - centm.cv[i] for i in generate_series(1, 64)] AS v
       |  FROM clm JOIN centm USING (cid)),
       |rst AS (SELECT greatest(1, count(*) // $pqKsub) AS st
       |  FROM embeddings),
       |rsv AS MATERIALIZED (SELECT vec_id, j,
       |    v[j*$pqDsub+1 : j*$pqDsub+$pqDsub] AS x
       |  FROM res, LATERAL unnest(generate_series(0, ${pqNsub - 1}))
       |    AS tjr(j)),
       |rcb0 AS (SELECT j, vec_id // rst.st AS cid, x AS c FROM rsv, rst
       |  WHERE vec_id % rst.st = 0 AND vec_id < rst.st * $pqKsub),
       |$steps,
       |rpqcb AS MATERIALIZED (SELECT * FROM rcb$pqIters),
       |rpqcodes AS MATERIALIZED (SELECT vec_id, j, cid AS code FROM (
       |    SELECT rsv.vec_id, rsv.j, rpqcb.cid,
       |      row_number() OVER (PARTITION BY rsv.vec_id, rsv.j
       |        ORDER BY ${distSql("rsv.x", "rpqcb.c")}, rpqcb.cid) AS rn
       |    FROM rsv JOIN rpqcb ON rsv.j = rpqcb.j)
       |  WHERE rn = 1)""".stripMargin
  }

  /** The water-filling allocation as a DuckDB CTE chain ending in
    * `wfplan(source, n_tokens, weight_micro, alloc_tokens, capped)` —
    * [[waterfillRounds]] unrolled cap-and-redistribute rounds, shared
    * by the plan report (q148) and the extraction (q149). */
  private val duckWaterfill: String =
    duckWaterfillFrom(
      """SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n
        |  FROM documents GROUP BY 1""".stripMargin)

  /** [[duckWaterfill]] parameterized by the availability relation —
    * `wfntBody` is any SQL producing (source, n BIGINT); q148/q149
    * fill from the raw corpus, q151 from the curated-train subset. */
  private def duckWaterfillFrom(wfntBody: String): String = {
    val rounds = (0 until waterfillRounds).map { t =>
      s"""wfagg$t AS (SELECT
         |    CAST(coalesce(sum(CASE WHEN cap IS NULL THEN rt END), 0)
         |      AS BIGINT) AS den,
         |    CAST(coalesce(sum(cap), 0) AS BIGINT) AS csum
         |  FROM wfst$t),
         |wfst${t + 1} AS (SELECT source, n, rt,
         |    CASE WHEN cap IS NOT NULL THEN cap
         |         WHEN den > 0
         |           AND CAST(rt AS HUGEINT) * (budget - csum) // den >= n
         |           THEN n
         |         ELSE NULL END AS cap
         |  FROM wfst$t, wfagg$t, wftot)""".stripMargin
    }.mkString(",\n")
    s"""wfnt AS ($wfntBody),
       |wftot AS (SELECT CAST(sum(n) * 19 // 20 AS BIGINT) AS budget
       |  FROM wfnt),
       |wff AS (SELECT source, n,
       |    CAST(floor(sqrt(CAST(n AS DOUBLE))) AS BIGINT) AS f0
       |  FROM wfnt),
       |wfst0 AS (SELECT source, n,
       |    CASE WHEN (f0 + 1) * (f0 + 1) <= n THEN f0 + 1
       |         WHEN f0 * f0 > n THEN f0 - 1 ELSE f0 END AS rt,
       |    CAST(NULL AS BIGINT) AS cap FROM wff),
       |wfrtt AS (SELECT CAST(sum(rt) AS BIGINT) AS rt_total FROM wfst0),
       |$rounds,
       |wfaggF AS (SELECT
       |    CAST(coalesce(sum(CASE WHEN cap IS NULL THEN rt END), 0)
       |      AS BIGINT) AS den,
       |    CAST(coalesce(sum(cap), 0) AS BIGINT) AS csum
       |  FROM wfst$waterfillRounds),
       |wfplan AS (SELECT source, n_tokens, weight_micro, alloc_tokens,
       |    CAST(CASE WHEN alloc_tokens = n_tokens THEN 1 ELSE 0 END
       |      AS BIGINT) AS capped
       |  FROM (SELECT source, n AS n_tokens,
       |    CAST(CASE WHEN rt_total > 0 THEN rt * 1000000 // rt_total
       |      ELSE 0 END AS BIGINT) AS weight_micro,
       |    CAST(CASE WHEN cap IS NOT NULL THEN cap
       |         WHEN den > 0 THEN least(
       |           CAST(rt AS HUGEINT) * (budget - csum) // den, n)
       |         ELSE 0 END AS BIGINT)
       |      AS alloc_tokens
       |  FROM wfst$waterfillRounds, wfaggF, wftot, wfrtt))""".stripMargin
  }

  private val baseOracles: Map[String, String] = Map(
    "q121_embedding_coverage" ->
      """SELECT status, count(*) AS n,
        |  min(id) AS min_id, max(id) AS max_id
        |FROM (
        |  SELECT CASE
        |      WHEN d.doc_id IS NOT NULL AND e.vec_id IS NOT NULL
        |        THEN 'covered'
        |      WHEN e.vec_id IS NULL THEN 'missing_embedding'
        |      ELSE 'orphan_vector' END AS status,
        |    coalesce(d.doc_id, e.vec_id) AS id
        |  FROM (SELECT doc_id FROM documents WHERE doc_id % 89 <> 0) d
        |  FULL OUTER JOIN
        |    (SELECT vec_id FROM embeddings WHERE vec_id % 97 <> 0) e
        |    ON d.doc_id = e.vec_id)
        |GROUP BY status ORDER BY status""".stripMargin,
    "q122_fuzzy_name_pairs" ->
      """WITH base AS (SELECT DISTINCT p_name AS name FROM part),
        |planted AS (
        |  SELECT name || ' x' AS name FROM base WHERE length(name) % 2 = 0),
        |names AS (SELECT DISTINCT name FROM (
        |  SELECT name FROM base UNION ALL SELECT name FROM planted)),
        |blocks AS (
        |  SELECT name, substring(name, 1, 8) AS blk FROM names
        |  UNION ALL
        |  SELECT name, substring(reverse(name), 1, 8) AS blk FROM names),
        |cand AS (SELECT DISTINCT a.name AS n1, b.name AS n2
        |  FROM blocks a JOIN blocks b
        |    ON a.blk = b.blk AND a.name < b.name)
        |SELECT n1, n2, CAST(levenshtein(n1, n2) AS BIGINT) AS lev
        |FROM cand WHERE levenshtein(n1, n2) <= 2
        |ORDER BY n1, n2""".stripMargin,
    "q96_pq_topk" ->
      s"""WITH $duckPq,
         |q AS (SELECT vec_id AS qid, j, x FROM sv WHERE vec_id < 10),
         |lut AS (SELECT qid, q.j, cid AS code,
         |    CAST(round((list_dot_product(x, x)
         |      - 2*list_dot_product(x, c)
         |      + list_dot_product(c, c)) * 1000000.0) AS BIGINT) AS idist
         |  FROM q JOIN pqcb ON q.j = pqcb.j),
         |sc AS (SELECT qid, vec_id, CAST(sum(idist) AS BIGINT) AS idist
         |  FROM pqcodes JOIN lut USING (j, code)
         |  WHERE vec_id <> qid GROUP BY qid, vec_id),
         |r AS (SELECT qid, vec_id, idist, row_number() OVER (
         |    PARTITION BY qid ORDER BY idist, vec_id) AS rank FROM sc)
         |SELECT qid, rank, vec_id, idist FROM r
         |WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // q144: the q96 ADC chain, candidates cut at k′, then exact-L2
    // rerank — the refine distance is written `a − 2b + c` left to
    // right, the l2sq/list_dot_product fold-order discipline.
    "q144_pq_rerank_topk" ->
      s"""WITH $duckPq,
         |q AS (SELECT vec_id AS qid, j, x FROM sv WHERE vec_id < 10),
         |lut AS (SELECT qid, q.j, cid AS code,
         |    CAST(round((list_dot_product(x, x)
         |      - 2*list_dot_product(x, c)
         |      + list_dot_product(c, c)) * 1000000.0) AS BIGINT) AS idist
         |  FROM q JOIN pqcb ON q.j = pqcb.j),
         |sc AS (SELECT qid, vec_id, CAST(sum(idist) AS BIGINT) AS idist
         |  FROM pqcodes JOIN lut USING (j, code)
         |  WHERE vec_id <> qid GROUP BY qid, vec_id),
         |cand AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY idist, vec_id) AS crank FROM sc)
         |  WHERE crank <= $pqRerankCand),
         |qv AS (SELECT vec_id AS qid, v AS qv FROM pqe WHERE vec_id < 10),
         |ex AS (SELECT c.qid, c.vec_id,
         |    list_dot_product(v, v) - 2*list_dot_product(v, qv)
         |      + list_dot_product(qv, qv) AS d2
         |  FROM cand c JOIN pqe ON c.vec_id = pqe.vec_id
         |  JOIN qv ON c.qid = qv.qid),
         |rr AS (SELECT qid, vec_id, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM ex)
         |SELECT qid, rank, vec_id, round(d2, 6) AS d2 FROM rr
         |WHERE rank <= $pqRerankK ORDER BY qid, rank""".stripMargin,
    // q145: the full IVF-ADC + rerank composition — coarse-quantizer
    // routing (cosine, the cluster chain's geometry), ADC over cell
    // members only, exact-L2 refine. Both trained models re-derive
    // from their unrolled CTE chains.
    "q145_ivf_adc_topk" ->
      duckIvfAdcSql("greatest(3, count(*) // 16)", ivfAdcCand),
    // q150: the multi-probe composed serve — the IDENTICAL chain with
    // only the probe budget widened to 3× base, capped at nlist.
    "q150_ivf_multiprobe_topk" ->
      duckIvfAdcSql(
        "least(count(*), greatest(3, count(*) // 16) * 3)",
        ivfAdcCand * ivfMultiProbeBoost),
    // q158: the ADAPTIVE probe budget — base probes always, extras up
    // to the 3× cap only within the micro-cosine ambiguity margin,
    // refine cut scaled per query to its actual probe count.
    "q158_ivf_adaptive_topk" -> duckIvfAdaptiveSql,
    // q147: residual IVF-ADC — the q145 chain with the PQ stage
    // retargeted at residuals; the LUT is per (query, probed cluster)
    // because the query residual differs per cluster.
    "q147_residual_ivf_adc_topk" -> duckRpqAdcSql,
  ) ++ oraclesMore

  val oracles: Map[String, String] =
    baseOracles ++ Gates.oracles(Gates.llm, baseOracles)

  /** The q145/q150 oracle chain, parameterized by the probe-budget
    * expression (evaluated over `cent`). */
  private def duckIvfAdcSql(npExpr: String, candK: Int): String =
      s"""WITH $duckClusters,
         |$duckPq,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id < 10),
         |np AS (SELECT $npExpr AS np FROM cent),
         |probes AS (SELECT qid, cid FROM (
         |    SELECT q.qid, cent.cid, row_number() OVER (
         |      PARTITION BY q.qid
         |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rn
         |    FROM q CROSS JOIN cent)
         |  WHERE rn <= (SELECT np FROM np)),
         |cells AS (SELECT p.qid, cl.vec_id FROM probes p
         |  JOIN cl ON cl.cid = p.cid WHERE cl.vec_id <> p.qid),
         |qsv AS (SELECT vec_id AS qid, j, x FROM sv WHERE vec_id < 10),
         |lut AS (SELECT qid, qsv.j, pqcb.cid AS code,
         |    CAST(round((list_dot_product(x, x)
         |      - 2*list_dot_product(x, c)
         |      + list_dot_product(c, c)) * 1000000.0) AS BIGINT) AS idist
         |  FROM qsv JOIN pqcb ON qsv.j = pqcb.j),
         |sc AS (SELECT ce.qid, ce.vec_id,
         |    CAST(sum(idist) AS BIGINT) AS idist
         |  FROM cells ce JOIN pqcodes pc ON pc.vec_id = ce.vec_id
         |  JOIN lut ON lut.qid = ce.qid AND lut.j = pc.j
         |    AND lut.code = pc.code
         |  GROUP BY ce.qid, ce.vec_id),
         |cand AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY idist, vec_id) AS crank FROM sc)
         |  WHERE crank <= $candK),
         |qv2 AS (SELECT vec_id AS qid, v AS qv FROM pqe WHERE vec_id < 10),
         |ex AS (SELECT cd.qid, cd.vec_id,
         |    list_dot_product(v, v) - 2*list_dot_product(v, qv)
         |      + list_dot_product(qv, qv) AS d2
         |  FROM cand cd JOIN pqe ON cd.vec_id = pqe.vec_id
         |  JOIN qv2 ON cd.qid = qv2.qid),
         |rr AS (SELECT qid, vec_id, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM ex)
         |SELECT qid, rank, vec_id, round(d2, 6) AS d2 FROM rr
         |WHERE rank <= $pqRerankK ORDER BY qid, rank""".stripMargin

  // q158: the q145 chain with the probe CTE replaced by the adaptive
  // margin rule and the candidate cut joined to the per-query probe
  // count — every stage re-derived, both budgets integer-exact.
  private lazy val duckIvfAdaptiveSql: String =
      s"""WITH $duckClusters,
         |$duckPq,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id < 10),
         |np0 AS (SELECT greatest(3, count(*) // 16) AS base,
         |    least(count(*), greatest(3, count(*) // 16) * 3) AS cap
         |  FROM cent),
         |scored AS (SELECT q.qid, cent.cid,
         |    CAST(round(list_dot_product(qv, cv)/(qn*cn) * 1000000.0)
         |      AS BIGINT) AS ipcos
         |  FROM q CROSS JOIN cent),
         |rankedp AS (SELECT qid, cid, ipcos, row_number() OVER (
         |      PARTITION BY qid ORDER BY ipcos DESC, cid) AS rn,
         |    max(ipcos) OVER (PARTITION BY qid) AS best
         |  FROM scored),
         |probes AS (SELECT qid, cid FROM rankedp, np0
         |  WHERE rn <= base
         |    OR (rn <= cap AND best - ipcos <= $ivfAdaptiveMarginMicro)),
         |cells AS (SELECT p.qid, cl.vec_id FROM probes p
         |  JOIN cl ON cl.cid = p.cid WHERE cl.vec_id <> p.qid),
         |qsv AS (SELECT vec_id AS qid, j, x FROM sv WHERE vec_id < 10),
         |lut AS (SELECT qid, qsv.j, pqcb.cid AS code,
         |    CAST(round((list_dot_product(x, x)
         |      - 2*list_dot_product(x, c)
         |      + list_dot_product(c, c)) * 1000000.0) AS BIGINT) AS idist
         |  FROM qsv JOIN pqcb ON qsv.j = pqcb.j),
         |sc AS (SELECT ce.qid, ce.vec_id,
         |    CAST(sum(idist) AS BIGINT) AS idist
         |  FROM cells ce JOIN pqcodes pc ON pc.vec_id = ce.vec_id
         |  JOIN lut ON lut.qid = ce.qid AND lut.j = pc.j
         |    AND lut.code = pc.code
         |  GROUP BY ce.qid, ce.vec_id),
         |cand AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY idist, vec_id) AS crank
         |    FROM sc)
         |  WHERE crank <= ${ivfAdcCand * ivfMultiProbeBoost}),
         |qv2 AS (SELECT vec_id AS qid, v AS qv FROM pqe WHERE vec_id < 10),
         |ex AS (SELECT cd.qid, cd.vec_id,
         |    list_dot_product(v, v) - 2*list_dot_product(v, qv)
         |      + list_dot_product(qv, qv) AS d2
         |  FROM cand cd JOIN pqe ON cd.vec_id = pqe.vec_id
         |  JOIN qv2 ON cd.qid = qv2.qid),
         |rr AS (SELECT qid, vec_id, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM ex)
         |SELECT qid, rank, vec_id, round(d2, 6) AS d2 FROM rr
         |WHERE rank <= $pqRerankK ORDER BY qid, rank""".stripMargin

  // q147: residual IVF-ADC — the q145 chain with the PQ stage
  // retargeted at residuals; the LUT is per (query, probed cluster)
  // because the query residual differs per cluster.
  private lazy val duckRpqAdcSql: String =
      s"""WITH $duckClusters,
         |$duckRpq,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id < 10),
         |np AS (SELECT greatest(3, count(*) // 16) AS np FROM centm),
         |probes AS (SELECT qid, cid FROM (
         |    SELECT q.qid, centm.cid, row_number() OVER (
         |      PARTITION BY q.qid
         |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rn
         |    FROM q CROSS JOIN centm)
         |  WHERE rn <= (SELECT np FROM np)),
         |qres AS (SELECT p.qid, p.cid AS pcid,
         |    [q.qv[i] - centm.cv[i] for i in generate_series(1, 64)] AS qr
         |  FROM probes p JOIN q ON q.qid = p.qid
         |  JOIN centm ON centm.cid = p.cid),
         |qrsv AS (SELECT qid, pcid, j,
         |    qr[j*$pqDsub+1 : j*$pqDsub+$pqDsub] AS x
         |  FROM qres, LATERAL unnest(generate_series(0, ${pqNsub - 1}))
         |    AS tjq(j)),
         |lut AS (SELECT qid, pcid, qrsv.j, rpqcb.cid AS code,
         |    CAST(round((list_dot_product(x, x)
         |      - 2*list_dot_product(x, c)
         |      + list_dot_product(c, c)) * 1000000.0) AS BIGINT) AS idist
         |  FROM qrsv JOIN rpqcb ON qrsv.j = rpqcb.j),
         |cc AS (SELECT pc.vec_id, pc.j, pc.code, clm.cid AS pcid
         |  FROM rpqcodes pc JOIN clm USING (vec_id)),
         |sc AS (SELECT l.qid, cc.vec_id,
         |    CAST(sum(l.idist) AS BIGINT) AS idist
         |  FROM cc JOIN lut l ON l.pcid = cc.pcid AND l.j = cc.j
         |    AND l.code = cc.code
         |  WHERE cc.vec_id <> l.qid GROUP BY l.qid, cc.vec_id),
         |cand AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id, row_number() OVER (
         |      PARTITION BY qid ORDER BY idist, vec_id) AS crank FROM sc)
         |  WHERE crank <= $ivfAdcCand),
         |qv2 AS (SELECT vec_id AS qid, v AS qv FROM e WHERE vec_id < 10),
         |ex AS (SELECT cd.qid, cd.vec_id,
         |    list_dot_product(e.v, e.v) - 2*list_dot_product(e.v, qv)
         |      + list_dot_product(qv, qv) AS d2
         |  FROM cand cd JOIN e ON cd.vec_id = e.vec_id
         |  JOIN qv2 ON cd.qid = qv2.qid),
         |rr AS (SELECT qid, vec_id, d2, row_number() OVER (
         |    PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM ex)
         |SELECT qid, rank, vec_id, round(d2, 6) AS d2 FROM rr
         |WHERE rank <= $pqRerankK ORDER BY qid, rank""".stripMargin

  /** The q151/q154 oracle PREFIX: quality gates → Gopher rules →
    * keep-first dedup → train bucket (`train`, MATERIALIZED — two
    * consumers) → the waterfill over curated-train masses (`wfplan`).
    * Shared so a value drift in ANY curation stage breaks BOTH
    * hashes. */
  private lazy val duckCuratedChain: String =
      s"""q AS (SELECT doc_id, source, text, n_chars,
         |             len(string_split(text, ' ')) AS n_words,
         |             string_split(text, ' ') AS w
         |           FROM documents
         |           WHERE len(string_split(text, ' ')) >= 15
         |             AND n_chars <= len(string_split(text, ' ')) * 12),
         |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
         |         for i in generate_series(1, len(w) - 1)]) AS g
         |       FROM q WHERE len(w) >= 2),
         |g3 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
         |         for i in generate_series(1, len(w) - 2)]) AS g
         |       FROM q WHERE len(w) >= 3),
         |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
         |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
         |t2 AS (SELECT doc_id, max(c * length(g)) AS top2 FROM c2 GROUP BY 1),
         |d3 AS (SELECT doc_id, sum(c * length(g)) FILTER (c >= 2) AS dup3
         |       FROM c3 GROUP BY 1),
         |kept AS (SELECT q.doc_id, q.source, q.text, q.n_words
         |  FROM q LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
         |  WHERE NOT (coalesce(t2.top2, 0) * 25 > q.n_chars * 3
         |             OR coalesce(d3.dup3, 0) * 10 > q.n_chars)),
         |rep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
         |        FROM kept GROUP BY 1),
         |train AS MATERIALIZED (SELECT kept.source, kept.doc_id,
         |    CAST(kept.n_words AS BIGINT) AS n_tok
         |  FROM kept JOIN rep USING (doc_id)
         |  WHERE ${graft.functions.TopK.knuthHashSql("doc_id")} % 100 < 80),
         |${duckWaterfillFrom(
            "SELECT source, CAST(sum(n_tok) AS BIGINT) AS n " +
              "FROM train GROUP BY 1")}""".stripMargin

  /** The shared serve TAIL (cells → ADC → candidate cut → exact
    * refine → top-k ids) over an already-defined `probes$sfx` CTE —
    * factored out so fixed-budget ([[duckServeBlock]]) and
    * margin-adaptive ([[duckAdaptiveServeBlock]]) probe selections
    * ride the identical scoring chain. Expects `cent/cl/pqcodes/pqe`
    * from the training chains plus shared `q/lutq/qv2` CTEs. */
  private def duckServeTail(sfx: String, candK: Int): String =
    s"""cells$sfx AS (SELECT p.qid, cl.vec_id FROM probes$sfx p
       |  JOIN cl ON cl.cid = p.cid WHERE cl.vec_id <> p.qid),
       |sc$sfx AS (SELECT ce.qid, ce.vec_id,
       |    CAST(sum(idist) AS BIGINT) AS idist
       |  FROM cells$sfx ce JOIN pqcodes pc ON pc.vec_id = ce.vec_id
       |  JOIN lutq ON lutq.qid = ce.qid AND lutq.j = pc.j
       |    AND lutq.code = pc.code
       |  GROUP BY ce.qid, ce.vec_id),
       |cand$sfx AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY idist, vec_id) AS crank
       |    FROM sc$sfx)
       |  WHERE crank <= $candK),
       |ex$sfx AS (SELECT cd.qid, cd.vec_id,
       |    list_dot_product(v, v) - 2*list_dot_product(v, qv)
       |      + list_dot_product(qv, qv) AS d2
       |  FROM cand$sfx cd JOIN pqe ON cd.vec_id = pqe.vec_id
       |  JOIN qv2 ON cd.qid = qv2.qid),
       |rr$sfx AS (SELECT qid, vec_id FROM (
       |    SELECT qid, vec_id, row_number() OVER (
       |      PARTITION BY qid ORDER BY d2, vec_id) AS rank FROM ex$sfx)
       |  WHERE rank <= $pqRerankK)""".stripMargin

  /** One fixed-budget composed-serve CTE block, every CTE name
    * suffixed so several probe budgets can ride ONE quantizer/PQ
    * training chain inside a single oracle (q153). */
  private def duckServeBlock(
      sfx: String, npExpr: String, candK: Int): String =
    s"""np$sfx AS (SELECT $npExpr AS np FROM cent),
       |probes$sfx AS (SELECT qid, cid FROM (
       |    SELECT q.qid, cent.cid, row_number() OVER (
       |      PARTITION BY q.qid
       |      ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rn
       |    FROM q CROSS JOIN cent)
       |  WHERE rn <= (SELECT np FROM np$sfx)),
       |${duckServeTail(sfx, candK)}""".stripMargin

  /** The margin-ADAPTIVE probe block (q158's rule), suffixed like
    * [[duckServeBlock]] so the recall report can compare it against
    * the fixed budgets in one cascade. */
  private def duckAdaptiveServeBlock(sfx: String): String =
    s"""np0$sfx AS (SELECT greatest(3, count(*) // 16) AS base,
       |    least(count(*), greatest(3, count(*) // 16) * 3) AS cap
       |  FROM cent),
       |scored$sfx AS (SELECT q.qid, cent.cid,
       |    CAST(round(list_dot_product(qv, cv)/(qn*cn) * 1000000.0)
       |      AS BIGINT) AS ipcos
       |  FROM q CROSS JOIN cent),
       |rankedp$sfx AS (SELECT qid, cid, ipcos, row_number() OVER (
       |      PARTITION BY qid ORDER BY ipcos DESC, cid) AS rn,
       |    max(ipcos) OVER (PARTITION BY qid) AS best
       |  FROM scored$sfx),
       |probes$sfx AS (SELECT qid, cid FROM rankedp$sfx, np0$sfx
       |  WHERE rn <= base
       |    OR (rn <= cap AND best - ipcos <= $ivfAdaptiveMarginMicro)),
       |${duckServeTail(sfx, ivfAdcCand * ivfMultiProbeBoost)}"""
      .stripMargin

  /** Continuation of [[oracles]] (the map literal splits where the
    * q145/q147/q150 entries delegate to the shared SQL builders). */
  private lazy val oraclesMore: Map[String, String] = Map(
    // q153: recall@10 of BOTH composed serve budgets vs the exact
    // brute-force top-10, re-derived end to end (training chains +
    // two serve blocks + the exact leg) — the recall numbers the
    // specs assert become oracle-gated integers here.
    "q153_ann_recall_report" ->
      s"""WITH $duckClusters,
         |$duckPq,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n
         |  WHERE vec_id < 10),
         |qsv AS (SELECT vec_id AS qid, j, x FROM sv WHERE vec_id < 10),
         |lutq AS (SELECT qid, qsv.j, pqcb.cid AS code,
         |    CAST(round((list_dot_product(x, x)
         |      - 2*list_dot_product(x, c)
         |      + list_dot_product(c, c)) * 1000000.0) AS BIGINT) AS idist
         |  FROM qsv JOIN pqcb ON qsv.j = pqcb.j),
         |qv2 AS (SELECT vec_id AS qid, v AS qv FROM pqe
         |  WHERE vec_id < 10),
         |${duckServeBlock("b", "greatest(3, count(*) // 16)",
            ivfAdcCand)},
         |${duckServeBlock("m",
            "least(count(*), greatest(3, count(*) // 16) * 3)",
            ivfAdcCand * ivfMultiProbeBoost)},
         |${duckAdaptiveServeBlock("a")},
         |exact AS (SELECT qid, vec_id FROM (
         |    SELECT q.qid, pqe.vec_id, row_number() OVER (
         |      PARTITION BY q.qid
         |      ORDER BY list_dot_product(v, v) - 2*list_dot_product(v, qv)
         |        + list_dot_product(qv, qv), vec_id) AS rank
         |    FROM q JOIN pqe ON pqe.vec_id <> q.qid)
         |  WHERE rank <= $pqRerankK),
         |nq AS (SELECT count(*) AS n FROM q)
         |SELECT path, probes, hits,
         |  CAST(hits * 1000000 // ($pqRerankK * (SELECT n FROM nq))
         |    AS BIGINT) AS recall_micro
         |FROM (
         |  SELECT 'base' AS path,
         |    CAST((SELECT np FROM npb) * (SELECT n FROM nq) AS BIGINT)
         |      AS probes,
         |    CAST(count(*) AS BIGINT) AS hits
         |  FROM rrb JOIN exact USING (qid, vec_id)
         |  UNION ALL
         |  SELECT 'multiprobe' AS path,
         |    CAST((SELECT np FROM npm) * (SELECT n FROM nq) AS BIGINT)
         |      AS probes,
         |    CAST(count(*) AS BIGINT) AS hits
         |  FROM rrm JOIN exact USING (qid, vec_id)
         |  UNION ALL
         |  SELECT 'adaptive' AS path,
         |    CAST((SELECT count(*) FROM probesa) AS BIGINT) AS probes,
         |    CAST(count(*) AS BIGINT) AS hits
         |  FROM rra JOIN exact USING (qid, vec_id))
         |ORDER BY path""".stripMargin,
    // q154: the curated sink's CONTENT — the q151 chain's admitted
    // train documents, re-derived end to end (gates → dedup → split →
    // waterfill → cutoff) so a stale artifact or a drifted stage
    // breaks the hash.
    "q154_curated_mix_shards" ->
      s"""WITH $duckCuratedChain,
         |cumc AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM train)
         |SELECT cumc.source, cumc.doc_id, cumc.n_tok,
         |  CAST(cumc.cum AS BIGINT) AS cum
         |FROM cumc JOIN wfplan USING (source)
         |WHERE cum <= alloc_tokens
         |ORDER BY source, doc_id""".stripMargin,
    // q146: prefix-filtered exact Jaccard — candidates from
    // rarest-first prefixes (n − ⌈n/2⌉ + 1, integer arithmetic),
    // verified over the FULL sets with the integer test 3c ≥ n1+n2;
    // exact verification makes the output independent of df tie-break
    // order, so both engines emit identical rows even if their
    // candidate supersets differ.
    "q146_prefix_jaccard_pairs" ->
      s"""WITH $duckShingles,
         |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |dfq AS (SELECT s, count(*) AS df FROM inv GROUP BY s),
         |ord AS (SELECT doc_id, inv.s, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY df, inv.s) AS rn
         |  FROM inv JOIN dfq ON inv.s = dfq.s),
         |sz AS (SELECT doc_id, len(shingles) AS n FROM sh),
         |pref AS (SELECT ord.doc_id, s, rn, n FROM ord JOIN sz USING (doc_id)
         |  WHERE rn <= n - (n + 1) // 2 + 1),
         |cand AS (SELECT DISTINCT a.doc_id AS d1, b.doc_id AS d2
         |  FROM pref a JOIN pref b
         |    ON a.s = b.s AND a.doc_id < b.doc_id
         |  WHERE 2*a.n >= b.n AND 2*b.n >= a.n
         |    AND 3*(least(a.n - a.rn, b.n - b.rn) + 1) >= a.n + b.n),
         |ver AS (SELECT d1, d2,
         |    len(list_intersect(x.shingles, y.shingles)) AS common,
         |    len(x.shingles) AS n1, len(y.shingles) AS n2
         |  FROM cand JOIN sh x ON d1 = x.doc_id JOIN sh y ON d2 = y.doc_id)
         |SELECT d1, d2, CAST(common AS BIGINT) AS common,
         |  round(common * 1.0 / (n1 + n2 - common), 6) AS jaccard
         |FROM ver WHERE common * 3 >= n1 + n2
         |ORDER BY d1, d2""".stripMargin,
    "q67_tfidf_top_terms" ->
      """WITH toks AS (SELECT lang, doc_id,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |tf AS (SELECT lang, token, count(*) AS tf FROM toks GROUP BY 1, 2),
        |df AS (SELECT token, count(*) AS df FROM
        |  (SELECT DISTINCT doc_id, token FROM toks) GROUP BY 1),
        |tot AS (SELECT count(*) AS n_total FROM documents),
        |sc AS (SELECT lang, token, tf, df,
        |  row_number() OVER (PARTITION BY lang
        |    ORDER BY tf * ln(n_total * 1.0 / df) DESC, token) AS rank
        |  FROM tf JOIN df USING (token) CROSS JOIN tot)
        |SELECT lang, rank, token, tf, df FROM sc
        |WHERE rank <= 5 ORDER BY lang, rank""".stripMargin,
    "q68_containment_pairs" ->
      s"""WITH $duckShingles,
         |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |rare AS (SELECT s FROM inv GROUP BY s
         |  HAVING count(*) <= $stopDfThresholdSql),
         |pruned AS (SELECT doc_id, s FROM inv JOIN rare USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n FROM pruned GROUP BY doc_id),
         |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
         |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2, common, x.n AS n1, y.n AS n2,
         |  round(common * 1.0 / least(x.n, y.n), 6) AS containment
         |FROM com JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |WHERE common * 1.0 / least(x.n, y.n) >= 0.8
         |ORDER BY d1, d2""".stripMargin,
    "q72_charngram_langid" ->
      """WITH s AS (SELECT lang,
        |  (length(text) - length(replace(text, 'th', ''))) / 2
        |    + (length(text) - length(replace(text, 'he', ''))) / 2
        |    + (length(text) - length(replace(text, 'er', ''))) / 2 AS en_score,
        |  (length(text) - length(replace(text, 'le', ''))) / 2
        |    + (length(text) - length(replace(text, 'ou', ''))) / 2
        |    + (length(text) - length(replace(text, 'es', ''))) / 2 AS fr_score,
        |  (length(text) - length(replace(text, 'ei', ''))) / 2
        |    + (length(text) - length(replace(text, 'ch', ''))) / 2
        |    + (length(text) - length(replace(text, 'en', ''))) / 2 AS de_score
        |  FROM documents)
        |SELECT lang,
        |  CASE WHEN en_score >= fr_score AND en_score >= de_score THEN 'en'
        |       WHEN fr_score >= de_score THEN 'fr' ELSE 'de' END AS predicted,
        |  count(*) AS n, CAST(sum(en_score) AS BIGINT) AS sum_en_score
        |FROM s GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q28_text_stats" ->
      """SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_words,
        |  round(avg(len(string_split(text, ' '))), 4) AS avg_words,
        |  max(len(string_split(text, ' '))) AS max_words
        |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,
    "q29_exact_dedup" ->
      """SELECT source, count(*) AS n_docs,
        |  count(DISTINCT md5(text)) AS n_distinct,
        |  CAST(count(*) - count(DISTINCT md5(text)) AS BIGINT) AS n_dups
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q30_minhash_pairs" ->
      s"""WITH $duckMinhashVerify
         |SELECT d1, d2,
         |  round(common * 1.0 / (n1 + n2 - common), 6) AS jaccard
         |FROM vfy WHERE common * 1.0 / (n1 + n2 - common) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    "q92_lm_rare_filter" ->
      """WITH bg AS (SELECT doc_id, lang, unnest(
        |    [text[i:i+1] for i in generate_series(1, greatest(length(text) - 1, 1))]
        |  ) AS bg FROM documents),
        |model AS (SELECT lang, bg, count(*) AS cnt FROM bg GROUP BY lang, bg),
        |tot AS (SELECT lang, CAST(sum(cnt) AS BIGINT) AS total
        |  FROM model GROUP BY lang),
        |rare AS (SELECT m.lang, m.bg,
        |  CASE WHEN m.cnt * 10000 < t.total THEN 1 ELSE 0 END AS is_rare
        |  FROM model m JOIN tot t ON m.lang = t.lang),
        |perdoc AS (SELECT doc_id, b.lang,
        |  count(*) AS n_bigrams,
        |  CAST(sum(is_rare) AS BIGINT) AS n_rare
        |  FROM bg b JOIN rare r ON b.lang = r.lang AND b.bg = r.bg
        |  GROUP BY doc_id, b.lang),
        |fl AS (SELECT *, CASE WHEN n_rare * 10 > n_bigrams THEN 1 ELSE 0 END
        |  AS flagged FROM perdoc)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_rare) AS BIGINT) AS sum_rare,
        |  CAST(sum(flagged) AS BIGINT) AS n_flagged
        |FROM fl GROUP BY lang ORDER BY lang""".stripMargin,
    "q91_url_dedup" ->
      """WITH u AS (SELECT doc_id, source,
        |  'https://' || upper(source) || '.Example.COM/p/' ||
        |    CAST(doc_id % 137 AS VARCHAR) ||
        |    CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END ||
        |    CASE WHEN doc_id % 3 = 0 THEN '?utm_source=feed' ELSE '' END
        |    AS url
        |  FROM documents),
        |c AS (SELECT doc_id,
        |  lower(regexp_extract(regexp_replace(url, '\?.*$', ''),
        |    '^https://([^/]+)', 1)) AS domain,
        |  'https://' ||
        |    lower(regexp_extract(regexp_replace(url, '\?.*$', ''),
        |      '^https://([^/]+)', 1)) ||
        |    regexp_replace(regexp_extract(regexp_replace(url, '\?.*$', ''),
        |      '^https://[^/]+(/.*)$', 1), '/$', '') AS canon
        |  FROM u)
        |SELECT domain, count(*) AS n_docs,
        |  CAST(count(DISTINCT canon) AS BIGINT) AS n_pages,
        |  CAST(count(*) - count(DISTINCT canon) AS BIGINT) AS n_dups
        |FROM c GROUP BY domain ORDER BY domain""".stripMargin,
    // q95: DuckDB regexp_replace needs the explicit 'g' flag to match
    // Spark's replace-all default; patterns are POSIX-simple so the
    // RE2 and Java dialects agree.
    "q95_pii_scrub" ->
      """WITH p AS (SELECT doc_id, source, text ||
        |    CASE WHEN doc_id % 7 = 0 THEN ' contact user' ||
        |      CAST(doc_id AS VARCHAR) || '@example.com' ELSE '' END ||
        |    CASE WHEN doc_id % 11 = 0 THEN ' call 555-' ||
        |      lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0') ELSE '' END
        |    AS t2
        |  FROM documents),
        |r AS (SELECT source,
        |    len(regexp_extract_all(t2, '[a-z0-9]+@[a-z0-9]+\.[a-z]+'))
        |      AS ne,
        |    len(regexp_extract_all(t2, '[0-9]{3}-[0-9]{4}')) AS np,
        |    length(regexp_replace(
        |      regexp_replace(t2, '[a-z0-9]+@[a-z0-9]+\.[a-z]+',
        |        '<EMAIL>', 'g'),
        |      '[0-9]{3}-[0-9]{4}', '<PHONE>', 'g')) AS lscrub
        |  FROM p)
        |SELECT source, count(*) AS n_docs,
        |  CAST(sum(ne) AS BIGINT) AS n_emails,
        |  CAST(sum(np) AS BIGINT) AS n_phones,
        |  CAST(sum(lscrub) AS BIGINT) AS chars_scrubbed
        |FROM r GROUP BY source ORDER BY source""".stripMargin,
    // q94: the window-rank formulation IS the oracle; the engine's
    // bounded heap must reproduce it row for row (value desc, id asc).
    "q94_domain_caps" ->
      s"""WITH d AS (SELECT doc_id, n_chars,
         |    lower(source) || '.example.com' AS domain FROM documents),
         |t AS (SELECT domain, count(*) AS n_total
         |  FROM d GROUP BY domain),
         |r AS (SELECT domain, doc_id, n_chars, row_number() OVER (
         |    PARTITION BY domain ORDER BY n_chars DESC, doc_id) AS rank
         |  FROM d)
         |SELECT r.domain, r.rank, r.doc_id, r.n_chars, t.n_total,
         |  t.n_total - least(t.n_total, $domainCap) AS n_dropped
         |FROM r JOIN t ON r.domain = t.domain
         |WHERE r.rank <= $domainCap
         |ORDER BY r.domain, r.rank""".stripMargin,
    // q49: the admission gate's batch backfill — incoming side banded
    // with the same 24-hash/12-band construction, collided against the
    // corpus bands, exact-verified; filter on the ROUNDED jaccard,
    // mirroring the engine's post-round threshold.
    "q49_admission_backfill" ->
      s"""WITH $duckShingles,
         |insh AS (SELECT doc_id + 1000000 AS in_id, shingles
         |  FROM sh WHERE doc_id % 50 = 0),
         |mhc AS (SELECT doc_id,
         |  [list_aggregate([md5(h || '|' || s) for s in shingles], 'min')
         |   for h in generate_series(0, 23)] AS sig FROM sh),
         |bc AS (SELECT doc_id, b,
         |  md5(sig[2*b+1] || ',' || sig[2*b+2]) AS bh
         |  FROM mhc, LATERAL unnest(generate_series(0, 11)) AS t(b)),
         |mhi AS (SELECT in_id,
         |  [list_aggregate([md5(h || '|' || s) for s in shingles], 'min')
         |   for h in generate_series(0, 23)] AS sig FROM insh),
         |bi AS (SELECT in_id, b,
         |  md5(sig[2*b+1] || ',' || sig[2*b+2]) AS bh
         |  FROM mhi, LATERAL unnest(generate_series(0, 11)) AS t(b)),
         |cand AS (SELECT DISTINCT i.in_id, c.doc_id AS corpus_id
         |  FROM bi i JOIN bc c ON i.bh = c.bh AND i.b = c.b),
         |vfy AS (SELECT in_id, corpus_id,
         |  len(list_filter(x.shingles, s -> list_contains(y.shingles, s)))
         |    AS common,
         |  len(x.shingles) AS n1, len(y.shingles) AS n2
         |  FROM cand JOIN insh x USING (in_id)
         |  JOIN sh y ON corpus_id = y.doc_id)
         |SELECT in_id, corpus_id,
         |  round(common * 1.0 / (n1 + n2 - common), 6) AS jaccard
         |FROM vfy WHERE round(common * 1.0 / (n1 + n2 - common), 6) >= 0.5
         |ORDER BY in_id, corpus_id""".stripMargin,
    "q63_dup_clusters" -> duckDupClusters,
    // Same oracle on purpose: big-star must reproduce q63's clusters.
    "q77_dup_clusters_bigstar" -> duckDupClusters,
    "q110_cluster_reps" ->
      s"""$duckClusterLabels,
         |j AS (SELECT cluster_id, vx, n_chars
         |  FROM lab JOIN documents ON vx = doc_id),
         |rep AS (SELECT cluster_id, vx, n_chars, row_number() OVER (
         |    PARTITION BY cluster_id ORDER BY n_chars DESC, vx) AS rn
         |  FROM j),
         |agg AS (SELECT cluster_id, count(*) AS n_docs,
         |    CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |  FROM j GROUP BY 1)
         |SELECT a.cluster_id, a.n_docs, r.vx AS rep_doc_id,
         |  r.n_chars AS rep_n_chars,
         |  CAST(a.sum_chars - r.n_chars AS BIGINT) AS chars_dropped
         |FROM agg a JOIN rep r ON a.cluster_id = r.cluster_id AND r.rn = 1
         |ORDER BY a.cluster_id""".stripMargin,
    "q64_kmeans_iteration" ->
      s"""WITH $duckClusters,
         |ex AS (SELECT cid, i, v[i] AS x
         |  FROM cl, LATERAL unnest(generate_series(1, 64)) AS t(i)),
         |ag AS (SELECT cid, i, sum(x) AS sx, count(*) AS n
         |  FROM ex GROUP BY cid, i)
         |SELECT cid, n AS n_assigned, CAST(i AS BIGINT) AS dim,
         |  round(sx / n, 6) AS cval
         |FROM ag ORDER BY cid, dim""".stripMargin,
    "q31_topk_cosine" ->
      s"""WITH $duckVectors,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |s AS (SELECT qid, vec_id,
         |  list_dot_product(v, qv)/(nrm*qn) AS cos,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY list_dot_product(v, qv)/(nrm*qn) DESC, vec_id) AS rank
         |  FROM n CROSS JOIN q WHERE vec_id <> qid)
         |SELECT qid, rank, vec_id, round(cos, 6) AS cos
         |FROM s WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q81_sequence_packing" ->
      s"""WITH d AS (SELECT doc_id, lang,
         |  len(string_split(text, ' ')) AS n_tok,
         |  ${graft.functions.TopK.knuthHashSql("doc_id")} % $packingShards
         |    AS shard FROM documents),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY lang, shard
        |  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS end_off FROM d)
        |SELECT doc_id, lang, shard, CAST(n_tok AS BIGINT) AS n_tok,
        |  CAST(end_off - n_tok AS BIGINT) AS start_off,
        |  CAST(floor((end_off - n_tok) / 512) AS BIGINT) AS bin_id
        |FROM c ORDER BY doc_id""".stripMargin,
    "q84_doc_chunks" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |st AS (SELECT doc_id, ws, len(ws) AS n,
        |  unnest(generate_series(1, greatest(len(ws) - 32, 1), 32)) AS start
        |  FROM w)
        |SELECT doc_id, CAST((start - 1) // 32 AS BIGINT) AS chunk_id,
        |  CAST(least(64, n - start + 1) AS BIGINT) AS chunk_tokens,
        |  md5(array_to_string(ws[start:start+63], ' ')) AS chunk_md5
        |FROM st ORDER BY doc_id, chunk_id""".stripMargin,
    "q85_data_mixture" ->
      """WITH d AS (SELECT doc_id, source,
        |  len(string_split(text, ' ')) AS n_tok FROM documents),
        |c AS (SELECT *, sum(n_tok) OVER (PARTITION BY source
        |  ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS cum FROM d)
        |SELECT source, count(*) AS n_docs,
        |  CAST(max(cum) AS BIGINT) AS tokens_taken
        |FROM c WHERE cum <= 5000
        |GROUP BY source ORDER BY source""".stripMargin,
    "q83_filtered_topk" ->
      s"""WITH $duckVectors,
         |en AS (SELECT doc_id FROM documents WHERE lang = 'en'),
         |c AS (SELECT n.* FROM n JOIN en ON n.vec_id = en.doc_id),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |s AS (SELECT qid, vec_id,
         |  list_dot_product(v, qv)/(nrm*qn) AS cos,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY list_dot_product(v, qv)/(nrm*qn) DESC, vec_id) AS rank
         |  FROM c CROSS JOIN q WHERE vec_id <> qid)
         |SELECT qid, rank, vec_id, round(cos, 6) AS cos
         |FROM s WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q32_simhash" ->
      """WITH w AS (
        |  SELECT doc_id, [md5(x) for x in string_split(text, ' ')] AS hs
        |  FROM documents)
        |SELECT doc_id, CAST(list_sum(
        |  [CASE WHEN list_sum([CASE WHEN strpos('89abcdef', h[i:i]) > 0
        |                        THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN 1 << (i - 1) ELSE 0 END for i in generate_series(1, 16)])
        |  AS BIGINT) AS simhash
        |FROM w ORDER BY doc_id""".stripMargin,
    "q90_hyperplane_neardup" ->
      s"""WITH $duckHyperplaneBuckets
         |SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6) AS cos
         |FROM bk a JOIN bk b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4
         |ORDER BY v1, v2""".stripMargin,
    // q132: multi-probe re-derives the probe set (own bucket + XOR
    // flips of the 2 lowest-|margin| planes) from the same integer
    // hyperplane formula, then scores probed candidates exactly.
    "q132_multiprobe_topk" ->
      s"""WITH $duckHyperplaneBuckets,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket AS qb
         |  FROM bk WHERE vec_id < 10),
         |mg AS (SELECT qid, j, row_number() OVER (PARTITION BY qid
         |    ORDER BY abs(list_dot_product(h, qv)), j) AS rn
         |  FROM q CROSS JOIN pl),
         |fl AS (SELECT qid,
         |    max(CASE WHEN rn = 1 THEN j END) AS j1,
         |    max(CASE WHEN rn = 2 THEN j END) AS j2
         |  FROM mg WHERE rn <= 2 GROUP BY qid),
         |pr AS (SELECT qid, qv, qn,
         |    unnest([qb, xor(qb, 1::BIGINT << j1), xor(qb, 1::BIGINT << j2),
         |            xor(qb, xor(1::BIGINT << j1, 1::BIGINT << j2))])
         |      AS probe
         |  FROM q JOIN fl USING (qid)),
         |sc AS (SELECT qid, vec_id,
         |    list_dot_product(v, qv)/(nrm*qn) AS cos,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY list_dot_product(v, qv)/(nrm*qn) DESC, vec_id)
         |      AS rank
         |  FROM pr JOIN bk ON bk.bucket = pr.probe
         |  WHERE vec_id <> qid)
         |SELECT qid, rank, vec_id, round(cos, 6) AS cos
         |FROM sc WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // q97: the vector admission gate's batch backfill — incoming =
    // every 50th vector under a fresh id, bucketed identically and
    // exact-verified against the whole corpus index.
    "q97_vector_admission" ->
      s"""WITH $duckHyperplaneBuckets,
         |ibk AS (SELECT vec_id + 1000000 AS in_id, v AS iv, nrm AS inrm,
         |    bucket
         |  FROM bk WHERE vec_id % 50 = 0)
         |SELECT in_id, b.vec_id AS corpus_id,
         |  round(list_dot_product(iv, b.v)/(inrm*b.nrm), 6) AS cos
         |FROM ibk a JOIN bk b ON a.bucket = b.bucket
         |WHERE list_dot_product(iv, b.v)/(inrm*b.nrm) >= 0.4
         |ORDER BY in_id, corpus_id""".stripMargin,
    // The oracle re-derives the SQ8 quantization inline (it cannot read
    // the persisted artifact); parity is exact because the codes are
    // integers and the ranking key divides integer-valued doubles.
    "q93_quantized_topk" ->
      s"""WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v
         |  FROM embeddings),
         |mx AS (SELECT i, max(abs(v[i])) AS m FROM e,
         |    LATERAL unnest(generate_series(1, 64)) AS u(i) GROUP BY i),
         |ml AS (SELECT list(m ORDER BY i) AS m FROM mx),
         |qz AS (SELECT vec_id,
         |    [CASE WHEN m[i] = 0 THEN 0.0
         |          ELSE round(v[i] * 127.0 / m[i]) END
         |      for i in generate_series(1, 64)] AS qd
         |  FROM e CROSS JOIN ml),
         |nq AS (SELECT vec_id, qd, sqrt(list_dot_product(qd, qd)) AS qn
         |  FROM qz),
         |q AS (SELECT vec_id AS qid, qd AS qq, qn AS qqn FROM nq
         |  WHERE vec_id < 10),
         |sc AS (SELECT qid, vec_id,
         |    CAST(list_dot_product(qd, qq) AS BIGINT) AS idot,
         |    CAST(list_dot_product(qd, qq) AS BIGINT) / (qn * qqn) AS qcos,
         |    row_number() OVER (PARTITION BY qid
         |      ORDER BY CAST(list_dot_product(qd, qq) AS BIGINT) / (qn * qqn)
         |        DESC, vec_id) AS rank
         |  FROM nq, q WHERE vec_id <> qid)
         |SELECT qid, rank, vec_id, idot, round(qcos, 6) AS qcos
         |FROM sc WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    "q89_chunk_dedup" ->
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
        |  FROM documents),
        |ch AS (SELECT doc_id,
        |  md5(array_to_string(ws[start:start+63], ' ')) AS chunk_md5
        |  FROM (SELECT doc_id, ws,
        |    unnest(generate_series(1, greatest(len(ws) - 32, 1), 32)) AS start
        |    FROM w)),
        |dpc AS (SELECT chunk_md5, count(DISTINCT doc_id) AS n_docs
        |  FROM ch GROUP BY chunk_md5)
        |SELECT doc_id, count(*) AS n_chunks,
        |  CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dup_chunks,
        |  round(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) * 1.0
        |    / count(*), 6) AS dup_ratio
        |FROM ch JOIN dpc USING (chunk_md5)
        |GROUP BY doc_id
        |HAVING sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) > 0
        |ORDER BY doc_id""".stripMargin,
    "q88_contamination_matrix" ->
      s"""WITH $duckShingles,
         |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |rare AS (SELECT s FROM inv GROUP BY s
         |  HAVING count(*) <= $stopDfThresholdSql),
         |srcsh AS (SELECT DISTINCT i.s, d.source
         |  FROM inv i JOIN rare USING (s)
         |  JOIN documents d ON i.doc_id = d.doc_id)
         |SELECT a.source AS s1, b.source AS s2,
         |  count(*) AS shared_shingles
         |FROM srcsh a JOIN srcsh b ON a.s = b.s AND a.source < b.source
         |GROUP BY 1, 2 ORDER BY s1, s2""".stripMargin,
    "q33_jaccard_pairs" ->
      s"""WITH $duckShingles,
         |inv AS (SELECT doc_id, unnest(shingles) AS s FROM sh),
         |rare AS (SELECT s FROM inv GROUP BY s
         |  HAVING count(*) <= $stopDfThresholdSql),
         |pruned AS (SELECT doc_id, s FROM inv JOIN rare USING (s)),
         |sz AS (SELECT doc_id, count(*) AS n FROM pruned GROUP BY doc_id),
         |com AS (SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS common
         |  FROM pruned a JOIN pruned b ON a.s = b.s AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2)
         |SELECT d1, d2,
         |  round(common * 1.0 / (x.n + y.n - common), 6) AS jaccard
         |FROM com JOIN sz x ON d1 = x.doc_id JOIN sz y ON d2 = y.doc_id
         |WHERE common * 1.0 / (x.n + y.n - common) >= 0.5
         |ORDER BY d1, d2""".stripMargin,
    "q34_langid_confusion" ->
      """WITH s AS (SELECT lang, string_split(text, ' ') AS ws FROM documents),
        |h AS (SELECT lang,
        |  len(list_filter(ws, w -> list_contains(['the','a','is','of','and'], w))) AS en_hits,
        |  len(list_filter(ws, w -> list_contains(['le','la','de','et','un'], w))) AS fr_hits,
        |  len(list_filter(ws, w -> list_contains(['der','die','das','und','ein'], w))) AS de_hits
        |  FROM s)
        |SELECT lang,
        |  CASE WHEN en_hits >= fr_hits AND en_hits >= de_hits THEN 'en'
        |       WHEN fr_hits >= de_hits THEN 'fr' ELSE 'de' END AS predicted,
        |  count(*) AS n
        |FROM h GROUP BY 1, 2 ORDER BY lang, predicted""".stripMargin,
    "q35_quality_score" ->
      """WITH s AS (SELECT doc_id, n_chars, string_split(text, ' ') AS ws
        |  FROM documents),
        |h AS (SELECT doc_id, n_chars, len(ws) AS n_words,
        |  len(list_filter(ws, w -> list_contains(['the','a','and','of','is'], w))) AS stop_hits
        |  FROM s)
        |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
        |  round((n_chars - (n_words - 1)) * 1.0 / n_words, 4) AS avg_word_len,
        |  round(stop_hits * 1.0 / n_words, 6) AS stopword_ratio,
        |  round(least(1.0, n_words / 100.0) * (1 - stop_hits * 1.0 / n_words), 6)
        |    AS quality
        |FROM h ORDER BY doc_id""".stripMargin,
    "q78_length_outliers" ->
      """WITH thr AS (SELECT lang, quantile_cont(n_chars, 0.95) AS thr
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars, round(thr.thr, 6) AS p95
        |FROM documents d JOIN thr USING (lang)
        |WHERE d.n_chars >= thr.thr
        |ORDER BY d.doc_id""".stripMargin,
    "q36_token_counts" ->
      """SELECT source, count(*) AS n_docs,
        |  CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS sum_ws_tokens,
        |  CAST(sum(len(regexp_extract_all(text, '[a-z]+|[0-9]+|[^a-z0-9 ]')))
        |    AS BIGINT) AS sum_re_tokens
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q37_fingerprints" ->
      """SELECT doc_id,
        |  list_aggregate([md5(text[i:i+15])
        |    for i in generate_series(1, greatest(length(text) - 15, 1))], 'min')
        |    AS fingerprint
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q38_ivf_topk" ->
      s"""WITH $duckClusters,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn FROM n WHERE vec_id < 10),
         |pr AS (SELECT qid, qv, qn, cid, row_number() OVER (PARTITION BY qid
         |    ORDER BY list_dot_product(qv, cv)/(qn*cn) DESC, cid) AS rn
         |  FROM q CROSS JOIN cent),
         |probes AS (SELECT qid, qv, qn, cid FROM pr
         |  WHERE rn <= (SELECT greatest(3, count(*) // 16) FROM cent)),
         |s AS (SELECT qid, cl.vec_id,
         |  list_dot_product(cl.v, qv)/(cl.nrm*qn) AS cos,
         |  row_number() OVER (PARTITION BY qid
         |    ORDER BY list_dot_product(cl.v, qv)/(cl.nrm*qn) DESC, cl.vec_id) AS rank
         |  FROM probes JOIN cl USING (cid) WHERE cl.vec_id <> qid)
         |SELECT qid, rank, vec_id, round(cos, 6) AS cos
         |FROM s WHERE rank <= 5 ORDER BY qid, rank""".stripMargin,
    // q133: the offsets+local-position assignment must equal the
    // naive global window bit for bit.
    "q133_global_sequence" ->
      """SELECT doc_id, lang,
        |  row_number() OVER (ORDER BY doc_id) AS seq,
        |  (row_number() OVER (ORDER BY doc_id) - 1) // 1000 AS shard
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q55_split_assignment" ->
      s"""SELECT lang,
         |  CASE WHEN ${graft.functions.TopK.knuthHashSql("doc_id")} % 100 < 80
         |         THEN 'train'
         |       WHEN ${graft.functions.TopK.knuthHashSql("doc_id")} % 100 < 90
         |         THEN 'val'
         |       ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM documents GROUP BY 1, 2 ORDER BY lang, split""".stripMargin,
    "q59_decontaminate" ->
      s"""WITH $duckShingles,
         |bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
         |  WHERE doc_id % 50 = 0),
         |corpus AS (SELECT doc_id, unnest(shingles) AS s FROM sh
         |  WHERE doc_id % 50 <> 0),
         |cont AS (SELECT DISTINCT doc_id FROM corpus JOIN bench USING (s))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  CAST(count(*) - sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clean
         |FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN cont USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    // Bloom pre-filter + exact verify ≡ exact decontamination, so the
    // oracle is q59's: the filter only prunes probes, never results.
    "q73_bloom_decontaminate" ->
      s"""WITH $duckShingles,
         |bench AS (SELECT DISTINCT unnest(shingles) AS s FROM sh
         |  WHERE doc_id % 50 = 0),
         |corpus AS (SELECT doc_id, unnest(shingles) AS s FROM sh
         |  WHERE doc_id % 50 <> 0),
         |cont AS (SELECT DISTINCT doc_id FROM corpus JOIN bench USING (s))
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_contaminated,
         |  CAST(count(*) - sum(CASE WHEN cont.doc_id IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_clean
         |FROM (SELECT doc_id, lang FROM documents WHERE doc_id % 50 <> 0) d
         |LEFT JOIN cont USING (doc_id)
         |GROUP BY lang ORDER BY lang""".stripMargin,
    "q60_repetition_filter" ->
      """WITH w AS (SELECT doc_id, lang, string_split(text, ' ') AS ws
        |  FROM documents),
        |r AS (SELECT lang,
        |  round(1.0 - len(list_distinct(all_sh)) * 1.0 / len(all_sh), 6)
        |    AS rep_ratio FROM (
        |  SELECT lang, [array_to_string(ws[i:i+2], ' ')
        |    for i in generate_series(1, greatest(len(ws)-2, 1))] AS all_sh
        |  FROM w))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN rep_ratio > 0.1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_flagged,
        |  round(avg(rep_ratio), 6) AS avg_rep_ratio
        |FROM r GROUP BY lang ORDER BY lang""".stripMargin,
    "q53_token_freq" ->
      """SELECT token, count(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS token FROM documents)
        |GROUP BY token ORDER BY n DESC, token LIMIT 100""".stripMargin,
    "q39_embed_neardup" ->
      s"""WITH $duckClusters
         |SELECT a.vec_id AS v1, b.vec_id AS v2,
         |  round(list_dot_product(a.v, b.v)/(a.nrm*b.nrm), 6) AS cos
         |FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4
         |ORDER BY v1, v2""".stripMargin,
    // q98: q39's within-cluster pair relation, reduced to the greedy
    // id-ordered drop list (row_number ≡ Spark's min(struct(v1, cos))
    // because (v1, v2) pairs are unique).
    "q98_semantic_dedup" ->
      s"""WITH $duckClusters,
         |pr AS (SELECT a.cid, a.vec_id AS v1, b.vec_id AS v2,
         |  list_dot_product(a.v, b.v)/(a.nrm*b.nrm) AS cos
         |  FROM cl a JOIN cl b ON a.cid = b.cid AND a.vec_id < b.vec_id
         |  WHERE list_dot_product(a.v, b.v)/(a.nrm*b.nrm) >= 0.4),
         |r AS (SELECT v2, cid, v1, cos,
         |  row_number() OVER (PARTITION BY v2 ORDER BY v1) AS rn FROM pr)
         |SELECT v2 AS vec_id, cid, v1 AS killer, round(cos, 6) AS cos
         |FROM r WHERE rn = 1 ORDER BY vec_id""".stripMargin,
    // q99: HUGEINT cross-multiplies mirror Spark's decimal(38,0) — the
    // favored test is exact in both engines at any corpus scale.
    "q99_dsir_selection" ->
      """WITH bg AS (SELECT doc_id, lang, unnest(
        |    [text[i:i+1] for i in generate_series(1, greatest(length(text) - 1, 1))]
        |  ) AS bg FROM documents),
        |tgt AS (SELECT bg, count(*) AS cnt_t FROM bg WHERE lang = 'en'
        |  GROUP BY bg),
        |src AS (SELECT bg, count(*) AS cnt_s FROM bg GROUP BY bg),
        |tt AS (SELECT CAST(sum(cnt_t) AS BIGINT) AS total_t FROM tgt),
        |ts AS (SELECT CAST(sum(cnt_s) AS BIGINT) AS total_s FROM src),
        |fav AS (SELECT s.bg,
        |  CASE WHEN CAST(coalesce(t.cnt_t, 0) AS HUGEINT) * total_s >
        |            CAST(s.cnt_s AS HUGEINT) * total_t
        |       THEN 1 ELSE 0 END AS favored
        |  FROM src s LEFT JOIN tgt t ON s.bg = t.bg, tt, ts),
        |perdoc AS (SELECT doc_id, lang, count(*) AS n_bigrams,
        |  CAST(sum(favored) AS BIGINT) AS n_fav
        |  FROM bg JOIN fav USING (bg) GROUP BY doc_id, lang),
        |sel AS (SELECT *, CASE WHEN n_fav * 2 > n_bigrams
        |  THEN 1 ELSE 0 END AS selected FROM perdoc)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_fav) AS BIGINT) AS sum_fav,
        |  CAST(sum(selected) AS BIGINT) AS n_selected
        |FROM sel GROUP BY lang ORDER BY lang""".stripMargin,
    // q100: q63's component labels re-derive the split key; the hash
    // and 80/10/10 thresholds are exactly q55's.
    "q100_leakage_safe_split" ->
      s"""WITH RECURSIVE $duckMinhashVerify,
         |pairs AS (SELECT d1, d2 FROM vfy
         |  WHERE common * 1.0 / (n1 + n2 - common) >= 0.5),
         |edges AS (SELECT d1 AS a, d2 AS b FROM pairs
         |  UNION ALL SELECT d2, d1 FROM pairs),
         |reach(vx, r) AS (
         |  SELECT a, a FROM (SELECT DISTINCT a FROM edges)
         |  UNION
         |  SELECT e.a, reach.r FROM edges e JOIN reach ON e.b = reach.vx),
         |lab AS (SELECT vx, min(r) AS label FROM reach GROUP BY vx),
         |asg AS (SELECT d.doc_id, d.n_chars, l.label,
         |  coalesce(l.label, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN lab l ON d.doc_id = l.vx),
         |sp AS (SELECT *,
         |  CASE WHEN ${graft.functions.TopK.knuthHashSql("rep")} % 100 < 80
         |         THEN 'train'
         |       WHEN ${graft.functions.TopK.knuthHashSql("rep")} % 100 < 90
         |         THEN 'val'
         |       ELSE 'test' END AS split
         |  FROM asg)
         |SELECT split, count(*) AS n_docs,
         |  CAST(sum(CASE WHEN label IS NOT NULL THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_dup_docs,
         |  CAST(count(DISTINCT rep) AS BIGINT) AS n_groups,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
         |FROM sp GROUP BY split ORDER BY split""".stripMargin,
    // q102: the BPE loop unrolled to bpeRounds CTEs; every round's
    // winner and boundary-wrapped replace are the identical formula.
    "q102_bpe_merges" ->
      s"""WITH ${duckBpe(bpeRounds)}
         |SELECT round, a AS "left", b AS "right", merged,
         |  CAST(cnt AS BIGINT) AS cnt
         |FROM (${(1 to bpeRounds).map(r => s"SELECT * FROM m$r")
               .mkString(" UNION ALL ")})
         |ORDER BY round""".stripMargin,
    // q103: train (sampled, as q102) then encode the FULL corpus with
    // the same boundary-wrapped chained replaces, nested in round order.
    "q103_bpe_encode" ->
      s"""WITH ${duckBpe(bpeRounds)},
         |fullw AS (SELECT lang, t, '|' || array_to_string(
         |    [t[i:i] for i in generate_series(1, length(t))], '||') || '|' AS s
         |  FROM (SELECT lang,
         |          regexp_replace(lower(text), '[^a-z ]', '', 'g') AS t
         |        FROM documents) WHERE length(t) > 0),
         |encw AS (SELECT lang, length(t) AS n_chars, $duckBpeApply AS es
         |  FROM fullw${(1 to bpeRounds).map(r => s", m$r").mkString}),
         |enc AS (SELECT lang, n_chars,
         |  len(string_split(es[2 : length(es) - 1], '||')) AS n_tok
         |  FROM encw)
         |SELECT lang, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS n_chars
         |FROM enc GROUP BY lang ORDER BY lang""".stripMargin,
    // q104: the relational formulation (explode → count → per-doc max /
    // dup sum) of the engine's in-row sorted-fold statistics.
    "q104_gopher_repetition" ->
      """WITH d AS (SELECT doc_id, n_chars, string_split(text, ' ') AS w
        |           FROM documents),
        |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |         for i in generate_series(1, len(w) - 1)]) AS g
        |       FROM d WHERE len(w) >= 2),
        |g3 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in generate_series(1, len(w) - 2)]) AS g
        |       FROM d WHERE len(w) >= 3),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, max(c * length(g)) AS top2 FROM c2 GROUP BY 1),
        |d3 AS (SELECT doc_id, sum(c * length(g)) FILTER (c >= 2) AS dup3
        |       FROM c3 GROUP BY 1)
        |SELECT d.doc_id, d.n_chars,
        |  CAST(coalesce(t2.top2, 0) AS BIGINT) AS top2_chars,
        |  CAST(coalesce(d3.dup3, 0) AS BIGINT) AS dup3_chars,
        |  CAST(NOT (coalesce(t2.top2, 0) * 25 > d.n_chars * 3
        |            OR coalesce(d3.dup3, 0) * 10 > d.n_chars) AS INT) AS keep
        |FROM d LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    // q106: the composed pipeline — quality gate, q104's repetition
    // rule over the survivors, keep-first exact dedup, q55's hash
    // split, per-(split, lang) report.
    "q106_curation_pipeline" ->
      s"""WITH q AS (SELECT doc_id, lang, text, n_chars,
        |             len(string_split(text, ' ')) AS n_words,
        |             string_split(text, ' ') AS w
        |           FROM documents
        |           WHERE len(string_split(text, ' ')) >= 15
        |             AND n_chars <= len(string_split(text, ' ')) * 12),
        |g2 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1]
        |         for i in generate_series(1, len(w) - 1)]) AS g
        |       FROM q WHERE len(w) >= 2),
        |g3 AS (SELECT doc_id, unnest([w[i] || ' ' || w[i+1] || ' ' || w[i+2]
        |         for i in generate_series(1, len(w) - 2)]) AS g
        |       FROM q WHERE len(w) >= 3),
        |c2 AS (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY 1, 2),
        |c3 AS (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY 1, 2),
        |t2 AS (SELECT doc_id, max(c * length(g)) AS top2 FROM c2 GROUP BY 1),
        |d3 AS (SELECT doc_id, sum(c * length(g)) FILTER (c >= 2) AS dup3
        |       FROM c3 GROUP BY 1),
        |kept AS (SELECT q.doc_id, q.lang, q.text, q.n_words
        |  FROM q LEFT JOIN t2 USING (doc_id) LEFT JOIN d3 USING (doc_id)
        |  WHERE NOT (coalesce(t2.top2, 0) * 25 > q.n_chars * 3
        |             OR coalesce(d3.dup3, 0) * 10 > q.n_chars)),
        |rep AS (SELECT md5(text) AS h, min(doc_id) AS doc_id
        |        FROM kept GROUP BY 1),
        |sp AS (SELECT k.lang, k.n_words,
        |  CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
        |       ELSE 'test' END AS split
        |  FROM (SELECT kept.*,
        |          ${graft.functions.TopK.knuthHashSql("doc_id")} % 100 AS b
        |        FROM kept JOIN rep USING (doc_id)) k)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    // q112: the classifier trained INSIDE the oracle — the unrolled GD
    // recurrence must land on the identical weights (integer-summed
    // gradients, DuckDB-rounded updates) and reproduce every count.
    "q112_quality_classifier" ->
      s"""WITH $duckQc
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(CASE WHEN p >= 0.5e0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_pred_keep,
        |  CAST(sum(y) AS BIGINT) AS n_label_keep,
        |  CAST(round(sum(CAST(round(p * 1e12) AS BIGINT)) * 1e0
        |    / count(*) / 1e6) AS BIGINT) AS mean_score_e6
        |FROM scf GROUP BY lang ORDER BY lang""".stripMargin,
    // q113: the projection + distortion report re-derived in SQL —
    // identical sign formula, identical integer lanes, identical
    // (correctly-rounded) sqrt/division, so every error integer and
    // rounded mean must match bit-for-bit.
    "q113_random_projection" ->
      s"""WITH kk AS (SELECT $projDimsSql AS k),
        |n0 AS (SELECT vec_id, [CAST(x AS DOUBLE) for x in embedding] AS v
        |  FROM embeddings),
        |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM n0),
        |p AS (SELECT vec_id, v, nrm,
        |    [CAST(round(x * 1e6) AS BIGINT) for x in v] AS rv
        |  FROM n),
        |pp AS (SELECT vec_id, v, nrm, [CAST(list_sum([
        |      (CASE WHEN ((((j * 64 + d - 1) % 1000000007) * 2654435761)
        |                  % 1000000007) % 2 = 0 THEN 1 ELSE -1 END) * rv[d]
        |      for d in generate_series(1, 64)]) AS BIGINT)
        |    for j in generate_series(0, CAST(k AS INTEGER) - 1)] AS p
        |  FROM p CROSS JOIN kk),
        |pn AS (SELECT vec_id, v, nrm, p,
        |    CAST(list_sum([x * x for x in p]) AS BIGINT) AS rn2 FROM pp),
        |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qn, p AS qp, rn2 AS qrn2
        |  FROM pn WHERE vec_id < 10),
        |err AS (SELECT qid,
        |    CAST(round(abs(
        |      round(CAST(list_sum([pn.p[i] * qp[i]
        |          for i in generate_series(1, len(pn.p))]) AS BIGINT)
        |        / (sqrt(greatest(rn2, 1)) * sqrt(greatest(qrn2, 1))), 6)
        |      - round(list_dot_product(v, qv) / (nrm * qn), 6)) * 1e6)
        |      AS BIGINT) AS err_e6
        |  FROM pn CROSS JOIN q WHERE vec_id <> qid)
        |SELECT qid, count(*) AS n_pairs,
        |  CAST(round(sum(err_e6) * 1e0 / count(*)) AS BIGINT)
        |    AS mean_abs_err_e6,
        |  CAST(max(err_e6) AS BIGINT) AS max_abs_err_e6
        |FROM err GROUP BY qid ORDER BY qid""".stripMargin,
    // q114: the incremental rollup vs the direct GROUP BY.
    "q114_incremental_doc_counts" ->
      """SELECT lang, source, count(*) AS n_docs,
        |  CAST(sum(n_chars) AS BIGINT) AS sum_chars
        |FROM documents GROUP BY 1, 2 ORDER BY lang, source""".stripMargin,
    // q115: the relational formulation (explode chars → counts →
    // per-term pico contributions) — the independent cross-check of
    // the engine's in-row sorted fold.
    "q115_char_entropy" ->
      """WITH ch AS (SELECT doc_id, lang, unnest(
        |    [text[i:i] for i in generate_series(1, greatest(length(text), 1))]
        |  ) AS c FROM documents),
        |cn AS (SELECT doc_id, lang, c, count(*) AS cnt
        |  FROM ch GROUP BY 1, 2, 3),
        |nn AS (SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n
        |  FROM cn GROUP BY 1),
        |h AS (SELECT cn.doc_id, lang, CAST(sum(
        |    CAST(round((cnt * 1e0 / n) * ln(n * 1e0 / cnt) * 1e12) AS BIGINT)
        |  ) AS BIGINT) AS h_pico
        |  FROM cn JOIN nn ON cn.doc_id = nn.doc_id GROUP BY 1, 2)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(round(sum(h_pico) * 1e0 / count(*) / 1e6) AS BIGINT)
        |    AS mean_entropy_e6,
        |  CAST(round(min(h_pico) / 1e6) AS BIGINT) AS min_entropy_e6,
        |  CAST(round(max(h_pico) / 1e6) AS BIGINT) AS max_entropy_e6
        |FROM h GROUP BY lang ORDER BY lang""".stripMargin,
    // q139: identical per-term pico rounding (order-free sum) — the
    // q115 idiom; all ln args are ratios of exact integer counts.
    "q139_source_kl_mix" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT source, token, count(*) AS c_st
        |  FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
        |  FROM cnt GROUP BY 1),
        |ct AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t
        |  FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ns)
        |SELECT cnt.source, max(n_s) AS n_tokens, count(*) AS vocab,
        |  CAST(round(sum(CAST(round((c_st * 1e0 / n_s) *
        |    ln((c_st * 1e0 / n_s) / (c_t * 1e0 / n_total)) * 1e12)
        |  AS BIGINT)) / 1e6) AS BIGINT) AS kl_micro
        |FROM cnt JOIN ns USING (source) JOIN ct USING (token)
        |CROSS JOIN tot
        |GROUP BY 1 ORDER BY kl_micro DESC, source""".stripMargin,
    // q140: exact integer sqrt (floor(sqrt) ± 1 correction) + integer
    // cross-multiply-div — no float can disagree across engines; the
    // token-mass columns use the identical construction over the
    // per-source token totals.
    "q140_mix_temperature" ->
      """WITH nd AS (SELECT source, count(*) AS n_docs FROM documents
        |  GROUP BY 1),
        |nt AS (SELECT source,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n FROM documents),
        |nts AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens
        |  FROM nt GROUP BY 1),
        |f AS (SELECT nd.source, n_docs, n_tokens,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS fd,
        |  CAST(floor(sqrt(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS ft
        |  FROM nd JOIN nts ON nd.source = nts.source),
        |r AS (SELECT source, n_docs, n_tokens,
        |  CASE WHEN (fd + 1) * (fd + 1) <= n_docs THEN fd + 1
        |       WHEN fd * fd > n_docs THEN fd - 1
        |       ELSE fd END AS rd,
        |  CASE WHEN (ft + 1) * (ft + 1) <= n_tokens THEN ft + 1
        |       WHEN ft * ft > n_tokens THEN ft - 1
        |       ELSE ft END AS rt FROM f),
        |tot AS (SELECT CAST(sum(rd) AS BIGINT) AS rd_total,
        |  CAST(sum(n_docs) AS BIGINT) AS d_total,
        |  CAST(sum(rt) AS BIGINT) AS rt_total,
        |  CAST(sum(n_tokens) AS BIGINT) AS t_total FROM r)
        |SELECT source, n_docs, n_tokens,
        |  CAST(n_docs * 1000000 // d_total AS BIGINT) AS natural_micro,
        |  CAST(rd * 1000000 // rd_total AS BIGINT) AS weight_micro,
        |  CAST(rd * 100000 // rd_total AS BIGINT) AS expected_draws,
        |  CAST(n_tokens * 1000000 // t_total AS BIGINT)
        |    AS tok_natural_micro,
        |  CAST(rt * 1000000 // rt_total AS BIGINT) AS tok_weight_micro,
        |  CAST(rt * 100000 // rt_total AS BIGINT) AS tok_expected_draws
        |FROM r CROSS JOIN tot ORDER BY source""".stripMargin,
    // q148: the waterfill unrolled to waterfillRounds CTE rounds —
    // each round caps sources whose integer water level reaches their
    // availability; converged rounds are no-ops, exactly the Scala
    // driver loop's structure.
    "q148_mix_allocation" ->
      s"""WITH $duckWaterfill
         |SELECT source, n_tokens, weight_micro, alloc_tokens, capped
         |FROM wfplan ORDER BY source""".stripMargin,
    // q149: the plan executed — per-source doc_id-ordered cumulative
    // token cutoff at the waterfill allocation (the q85 window shape),
    // reported as per-source fill.
    "q149_mix_extraction" ->
      s"""WITH $duckWaterfill,
         |d AS (SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d),
         |t AS (SELECT c.source,
         |    CASE WHEN cum <= alloc_tokens THEN 1 END AS take,
         |    CASE WHEN cum <= alloc_tokens THEN cum END AS tcum,
         |    alloc_tokens, capped
         |  FROM c JOIN wfplan USING (source))
         |SELECT source, CAST(count(take) AS BIGINT) AS docs_taken,
         |  CAST(coalesce(max(tcum), 0) AS BIGINT) AS tokens_taken,
         |  CAST(max(alloc_tokens) AS BIGINT) AS alloc_tokens,
         |  CAST(max(capped) AS BIGINT) AS capped,
         |  CAST(CASE WHEN max(alloc_tokens) > 0
         |    THEN coalesce(max(tcum), 0) * 1000000 // max(alloc_tokens)
         |    ELSE 0 END AS BIGINT) AS fill_micro
         |FROM t GROUP BY source ORDER BY source""".stripMargin,
    // q152: the shard sink's CONTENT — the admitted documents under
    // the waterfill plan, re-derived end-to-end (waterfill + cutoff)
    // so a stale or mis-parameterized artifact breaks the hash.
    "q152_mix_shards" ->
      s"""WITH $duckWaterfill,
         |d AS (SELECT source, doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         |  FROM documents),
         |c AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM d)
         |SELECT c.source, c.doc_id, c.n_tok, CAST(c.cum AS BIGINT) AS cum
         |FROM c JOIN wfplan USING (source)
         |WHERE cum <= alloc_tokens
         |ORDER BY source, doc_id""".stripMargin,
    // q151: the full curation chain composed as ONE CTE cascade —
    // q106's quality/dedup stages (source carried instead of lang),
    // the train-bucket filter, the q148 waterfill retargeted at
    // curated-train masses, and the q149 extraction fold. Every stage
    // is the standalone oracle's own formulation, so a value drift in
    // ANY stage breaks the hash.
    "q151_curation_mix_pipeline" ->
      s"""WITH $duckCuratedChain,
         |cumc AS (SELECT source, doc_id, n_tok,
         |    sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |      ROWS UNBOUNDED PRECEDING) AS cum
         |  FROM train),
         |tt AS (SELECT cumc.source,
         |    CASE WHEN cum <= alloc_tokens THEN 1 END AS take,
         |    CASE WHEN cum <= alloc_tokens THEN cum END AS tcum,
         |    n_tokens, alloc_tokens, capped
         |  FROM cumc JOIN wfplan USING (source))
         |SELECT source, CAST(count(*) AS BIGINT) AS train_docs,
         |  CAST(count(take) AS BIGINT) AS docs_taken,
         |  CAST(coalesce(max(tcum), 0) AS BIGINT) AS tokens_taken,
         |  CAST(max(n_tokens) AS BIGINT) AS avail_tokens,
         |  CAST(max(alloc_tokens) AS BIGINT) AS alloc_tokens,
         |  CAST(max(capped) AS BIGINT) AS capped,
         |  CAST(CASE WHEN max(alloc_tokens) > 0
         |    THEN coalesce(max(tcum), 0) * 1000000 // max(alloc_tokens)
         |    ELSE 0 END AS BIGINT) AS fill_micro
         |FROM tt GROUP BY source ORDER BY source""".stripMargin,
    // q141: pure integer count ratios in micro units.
    "q141_vocab_stats" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT source, token, count(*) AS c_st
        |  FROM tok GROUP BY 1, 2)
        |SELECT source, CAST(sum(c_st) AS BIGINT) AS n_tokens,
        |  count(*) AS vocab,
        |  CAST(sum(CASE WHEN c_st = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hapax,
        |  CAST(count(*) * 1000000 //
        |    CAST(sum(c_st) AS BIGINT) AS BIGINT) AS ttr_micro,
        |  CAST(sum(CASE WHEN c_st = 1 THEN 1 ELSE 0 END) * 1000000 //
        |    count(*) AS BIGINT) AS hapax_micro
        |FROM cnt GROUP BY 1 ORDER BY source""".stripMargin,
    // q143: the three mix-analytics formulations composed by source —
    // same per-term pico rounding, isqrt correction, and integer
    // micro ratios as q139/q140/q141.
    "q143_mix_report" ->
      """WITH tok AS (SELECT source,
        |    unnest(string_split(text, ' ')) AS token FROM documents),
        |cnt AS (SELECT source, token, count(*) AS c_st
        |  FROM tok GROUP BY 1, 2),
        |ns AS (SELECT source, CAST(sum(c_st) AS BIGINT) AS n_s
        |  FROM cnt GROUP BY 1),
        |ct AS (SELECT token, CAST(sum(c_st) AS BIGINT) AS c_t
        |  FROM cnt GROUP BY 1),
        |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n_total FROM ns),
        |kl AS (SELECT cnt.source, max(n_s) AS n_tokens,
        |  count(*) AS vocab,
        |  CAST(sum(CASE WHEN c_st = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS hapax,
        |  CAST(round(sum(CAST(round((c_st * 1e0 / n_s) *
        |    ln((c_st * 1e0 / n_s) / (c_t * 1e0 / n_total)) * 1e12)
        |  AS BIGINT)) / 1e6) AS BIGINT) AS kl_micro
        |FROM cnt JOIN ns USING (source) JOIN ct USING (token)
        |CROSS JOIN tot GROUP BY 1),
        |nd AS (SELECT source, count(*) AS n_docs FROM documents
        |  GROUP BY 1),
        |f AS (SELECT source, n_docs,
        |  CAST(floor(sqrt(CAST(n_docs AS DOUBLE))) AS BIGINT) AS f0
        |  FROM nd),
        |r AS (SELECT source, n_docs,
        |  CASE WHEN (f0 + 1) * (f0 + 1) <= n_docs THEN f0 + 1
        |       WHEN f0 * f0 > n_docs THEN f0 - 1
        |       ELSE f0 END AS r FROM f),
        |rt AS (SELECT CAST(sum(r) AS BIGINT) AS r_total FROM r),
        |w AS (SELECT source, n_docs,
        |  CAST(r * 1000000 // r_total AS BIGINT) AS weight_micro,
        |  CAST(r * 100000 // r_total AS BIGINT) AS expected_draws
        |FROM r CROSS JOIN rt)
        |SELECT kl.source, n_docs, weight_micro, expected_draws,
        |  n_tokens, vocab, hapax,
        |  CAST(vocab * 1000000 // n_tokens AS BIGINT) AS ttr_micro,
        |  CAST(hapax * 1000000 // vocab AS BIGINT) AS hapax_micro,
        |  kl_micro
        |FROM kl JOIN w ON kl.source = w.source
        |ORDER BY kl_micro DESC, kl.source""".stripMargin,
    // q142: independent list-comprehension formulation of winnowing —
    // same k=4 / w=8 / md5-string-min parameters, same
    // least(corpus-fraction, absolute-256) pair-emission df cap
    // (count DISTINCT docs per fingerprint, exactly the engine's
    // collect_set size).
    "q142_winnowing_pairs" ->
      s"""WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws
         |  FROM documents),
         |kg AS (SELECT doc_id,
         |  [md5(array_to_string(ws[i:i+3], ' '))
         |    for i in generate_series(1, greatest(len(ws) - 3, 1))] AS kgs
         |  FROM w),
         |fps AS (SELECT DISTINCT doc_id, unnest(
         |    [list_min(kgs[j:j+7])
         |      for j in generate_series(1, greatest(len(kgs) - 7, 1))]
         |  ) AS fp FROM kg),
         |keep AS (SELECT fp FROM fps GROUP BY fp
         |  HAVING count(*) BETWEEN 2
         |    AND least($stopDfThresholdSql, $winnowDfCap)),
         |pf AS (SELECT doc_id, fp FROM fps JOIN keep USING (fp))
         |SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS shared
         |FROM pf a JOIN pf b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 2
         |ORDER BY shared DESC, d1, d2""".stripMargin,
    // q107: brute-force all-pairs Hamming histogram — the independent
    // formulation the banded engine plan must reproduce EXACTLY
    // (pigeonhole: ≤3 differing bits cannot straddle all 4 bands).
    "q107_simhash_hamming" ->
      """WITH w AS MATERIALIZED (
        |  SELECT doc_id, [md5(x) for x in string_split(text, ' ')] AS hs
        |  FROM documents),
        |s AS MATERIALIZED (SELECT doc_id, CAST(list_sum(
        |  [CASE WHEN list_sum([CASE WHEN strpos('89abcdef', h[i:i]) > 0
        |                        THEN 1 ELSE -1 END for h in hs]) > 0
        |    THEN 1 << (i - 1) ELSE 0 END for i in generate_series(1, 32)])
        |  AS BIGINT) AS sig FROM w)
        |SELECT CAST(bit_count(xor(a.sig, b.sig)) AS BIGINT) AS hamming,
        |  count(*) AS n_pairs
        |FROM s a, s b
        |WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sig, b.sig)) <= 3
        |GROUP BY 1 ORDER BY hamming""".stripMargin,
  )
}
