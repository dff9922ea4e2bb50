package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.observe.{ArtifactSpec, Decomp, IndexStore}

/** One admission gate's registry entry: everything the gate's three
  * declared faces and their oracles need besides the kernel's own
  * body. The faces are generated, never hand-written:
  *
  *  - the BACKFILL face replays the deterministic incoming feed over
  *    the whole source table through the kernel's audit face and
  *    reports every flag pair (the streaming gate's oracle-gated batch
  *    twin — the same plan serves a `readStream` feed, StreamingSpec
  *    proves identical flags);
  *  - the DECISION face runs the same feed through the kernel's
  *    decision face: per incoming item its best corpus match, ranked
  *    by [[rank]] — O(incoming) output at any corpus-side duplicate
  *    mass, one stateful operator on the streaming plan;
  *  - the LEDGER face serves the backfill's flag relation from the
  *    persisted arrival-time segmented ledger [[GateSpec.ledger]].
  *
  * @param read          the source read the backfill and decision
  *                      faces scan the table with
  * @param incomingOf    the incoming feed over a source frame; one
  *                      incoming row derives from one source row, so
  *                      a crawl batch's flags excise with its file
  * @param kernel        the gate: `(session, dir, incoming, decision)`
  * @param ledgerSpec    the persisted audit ledger; its table is the
  *                      warehouse table the incoming feed derives from
  *                      (`documents` or `embeddings`)
  * @param evidence      both faces' columns after `in_id`
  * @param rank          the decision face's winner ranking; the engine's
  *                      `min_by` and the decision oracle's `ORDER BY`
  *                      are both generated from it */
final case class GateSpec(
    name: String,
    read: (SparkSession, String, String) => DataFrame,
    incomingOf: DataFrame => DataFrame,
    kernel: (SparkSession, String, DataFrame, Boolean) => DataFrame,
    ledgerSpec: ArtifactSpec,
    backfillQuery: String,
    decisionQuery: String,
    ledgerQuery: String,
    evidence: Seq[String],
    rank: Rank) {

  /** The warehouse table the incoming feed derives from. */
  def source: String = ledgerSpec.table

  /** The incoming feed over the whole source table. */
  def incoming(s: SparkSession, dir: String): DataFrame =
    incomingOf(read(s, dir, source))

  def backfill(s: SparkSession, dir: String): DataFrame =
    kernel(s, dir, incoming(s, dir), false)
      .orderBy(col("in_id"), col("corpus_id"))

  def decision(s: SparkSession, dir: String): DataFrame =
    kernel(s, dir, incoming(s, dir), true)
      .orderBy(col("in_id"))

  /** The gate's audit flags persisted as a segmented artifact (E205).
    * The all-pairs audit view is the relation that GROWS with
    * corpus-side duplicate mass, so recomputing it per consumer is the
    * q149 class one layer up; persisting it gives it the retention,
    * compaction and takedown semantics of every other corpus-derived
    * relation. Segments are keyed by the SOURCE files the incoming
    * rows derive from: a crawl batch's flags excise with its file, and
    * a new crawl batch appends one delta segment gated against the
    * corpus artifacts.
    *
    * SEMANTICS — an ARRIVAL-TIME ledger: each segment records the
    * flags its incoming batch earned against the corpus AS OF that
    * batch's arrival (exactly what the streaming gate would have
    * emitted). Corpus rows added LATER do not retro-flag an old batch;
    * a from-scratch rebuild coincides with the incremental chain
    * whenever all segments saw the same corpus state — the
    * single-state fixture the oracle runs on, where the ledger face's
    * oracle is the backfill's verbatim. */
  def ledger(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, ledgerSpec, dir)

  def ledgerFace(s: SparkSession, dir: String): DataFrame =
    ledger(s, dir).orderBy(col("in_id"), col("corpus_id"))

  def queries: Seq[(String, (SparkSession, String) => DataFrame)] = Seq(
    backfillQuery -> backfill,
    decisionQuery -> decision,
    ledgerQuery -> ledgerFace)

  /** The ledger and decision oracles, both derived from the backfill
    * face's oracle `backfillSql`. */
  def oracles(backfillSql: String): Seq[(String, String)] = Seq(
    ledgerQuery -> backfillSql,
    decisionQuery -> Gates.decisionOracle(backfillSql, evidence, rank))

  /** One face of this gate through the admission core [[Gates.admit]]:
    * the decision face when `decision`, else the audit face. */
  private[ops] def admit(incoming: DataFrame, decision: Boolean)(
      stage: DataFrame => DataFrame, candidates: Candidates,
      verify: Verify): DataFrame =
    Gates.admit(name, evidence, incoming, Option.when(decision)(rank))(
      stage, candidates, verify)
}

/** How a gate's decision face picks each incoming item's winning pair:
  * by the evidence column `score`, largest first when `descending`;
  * ties break to the smallest corpus_id. */
final case class Rank(score: String, descending: Boolean)

/** A kernel's candidate join: its staged items (`in_id`, `arr_ts` and
  * the item's signature columns) collided against the persisted corpus
  * artifacts, giving (in_id, arr_ts, …, corpus_id) pairs. */
sealed trait Candidates { def join: DataFrame => DataFrame }

object Candidates {

  /** Several probe keys per item (bands, shingles, fingerprints,
    * signatures): one pair can collide on more than one key. */
  final case class Probes(join: DataFrame => DataFrame) extends Candidates

  /** Exactly one bucket per item: a pair collides at most once. */
  final case class Bucket(join: DataFrame => DataFrame) extends Candidates
}

/** A kernel's verify: keeps the candidate pairs that flag and adds the
  * gate's evidence columns. */
sealed trait Verify

object Verify {

  /** The corpus evidence rides the candidate row (raster Hamming,
    * vector cosine). */
  final case class InRow(flag: DataFrame => DataFrame) extends Verify

  /** `flag` runs after a join against `sets`, a corpus set relation
    * keyed by corpus_id (text, media, audio, prefix-Jaccard,
    * winnowing). */
  final case class SetJoin(sets: DataFrame, flag: DataFrame => DataFrame)
      extends Verify
}

/** The five admission gates (continuous similarity admission, cf.
  * "Continuously Adaptive Similarity Search", SIGMOD 2020). A new gate
  * is one entry here plus its kernel and backfill oracle. Each entry's
  * faces are declared in its module's `queries` map ([[llm]] in `Llm`,
  * [[multimodal]] in `Multimodal`). Kernels are referenced through
  * lambdas so initializing this object never forces the modules. */
object Gates {

  /** Replay every 50th source row under a fresh id: every replayed copy
    * must collide with (at least) its source at similarity 1.0. */
  private def replay(id: String, payload: String)(df: DataFrame): DataFrame =
    df.filter(col(id) % 50 === 0)
      .select((col(id) + 1000000L).as(id), col(payload))

  /** A gate's audit ledger over `table`: the audit flags segmented by
    * the source files its incoming rows derive from, keyed on the
    * corpus artifacts its kernel reads. */
  private def ledgerOf(gate: => GateSpec, name: String, version: Int,
      table: String, deps: => Seq[ArtifactSpec]): ArtifactSpec =
    ArtifactSpec(name, version, table, Decomp.Segmented((s, dir) => files =>
      gate.kernel(s, dir, gate.incomingOf(Tables.scan(s, files)), false)),
      deps)

  val text: GateSpec = GateSpec("text",
    (s, d, t) => Tables.loadSpread(s, d, t), replay("doc_id", "text"),
    (s, d, in, dec) => Llm.nearDupAdmission(s, d, in, dec),
    ledgerOf(text, "text_gate_audit", 1, "documents",
      Seq(Llm.minhashBandsSpec, Llm.shingleSetsSpec)),
    "q49_admission_backfill", "q173_text_admission_decision",
    "q179_text_audit_ledger",
    Seq("corpus_id", "jaccard"), Rank("jaccard", descending = true))

  val vector: GateSpec = GateSpec("vector",
    (s, d, t) => Tables.loadSpread(s, d, t), replay("vec_id", "embedding"),
    (s, d, in, dec) => Llm.vectorAdmission(s, d, in, dec),
    ledgerOf(vector, "vector_gate_audit", 1, "embeddings",
      Seq(Llm.hyperplaneBucketsSpec)),
    "q97_vector_admission", "q174_vector_admission_decision",
    "q180_vector_audit_ledger",
    Seq("corpus_id", "cos"), Rank("cos", descending = true))

  val raster: GateSpec = GateSpec("raster",
    (s, d, t) => Tables.load(s, d, t),
    df => Multimodal.rasterIncomingFixtureOf(df),
    (s, d, in, dec) => Multimodal.rasterAdmission(s, d, in, dec),
    ledgerOf(raster, "raster_gate_audit", 3, "documents",
      Seq(Multimodal.rasterAHashSpec, SigFamilies.rasterBands.stopSpec)),
    "q165_raster_admission", "q170_raster_admission_decision",
    "q176_raster_audit_ledger",
    Seq("corpus_id", "hamming"), Rank("hamming", descending = false))

  val media: GateSpec = GateSpec("media",
    (s, d, t) => Tables.load(s, d, t),
    df => Multimodal.mediaIncomingFixtureOf(df),
    (s, d, in, dec) => Multimodal.mediaAdmission(s, d, in, dec),
    ledgerOf(media, "media_gate_audit", 1, "documents",
      Seq(Multimodal.mediaBlockPostingsSpec, SigFamilies.mediaBlocks.stopSpec,
        Multimodal.mediaContainment.setSpec)),
    "q160_media_admission", "q172_media_admission_decision",
    "q177_media_audit_ledger",
    Seq("corpus_id", "common_blocks", "n_in", "n_corpus",
      "containment_micro"),
    Rank("containment_micro", descending = true))

  val audio: GateSpec = GateSpec("audio",
    (s, d, t) => Tables.load(s, d, t),
    df => Multimodal.audioIncomingFixtureOf(df),
    (s, d, in, dec) => Multimodal.audioAdmission(s, d, in, dec),
    ledgerOf(audio, "audio_gate_audit", 2, "documents",
      Seq(Multimodal.audioFpsSpec, SigFamilies.audioFps.stopSpec,
        Multimodal.audioContainment.setSpec)),
    "q163_audio_admission", "q171_audio_admission_decision",
    "q178_audio_audit_ledger",
    Seq("corpus_id", "common_fps", "n_in", "n_corpus",
      "containment_micro"),
    Rank("containment_micro", descending = true))

  val llm: Seq[GateSpec] = Seq(text, vector)
  val multimodal: Seq[GateSpec] = Seq(raster, media, audio)
  val all: Seq[GateSpec] = llm ++ multimodal

  /** A module's query map: its `own` queries plus its gates' faces. */
  def declare(gates: Seq[GateSpec],
      own: Map[String, (SparkSession, String) => DataFrame])
      : Map[String, (SparkSession, String) => DataFrame] =
    own ++ gates.flatMap(_.queries)

  /** Each gate's ledger and decision oracles, from the backfill oracles
    * in `base` (the declaring module's oracle map). */
  def oracles(gates: Seq[GateSpec], base: Map[String, String])
      : Map[String, String] =
    gates.flatMap(g => g.oracles(base(g.backfillQuery))).toMap

  /** A gate DECISION oracle wraps its gate's backfill oracle: the flag
    * chain (signatures, stop filter, candidates, verify) is re-derived
    * bit-identically, then the winner is picked per in_id exactly like
    * the engine's `min_by` in [[admit]] — both orderings come from the
    * one `rank`. */
  private[ops] def decisionOracle(backfillSql: String,
      evidence: Seq[String], rank: Rank): String = {
    val score = if (rank.descending) s"${rank.score} DESC" else rank.score
    s"""SELECT in_id, ${evidence.mkString(", ")} FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY in_id ORDER BY $score, corpus_id) AS rn
       |  FROM ($backfillSql))
       |WHERE rn = 1 ORDER BY in_id""".stripMargin
  }

  // ---- the admission core -------------------------------------------------
  //
  // Every similarity gate (the five registered above, and the
  // prefix-Jaccard and winnowing audit gates in Llm) is one pipeline:
  // feed clock → per-item stage → decision watermark → candidates →
  // dedup → verify → audit or decision tail. A kernel supplies only
  // its map-only per-item stage, its candidate join against the
  // persisted corpus artifacts, and its verify; the face policy below
  // is spelled once.

  /** The ingest clock: a feed without an `arr_ts` column (a batch
    * backfill) is stamped with the current time. */
  private[ops] def clocked(feed: DataFrame): DataFrame =
    if (feed.columns.contains("arr_ts")) feed
    else feed.withColumn("arr_ts", current_timestamp())

  /** The gate watermark: event time is `arr_ts`, and a pair or a
    * decision group is held for 10 minutes of it. */
  private[ops] def watermarked(df: DataFrame): DataFrame =
    df.withWatermark("arr_ts", "10 minutes")

  /** One face of a similarity gate. `decide` is the decision face's
    * ranking, or None for the audit face, which emits every flagged
    * (in_id, corpus_id) pair with its `evidence`.
    *
    * The (in_id, corpus_id) candidate dedup follows from what the
    * kernel supplies. A [[Candidates.Bucket]] pair collides at most
    * once and is never deduped. A [[Candidates.Probes]] pair is
    * deduped on the audit face — within the watermark on a stream
    * (bounded state, RestartSpec-proven recovery), exactly on a
    * batch frame. The decision face's `min_by` is duplicate-
    * insensitive, so it skips the dedup, except on a batch frame
    * before a [[Verify.SetJoin]], where the dedup is a plain exchange
    * that pays for itself against the set join's fan-in; the
    * streaming decision face keeps exactly one stateful operator.
    *
    * GATE OBSERVABILITY (the E167 discipline): per-micro-batch
    * counters `<gate>_gate` (flags) and `<gate>_gate_decisions` ride
    * the query's own observedMetrics — a CollectMetrics node, map-side
    * accumulators, no extra pass — so a corpus under duplicate attack
    * shows on the monitoring plane the moment the batch commits. */
  private[ops] def admit(gate: String, evidence: Seq[String],
      incoming: DataFrame, decide: Option[Rank])(
      stage: DataFrame => DataFrame, candidates: Candidates,
      verify: Verify): DataFrame = {
    val streaming = incoming.isStreaming
    val staged = stage(clocked(incoming))
    // the decision watermark sits right after the map-only stage, never
    // below the verify filter: candidates that verify below threshold
    // are filtered out before the decision aggregation, and a watermark
    // declared there would never advance on a trigger of all-novel
    // items, stalling every open group. A staged item reaches this node
    // whether or not it ever verifies, as long as the candidate join
    // lets the optimizer infer no filter that it can push below it (a
    // filter that does not read arr_ts passes a watermark): an inner
    // explode of an item's signatures infers a non-empty filter, so
    // the set-containment kernel explodes outer.
    val fed =
      if (decide.nonEmpty && streaming) watermarked(staged) else staged
    val cand = candidates.join(fed)
    val dedup = candidates match {
      case Candidates.Bucket(_) => false
      case Candidates.Probes(_) => decide.isEmpty ||
        (!streaming && verify.isInstanceOf[Verify.SetJoin])
    }
    val deduped =
      if (!dedup) cand
      else if (streaming)
        watermarked(cand).dropDuplicatesWithinWatermark("in_id", "corpus_id")
      else cand.dropDuplicates("in_id", "corpus_id")
    val flagged = verify match {
      case Verify.InRow(flag) => flag(deduped)
      case Verify.SetJoin(sets, flag) => flag(deduped.join(sets, "corpus_id"))
    }
    decide match {
      case None => flagged.select(col("in_id") +: evidence.map(col): _*)
        .observe(s"${gate}_gate", count(lit(1)).as("flags"))
      case Some(rank) => decision(streaming, flagged, evidence, rank)
        .observe(s"${gate}_gate_decisions", count(lit(1)).as("decisions"))
    }
  }

  /** The DECISION tail (r11 missing #2): ONE row per incoming item —
    * the flag bit plus its best evidence — where the audit face emits
    * every (in_id, corpus_id) flag. The audit face is the right AUDIT
    * view, but its row count per incoming item grows with the
    * corpus-side duplicate mass (at the 100× decade the gates spend
    * their time materializing flag rows, not finding them), which is
    * the wrong default for a crawler loop that needs an admit/reject
    * per item: this face is O(incoming) output BY CONSTRUCTION at any
    * corpus.
    *
    * `flagged` is the verified candidate relation WITH `arr_ts`. Every
    * candidate pair of one incoming row carries that row's own
    * `arr_ts`, so on a stream grouping by (arr_ts, in_id) closes one
    * group per item when the watermark passes — the formal bound on
    * "all evidence for this item has been seen". The winner is the
    * smallest `(score, corpus_id)` under `rank`, a descending score
    * negated.
    *
    * DELIVERY SEMANTICS: the streaming face decides per DELIVERY — a
    * redelivered item (same id, later arrival inside the watermark)
    * opens a fresh (arr_ts, in_id) group and gets a fresh decision,
    * which is CONTENT-IDENTICAL against unchanged corpus artifacts
    * (RestartSpec pins both properties), so a crawler loop keyed on
    * in_id upserts idempotently. The batch face is per-ITEM — a batch
    * frame has no delivery axis. Suppressing redeliveries entirely
    * would re-introduce the dedup stateful operator this face exists
    * to avoid; the audit faces carry that dedup where it pays for
    * itself. */
  private def decision(streaming: Boolean, flagged: DataFrame,
      evidence: Seq[String], rank: Rank): DataFrame = {
    val score =
      if (rank.descending) (col(rank.score) * -1).as(rank.score)
      else col(rank.score)
    val best = min_by(struct(evidence.map(col): _*),
      struct(score, col("corpus_id"))).as("best")
    val agg =
      if (streaming) flagged.groupBy(col("arr_ts"), col("in_id")).agg(best)
      else flagged.groupBy(col("in_id")).agg(best)
    agg.select(col("in_id") +: evidence.map(c => col(s"best.$c").as(c)): _*)
  }
}
