package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

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
  *    by [[decisionOrder]] (ties to the smallest corpus_id) — O(incoming)
  *    output at any corpus-side duplicate mass, one stateful operator
  *    on the streaming plan;
  *  - the LEDGER face serves the backfill's flag relation from the
  *    persisted arrival-time segmented ledger [[GateSpec.ledger]].
  *
  * @param source        warehouse table the incoming feed derives from
  *                      (`documents` or `embeddings`)
  * @param read          the source read the backfill and decision
  *                      faces scan the table with
  * @param incomingOf    the incoming feed over a source frame; one
  *                      incoming row derives from one source row, so
  *                      a crawl batch's flags excise with its file
  * @param kernel        the gate: `(session, dir, incoming, decision)`
  * @param decisionCols  the decision oracle's columns after `in_id`
  * @param decisionOrder the decision oracle's winner ordering */
final case class GateSpec(
    name: String,
    source: String,
    read: (SparkSession, String, String) => DataFrame,
    incomingOf: DataFrame => DataFrame,
    kernel: (SparkSession, String, DataFrame, Boolean) => DataFrame,
    ledgerName: String,
    ledgerVersion: Int,
    backfillQuery: String,
    decisionQuery: String,
    ledgerQuery: String,
    decisionCols: String,
    decisionOrder: String) {

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
    graft.observe.IndexStore.readOrBuildSegmented(
      s, ledgerName, s"$dir/$source.parquet", version = ledgerVersion)(
      files => kernel(s, dir, incomingOf(s.read.parquet(files: _*)), false))

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
    decisionQuery -> Gates.decisionOracle(
      backfillSql, decisionCols, decisionOrder))
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

  val text: GateSpec = GateSpec("text", "documents",
    (s, d, t) => Tables.loadSpread(s, d, t), replay("doc_id", "text"),
    (s, d, in, dec) => Llm.nearDupAdmission(s, d, in, dec),
    "text_gate_audit", 1,
    "q49_admission_backfill", "q173_text_admission_decision",
    "q179_text_audit_ledger",
    "corpus_id, jaccard", "jaccard DESC, corpus_id")

  val vector: GateSpec = GateSpec("vector", "embeddings",
    (s, d, t) => Tables.loadSpread(s, d, t), replay("vec_id", "embedding"),
    (s, d, in, dec) => Llm.vectorAdmission(s, d, in, dec),
    "vector_gate_audit", 1,
    "q97_vector_admission", "q174_vector_admission_decision",
    "q180_vector_audit_ledger",
    "corpus_id, cos", "cos DESC, corpus_id")

  val raster: GateSpec = GateSpec("raster", "documents",
    (s, d, t) => Tables.load(s, d, t),
    df => Multimodal.rasterIncomingFixtureOf(df),
    (s, d, in, dec) => Multimodal.rasterAdmission(s, d, in, dec),
    "raster_gate_audit", 3,
    "q165_raster_admission", "q170_raster_admission_decision",
    "q176_raster_audit_ledger",
    "corpus_id, hamming", "hamming, corpus_id")

  val media: GateSpec = GateSpec("media", "documents",
    (s, d, t) => Tables.load(s, d, t),
    df => Multimodal.mediaIncomingFixtureOf(df),
    (s, d, in, dec) => Multimodal.mediaAdmission(s, d, in, dec),
    "media_gate_audit", 1,
    "q160_media_admission", "q172_media_admission_decision",
    "q177_media_audit_ledger",
    "corpus_id, common_blocks, n_in, n_corpus, containment_micro",
    "containment_micro DESC, corpus_id")

  val audio: GateSpec = GateSpec("audio", "documents",
    (s, d, t) => Tables.load(s, d, t),
    df => Multimodal.audioIncomingFixtureOf(df),
    (s, d, in, dec) => Multimodal.audioAdmission(s, d, in, dec),
    "audio_gate_audit", 2,
    "q163_audio_admission", "q171_audio_admission_decision",
    "q178_audio_audit_ledger",
    "corpus_id, common_fps, n_in, n_corpus, containment_micro",
    "containment_micro DESC, corpus_id")

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
    * the engine's min_by — by `ord`, ties included in `ord` via
    * corpus_id. */
  private[ops] def decisionOracle(backfillSql: String, cols: String,
      ord: String): String =
    s"""SELECT in_id, $cols FROM (
       |  SELECT *, row_number() OVER (
       |    PARTITION BY in_id ORDER BY $ord) AS rn
       |  FROM ($backfillSql))
       |WHERE rn = 1 ORDER BY in_id""".stripMargin
}
