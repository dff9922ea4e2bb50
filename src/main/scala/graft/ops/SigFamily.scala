package graft.ops

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.observe.{ArtifactSpec, Decomp, IndexStore}

/** A family's corpus-relative stop list: the signatures whose document
  * frequency (df, the number of corpus items carrying the signature)
  * passes `threshold(corpusSize)`, PERSISTED as `spec` (a full build,
  * content-addressed at the documents fingerprint and keyed on the
  * family's postings artifact). The stop list only changes when the
  * corpus does, which is exactly what the fingerprint keys, so a pair
  * report or a gate START reads a tiny parquet instead of re-paying
  * the corpus-sized df fold over the postings — at 100 TB that fold is
  * the dominant gate-start stage. The corpus count runs only inside
  * the artifact's build. */
final case class StopList(spec: ArtifactSpec,
    corpusSize: (SparkSession, String) => Long, threshold: Long => Long)

/** One fingerprint family: its (item, signature) posting relation,
  * the signature's key columns, and its stop list, if it prunes one.
  * [[SigFamilies]] declares each family once; the df relation, the
  * persisted stop list, its collect and `DfProbe`'s family table all
  * derive from that declaration. */
final case class SigFamily(name: String,
    postings: (SparkSession, String) => DataFrame, keys: Seq[String],
    stop: Option[StopList]) {

  /** The df threshold at the corpus' current size; none (MaxValue)
    * for a family without a stop list. */
  def threshold(s: SparkSession, dir: String): Long =
    stop.fold(Long.MaxValue)(p => p.threshold(p.corpusSize(s, dir)))

  def stopSpec: ArtifactSpec =
    stop.getOrElse(sys.error(s"$name prunes no stop list")).spec

  /** The persisted stop relation, one row per stop signature. */
  def stops(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, stopSpec, dir).select(keys.map(col): _*)

  /** The stop list COLLECTED, for a single-key family: bounded by the
    * relative threshold's construction at any corpus size (the E161
    * bound) — the engine's model-sized-collect discipline, same class
    * as Lloyd centroids and BPE merges. */
  def stopList(s: SparkSession, dir: String): Seq[String] = {
    val sess = s
    import sess.implicits._
    stops(s, dir).as[String].collect().toSeq.sorted
  }
}

object SigFamily {

  /** The df relation: one row per distinct signature with its df. */
  def dfOf(posts: DataFrame, keys: Seq[String]): DataFrame =
    posts.groupBy(keys.map(col): _*).agg(count(lit(1)).as("df"))

  /** The signatures of `posts` whose df passes `threshold`. */
  def stopsOf(posts: DataFrame, keys: Seq[String],
      threshold: Long): DataFrame =
    dfOf(posts, keys).filter(col("df") > threshold)
      .select(keys.map(col): _*)

  /** The CORPUS-RELATIVE df threshold (the E161 discipline): a
    * signature in more than 1/5 of the corpus is boilerplate, not
    * identity, floored at an absolute `floor` so tiny fixtures keep
    * stable semantics. An absolute constant alone silently redefines
    * similarity as the corpus grows (at 10⁹ docs `df > 100` prunes
    * essentially every shingle); the fraction keeps "ubiquitous"
    * meaning ubiquitous at any scale, and it bounds the stop list: a
    * family carrying at most c signatures per item has at most 5c
    * signatures with df > n/5 — a constant at any corpus size,
    * broadcast- and collect-safe. The DuckDB oracles embed the same
    * formula, so both engines prune identically. */
  def relative(floor: Long)(n: Long): Long = math.max(floor, n / 5)

  /** A family's stop-list spec: the df fold over its postings, keyed
    * on the postings artifact `over`. */
  private[ops] def stopSpec(family: => SigFamily, name: String,
      version: Int, over: => ArtifactSpec): ArtifactSpec =
    ArtifactSpec(name, version, "documents", Decomp.Full((s, d) =>
      stopsOf(family.postings(s, d), family.keys, family.threshold(s, d))),
      Seq(over))

  /** The 2 × 32-bit band decomposition of a 64-bit signature — band k
    * is bits [32k, 32k+32). Two bands are pigeonhole-exact at Hamming
    * ≤ 1, and the 32-bit band universe (4.3×10⁹) keeps chance band
    * collisions of UNRELATED signatures negligible past 10⁹ rasters —
    * the E176 fix: a 16-bit band universe (65,536) saturates on
    * low-entropy structured imagery and its coincidence candidates
    * grow linearly with n. */
  private def bandExpr(hash: String): String =
    s"""transform(sequence(0, 1),
         k -> struct(k AS b,
           shiftright($hash, CAST(32 * k AS INT)) & 4294967295 AS bh))"""

  /** `df`'s 64-bit signature column `hash` projected to its bands: one
    * (carry…, b, bh) row per band. */
  def bands(df: DataFrame, hash: String, carry: String*): DataFrame =
    df.select(carry.map(col) :+ explode(expr(bandExpr(hash))).as("e"): _*)
      .select(carry.map(col) :+ col("e.b").as("b") :+ col("e.bh").as("bh"): _*)
}

/** The five fingerprint families (continuous similarity admission, cf.
  * "Continuously Adaptive Similarity Search", SIGMOD 2020). Postings
  * are referenced through lambdas so initializing this object never
  * forces the modules. */
object SigFamilies {

  /** Content-defined media blocks (q157/q160): ≤ 16 blocks per media
    * row, so ≤ 80 stop blocks. */
  val mediaBlocks: SigFamily = SigFamily("media_blocks",
    (s, d) => Multimodal.mediaBlockPostingsIdx(s, d), Seq("block_hash"),
    Some(StopList(SigFamily.stopSpec(mediaBlocks, "media_stop_blocks", 1,
      Multimodal.mediaBlockPostingsSpec),
      (s, d) => Multimodal.mediaCorpus(s, d).count(),
      SigFamily.relative(64L))))

  /** Gain-invariant audio energy fingerprints (q162/q163): ≤ 256 fps
    * per row, so ≤ 1,280 stop fps. Floored low (16) so tiny fixtures
    * still prune boilerplate profiles (e.g. near-silence) whose
    * identical shingles digest to identical fingerprints. */
  val audioFps: SigFamily = SigFamily("audio_fps",
    (s, d) => Multimodal.audioFpIdx(s, d), Seq("fp"),
    Some(StopList(SigFamily.stopSpec(audioFps, "audio_stop_fps", 6,
      Multimodal.audioFpsSpec),
      (s, d) => Multimodal.nAudioCorpus(s, d), SigFamily.relative(16L))))

  /** Raster perceptual-hash bands (q164/q165): exactly 2 band rows per
    * raster, so ≤ 10 stop buckets. */
  val rasterBands: SigFamily = SigFamily("raster_bands",
    (s, d) => SigFamily.bands(Multimodal.rasterAHashIdx(s, d), "ahash"),
    Seq("b", "bh"),
    Some(StopList(SigFamily.stopSpec(rasterBands, "raster_band_stops", 4,
      Multimodal.rasterAHashSpec),
      (s, d) => Multimodal.nRasterCorpus(s, d), SigFamily.relative(64L))))

  /** Winnowed text fingerprints (q142): the relative threshold capped
    * at the ABSOLUTE [[Llm.winnowDfCap]], so the widest emitted posting
    * is C(256, 2) pairs at any corpus size. */
  val winnowFps: SigFamily = SigFamily("winnow_fps",
    (s, d) => Llm.winnowFpsIdx(s, d), Seq("fp"),
    Some(StopList(SigFamily.stopSpec(winnowFps, "winnow_stop_fps", 1,
      Llm.winnowFpsSpec), (s, d) => Tables.rowCount(s, d, "documents"),
      n => math.min(SigFamily.relative(100L)(n), Llm.winnowDfCap))))

  /** MinHash LSH bands (q30): no stop list — LSH candidates ride band
    * df directly, so its natural df IS the health signal. */
  val minhashBands: SigFamily = SigFamily("minhash_bands",
    (s, d) => Llm.minhashBandsIdx(s, d), Seq("b", "bh"), None)

  val all: Seq[SigFamily] =
    Seq(mediaBlocks, audioFps, rasterBands, winnowFps, minhashBands)
}

/** A set-containment modality (media blocks q157/q160, audio
  * fingerprints q162/q163), declared once: its signature `family`
  * (postings keyed by `media_id`), its admission `gate`, its per-item
  * signature-SET artifact (`setSpec`, the set in column `setCol`;
  * `idsOf` gives a documents frame's media ids), its
  * payload → signatures kernel (`sigsOf()`, called at plan time so a
  * captured codec chain ships in the task closure) and its
  * containment threshold in micro units. The pair report, the set
  * artifact and the gate kernel all derive from it; the common-count
  * column is the gate's second evidence column. */
final case class SetContainment(family: SigFamily, gate: GateSpec,
    setSpec: ArtifactSpec, setCol: String,
    idsOf: DataFrame => DataFrame,
    sigsOf: () => Array[Byte] => Seq[String], thresholdMicro: Long) {

  private def key: String = family.keys.head
  private def common: String = gate.evidence(1)

  /** The pair report (q157/q162): two media rows pair when their rare
    * signatures (the persisted stop list anti-joined out, broadcast)
    * cover `common / least(n_a, n_b) ≥ thresholdMicro` (micro units).
    *
    * Scale shape: candidates come from a BUCKETED self-join of the
    * persisted postings, never all pairs; each row carries a capped
    * number of signatures and the stop list caps df, so a row meets a
    * bounded number of candidates by construction. The postings are
    * localCheckpoint-pinned for their four consumers (per-media
    * counts, the stop list, both join roles) — the E123
    * one-derivation rule. */
  def pairs(s: SparkSession, dir: String): DataFrame = {
    // the per-media count is named after the common count's noun
    // (common_blocks → n_blocks)
    val n = "n_" + common.stripPrefix("common_")
    val posts = family.postings(s, dir).localCheckpoint()
    val nPer = posts.groupBy(col("media_id")).agg(count(lit(1)).as(n))
    val rare = posts
      .join(broadcast(family.stops(s, dir)), Seq(key), "left_anti")
    val pairs = rare.as("a").join(rare.as("b"), Seq(key))
      .filter(col("a.media_id") < col("b.media_id"))
      .groupBy(col("a.media_id").as("media_a"),
        col("b.media_id").as("media_b"))
      .agg(count(lit(1)).as(common))
    pairs
      .join(nPer.withColumnRenamed("media_id", "media_a")
        .withColumnRenamed(n, "n_a"), "media_a")
      .join(nPer.withColumnRenamed("media_id", "media_b")
        .withColumnRenamed(n, "n_b"), "media_b")
      .withColumn("containment_micro",
        expr(s"$common * 1000000L div least(n_a, n_b)"))
      .filter(col("containment_micro") >= thresholdMicro)
      .select(col("media_a"), col("media_b"), col(common),
        col("n_a"), col("n_b"), col("containment_micro"))
      .orderBy(col("media_a"), col("media_b"))
  }

  /** The per-media signature SET — the gate verify's in-row side —
    * PERSISTED as a segmented delete-aware artifact. Without it the
    * grouped fold over the postings sits on the STATIC side of the
    * gate's stream-static join, and Spark re-executes static sides per
    * micro-batch — a corpus-sized shuffle+fold per trigger at 100 TB
    * (E173). Legal as a segmented artifact because the sets are
    * UNPRUNED (no global-df dependence) and per-media rows never span
    * source files: each window's sets derive from the shared postings
    * restricted to the window's media by an id-only semi-join, so
    * decode and hashing stay paid once per document ever, and a
    * takedown excises one segment. `sort_array` pins the set's order
    * so excised chains compare byte-stable against rebuilds. */
  def sets(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, setSpec, dir)

  /** The set-containment kernel on the gate's admission core
    * [[Gates.admit]]: incoming payloads decode MAP-SIDE to signature
    * arrays, the collected stop list prunes both sides, surviving
    * signatures collide stream-static against the persisted postings,
    * and the verify is an in-row intersect count against the
    * persisted sets (per trigger a columnar artifact scan plus
    * map-only array ops, never a re-fold). Emits (in_id, corpus_id,
    * <common>, n_in, n_corpus, containment_micro ≥ threshold); the
    * SAME plan serves the batch backfill and a `readStream` gate. */
  def admit(s: SparkSession, dir: String, incoming: DataFrame,
      decision: Boolean): DataFrame = {
    import s.implicits._
    val stop = family.stopList(s, dir)
    val stopCol = typedLit(stop)
    val sigs = sigsOf()
    val posts = family.postings(s, dir)
      .select(col(key).as("sig"), col("media_id").as("corpus_id"))
    val postsRare =
      if (stop.isEmpty) posts
      else posts.filter(!col("sig").isin(stop: _*))
    val corpusSets = sets(s, dir)
      .select(col("media_id").as("corpus_id"),
        size(col(setCol)).cast("bigint").as("n_corpus"),
        array_except(col(setCol), stopCol).as("corpus_rare"))
    gate.admit(incoming, decision)(
      stage = _.select(col("media_id").cast("long").as("media_id"),
          col("payload"), col("arr_ts")).as[Multimodal.InMediaRow]
        .mapPartitions(rows =>
          rows.map(r => (r.media_id, r.arr_ts, sigs(r.payload))))
        .toDF("in_id", "arr_ts", "in_all")
        .withColumn("n_in", size(col("in_all")).cast("bigint"))
        .withColumn("in_sigs", array_except(col("in_all"), stopCol)),
      // an OUTER explode: an inner one lets Spark infer
      // `size(in_sigs) > 0` and push it below the decision watermark,
      // so an item with no rare signatures would never advance event
      // time; its null `sig` joins nothing
      candidates = Candidates.Probes(_
        .select(col("in_id"), col("arr_ts"), col("in_sigs"), col("n_in"),
          explode_outer(col("in_sigs")).as("sig"))
        .join(postsRare, "sig")
        .select(col("in_id"), col("arr_ts"), col("in_sigs"), col("n_in"),
          col("corpus_id"))),
      verify = Verify.SetJoin(corpusSets, _
        .withColumn(common, graft.functions.GraftFx.intersectCount(
          col("in_sigs"), col("corpus_rare")).cast("bigint"))
        .withColumn("containment_micro",
          expr(s"$common * 1000000L div least(n_in, n_corpus)"))
        .filter(col("containment_micro") >= thresholdMicro)))
  }
}

object SetContainment {

  /** A modality's segmented set spec, keyed on its postings `over`. */
  def setSpec(m: => SetContainment, name: String, version: Int,
      over: => ArtifactSpec): ArtifactSpec =
    ArtifactSpec(name, version, "documents", Decomp.Segmented((s, dir) =>
      files => m.family.postings(s, dir)
        .join(m.idsOf(Tables.scan(s, files)), Seq("media_id"), "left_semi")
        .groupBy(col("media_id"))
        .agg(sort_array(collect_set(col(m.family.keys.head))).as(m.setCol))),
      Seq(over))
}
