package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.observe.{ArtifactSpec, Decomp, IndexStore}

/** Multimodal column plumbing — SURVEY.md §2.9 X5.
  *
  * Images/audio/video are carried as opaque `binary` payload columns with
  * typed metadata, exactly how a 100 TB multimodal corpus rides through
  * Spark: the engine never interprets the bytes in the plan, decode
  * happens at the partition boundary in batch-shaped worker code
  * (`mapPartitions` over a typed Dataset — the Scala analog of
  * `mapInPandas`), and everything before/after the decode stage is
  * ordinary columnar pruning/filtering/shuffling on the metadata.
  *
  * The decoder is a GENUINE (if tiny) header parser: payloads are
  * synthesized with real container structure — PNG signature + IHDR,
  * RIFF/WAVE fmt+data chunks, JPEG SOI + SOF0 — and the decode stage
  * recovers width/height/duration by parsing those bytes (big- and
  * little-endian fields, marker scan), not by trusting row metadata.
  * What remains stubbed relative to a production decoder is only the
  * codec payload itself (no pixel/sample decode — no codec libraries in
  * this environment); swap [[decode]]'s body for a JNI/ffmpeg/opencv
  * call and nothing else changes. The DuckDB oracles reconstruct the
  * identical byte streams and verify every parsed field end-to-end.
  */
object Multimodal {

  /** One media row: payload is the opaque blob, modality tags the codec
    * family (the fixture derives both from `documents` since the
    * testdata ships no binary table). */
  case class MediaRow(doc_id: Long, modality: String, payload: Array[Byte])

  /** Decoded features. Fixed-width struct so the downstream plan is
    * columnar; `frame_hashes` stands in for sampled-frame embeddings.
    * `block_hashes` are CONTENT-DEFINED: md5 per full 64-byte block of
    * the post-header body (absolute cap 16 blocks — the df-cap
    * discipline applied to row width), so two containers wrapping the
    * same media bytes share blocks even though their payload offsets —
    * and hence the positional `frame_hashes` — differ. This is the
    * join key media near-dup detection needs and frame_hashes cannot
    * be. */
  case class MediaFeatures(
      doc_id: Long,
      modality: String,
      payload_len: Long,
      width: Long,
      height: Long,
      duration_ms: Long,
      frame_hashes: Seq[String],
      block_hashes: Seq[String])

  // ---- fixture: payloads with REAL container headers ---------------------

  /** Big-endian unsigned int of `nBytes` as a binary column. */
  private def be(v: Column, nBytes: Int): Column =
    unhex(lpad(hex(v), nBytes * 2, "0"))

  /** Little-endian 32-bit: byte-swap then big-endian render. */
  private def le32(v: Column): Column =
    be(shiftleft(v.bitwiseAND(lit(255L)), 24) +
      shiftleft(shiftright(v, 8).bitwiseAND(lit(255L)), 16) +
      shiftleft(shiftright(v, 16).bitwiseAND(lit(255L)), 8) +
      shiftright(v, 24).bitwiseAND(lit(255L)), 4)

  /** Base-payload column expressions over a documents row (needs
    * `doc_id` and `text` in scope) — shared by [[mediaTable]] and
    * [[mediaCorpus]] so the planted corpus costs ONE scan. */
  private def baseModality: Column = element_at(
    array(lit("image"), lit("audio"), lit("video")),
    (col("doc_id") % 3 + 1).cast("int"))

  /** Multimodal fixture: each document's text bytes wrapped in a real
    * container header — PNG IHDR (image), RIFF/WAVE (audio), JPEG SOF0
    * (video) — with the header's dimension/rate fields derived from
    * doc_id, so the oracle can verify the PARSED values independently
    * of the parser. Construction is pure columnar byte math
    * (hex/unhex/concat), map-only. */
  private def basePayload: Column = {
    val body = encode(col("text"), "UTF-8")
    val bodyLen = length(body).cast("bigint")
    val pngW = lit(16L) + pmod(col("doc_id"), lit(1024L))
    val pngH = lit(16L) + pmod(col("doc_id"), lit(768L))
    val rate = lit(8000L) + pmod(col("doc_id"), lit(8L)) * 1000L
    val jpgH = lit(120L) + pmod(col("doc_id"), lit(600L))
    val jpgW = lit(160L) + pmod(col("doc_id"), lit(800L))
    // PNG: signature, IHDR length+type, width/height BE32, bit depth 8,
    // color type 6 (RGBA), compression/filter/interlace 0, CRC
    // placeholder; 33 header bytes total
    val png = concat(
      unhex(lit("89504E470D0A1A0A")),
      unhex(lit("0000000D49484452")),
      be(pngW, 4), be(pngH, 4),
      unhex(lit("080600000000000000")),
      body)
    // WAV: RIFF size, WAVE + fmt chunk (PCM, 1 channel, 16-bit,
    // byteRate = rate·2), data chunk sized to the body; 44 header bytes
    val wav = concat(
      encode(lit("RIFF"), "UTF-8"), le32(bodyLen + 36L),
      encode(lit("WAVEfmt "), "UTF-8"),
      unhex(lit("10000000")), unhex(lit("01000100")),
      le32(rate), le32(rate * 2L),
      unhex(lit("02001000")),
      encode(lit("data"), "UTF-8"), le32(bodyLen),
      body)
    // JPEG: SOI + SOF0 (len 11, precision 8, height/width BE16, one
    // component); 15 header bytes — the body stands in for MJPEG frames
    val jpg = concat(
      unhex(lit("FFD8FFC0")), be(lit(11L), 2), unhex(lit("08")),
      be(jpgH, 2), be(jpgW, 2), unhex(lit("01011100")),
      body)
    when(col("modality") === "image", png)
      .when(col("modality") === "audio", wav)
      .otherwise(jpg)
  }

  def mediaTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("modality", baseModality)
      .select(col("doc_id"), col("modality"), basePayload.as("payload"))

  /** REAL header parse — runs per partition over an iterator (i.e.
    * batch-shaped: one decoder init per partition, not per row). Reads
    * PNG IHDR width/height (BE32 at fixed offsets after signature
    * validation), WAV byteRate/dataSize (LE32 inside the fmt/data
    * chunks) → duration, and scans JPEG marker segments for SOF0 →
    * height/width, with the residual (post-header) length standing in
    * for MJPEG frame payload (duration = frames·40 ms). Unparseable
    * payloads decode to zeros rather than throwing — the quarantine
    * default (T5). */
  /** md5 of the uppercase-hex ASCII rendering of `len` bytes at
    * `from` — the engine-portable `md5(hex(bytes))` idiom, built with
    * table-driven bytes (a per-byte format call measurably tripled
    * the decode queries). `md` is the PARTITION-level digest instance
    * (digest() resets it), shared by [[decode]] and the streaming
    * admission gate's block stage. */
  private def blockMd5Of(md: java.security.MessageDigest,
      p: Array[Byte], from: Int, len: Int): String = {
    val hexU = "0123456789ABCDEF".getBytes
    val hexL = "0123456789abcdef"
    val in = new Array[Byte](len * 2)
    var i = 0
    while (i < len) {
      val v = p(from + i) & 0xFF
      in(2 * i) = hexU(v >>> 4)
      in(2 * i + 1) = hexU(v & 0xF)
      i += 1
    }
    val d = md.digest(in)
    val out = new Array[Char](32)
    i = 0
    while (i < 16) {
      val v = d(i) & 0xFF
      out(2 * i) = hexL(v >>> 4)
      out(2 * i + 1) = hexL(v & 0xF)
      i += 1
    }
    new String(out)
  }

  private val pngSig = Array(0x89, 0x50, 0x4E, 0x47, 0x0D, 0x0A, 0x1A, 0x0A)
    .map(_.toByte)

  /** REAL container parse — (width, height, duration_ms, bodyStart):
    * bodyStart is the PARSED header end — where the codec payload
    * begins — so block hashes are container-independent (a re-encode
    * shifts the header, never the body blocks). Shared by the batch
    * decode stage and the streaming admission gate. */
  private[graft] def parseContainer(
      p: Array[Byte]): (Long, Long, Long, Int) = {
    val len = p.length.toLong
    def u8(i: Int): Long = p(i) & 0xFFL
    def be16(i: Int): Long = (u8(i) << 8) | u8(i + 1)
    def be32(i: Int): Long =
      (u8(i) << 24) | (u8(i + 1) << 16) | (u8(i + 2) << 8) | u8(i + 3)
    def le32(i: Int): Long =
      (u8(i + 3) << 24) | (u8(i + 2) << 16) | (u8(i + 1) << 8) | u8(i)
    def ascii(i: Int, sTag: String): Boolean =
      i + sTag.length <= p.length &&
        sTag.indices.forall(j => p(i + j) == sTag.charAt(j).toByte)
    if (len >= 24 && p.take(8).sameElements(pngSig) && ascii(12, "IHDR"))
      (be32(16), be32(20), 0L, 33)
    else if (len >= 44 && ascii(0, "RIFF") && ascii(8, "WAVE")) {
      val byteRate = le32(28)
      val dataSize = le32(40)
      (0L, 0L, if (byteRate > 0) dataSize * 1000L / byteRate else 0L, 44)
    } else if (len >= 4 && u8(0) == 0xFF && u8(1) == 0xD8) {
      // marker scan for SOF0 (FFC0): len, precision, height, width
      var i = 2
      var res = (0L, 0L, 0L, len.toInt)
      var found = false
      while (!found && i + 8 < p.length) {
        if (u8(i) == 0xFF && u8(i + 1) == 0xC0) {
          val headerEnd = i + 2 + be16(i + 2).toInt
          res = (be16(i + 7), be16(i + 5),
            math.max(0L, len - headerEnd) * 40L, headerEnd)
          found = true
        } else if (u8(i) == 0xFF && i + 3 < p.length) {
          i += 2 + be16(i + 2).toInt // skip unrelated segment
        } else i += 1
      }
      res
    } else (0L, 0L, 0L, len.toInt)
  }

  /** Content-defined block signatures: md5 per FULL 64-byte body
    * block (partial tail skipped — a truncated re-encode then shares
    * every block it still carries), absolute cap [[blockCap]] per
    * row. Preimage is the uppercase hex rendering, the
    * engine-portable md5(hex(bytes)) idiom the content hash uses. */
  private def blockSigsOf(md: java.security.MessageDigest,
      p: Array[Byte], bodyStart: Int): Seq[String] = {
    val nFull = math.max(0,
      math.min((p.length - bodyStart) / blockBytes, blockCap))
    (0 until nFull).map(i =>
      blockMd5Of(md, p, bodyStart + i * blockBytes, blockBytes))
  }

  private[graft] def decode(rows: Iterator[MediaRow]): Iterator[MediaFeatures] = {
    // ONE digest per partition (the batch-shaped decoder-init
    // discipline this boundary exists for — a per-block
    // MessageDigest.getInstance measurably tripled q40/q58/q155)
    val md = java.security.MessageDigest.getInstance("MD5")
    rows.map { r =>
      val p = r.payload
      val len = p.length.toLong
      val (w, h, d, bodyStart) = parseContainer(p)
      // "Frame sampling": 3 evenly spaced 16-byte slices, hex-rendered —
      // stands in for per-frame feature vectors.
      val hashes = (0 until 3).map { i =>
        val off = (len * i / 3).toInt
        p.slice(off, math.min(off + 16, len.toInt))
          .map("%02x".format(_)).mkString
      }
      MediaFeatures(r.doc_id, r.modality, len, w, h, d, hashes,
        blockSigsOf(md, p, bodyStart))
    }
  }

  /** Block-signature parameters: 64-byte blocks, at most 16 per media
    * row — row width is bounded by CONSTRUCTION at any corpus scale. */
  private val blockBytes = 64
  private val blockCap = 16

  /** Typed decode pass: Dataset[MediaRow] → mapPartitions → features. */
  def decoded(s: SparkSession, dir: String): Dataset[MediaFeatures] = {
    import s.implicits._
    mediaTable(s, dir).as[MediaRow].mapPartitions(decode _)
  }

  /** Oracle-checked projection of the decode output: every scalar field
    * is reproducible from the payload bytes, so DuckDB can verify the
    * whole mapPartitions path (frame hashes checked via their first
    * element; content hash via md5 of the payload). */
  def mediaMeta(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decoded(s, dir)
      .select(
        col("doc_id"), col("modality"), col("payload_len"),
        col("width"), col("height"), col("duration_ms"),
        element_at(col("frame_hashes"), 1).as("first_frame"))
      .join(
        // hash over the hex rendering: covers every payload byte and
        // stays engine-portable (DuckDB's md5 lacks a BLOB overload)
        mediaTable(s, dir).select(col("doc_id"),
          md5(hex(col("payload"))).as("content_hash")),
        "doc_id")
      .orderBy(col("doc_id"))
  }

  /** q155: RESIZE / thumbnail stage — the fit-into-64×64
    * target-geometry math (pure integer, aspect-preserving) over the
    * typed decode output, plus a DETERMINISTIC STAND-IN for the
    * resampled pixels: PNG/JPEG payloads need a codec this container
    * does not ship, so for THESE containers the pixel resample is a
    * clearly-marked fake (md5 over content-hash ⊕ target geometry)
    * while everything Spark-side — the typed mapPartitions decode,
    * the columnar projection, the per-row integer geometry, the hash
    * lineage — is real and oracle-checked. The UNCOMPRESSED raster
    * path has no such boundary: q159 ([[rasterThumbnail]]) runs a
    * genuine integer box-filter kernel over real PGM bytes and is
    * byte-verified by its oracle — the codec swap for PNG/JPEG drops
    * into the same mapPartitions boundary that kernel already
    * occupies.
    * Geometry law: the long edge lands exactly on 64 (floor division
    * for the short edge, floored at 1); no upscaling (a thumbnail
    * never fabricates pixels, so sub-64 media keep their size); audio
    * rows pass through with zero geometry and their content hash
    * unchanged (nothing to resize). At 100 TB this is the map-only
    * projection stage of a thumbnail pipeline — zero shuffles, the
    * real resample kernel drops into the same mapPartitions boundary
    * the decoder already owns. */
  def mediaResize(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decoded(s, dir)
      .join(
        mediaTable(s, dir).select(col("doc_id"),
          md5(hex(col("payload"))).as("content_hash")),
        "doc_id")
      .withColumn("thumb_w",
        when(col("width") === 0 || col("height") === 0, lit(0L))
          .when(col("width") <= 64 && col("height") <= 64, col("width"))
          .when(col("width") >= col("height"), lit(64L))
          .otherwise(greatest(lit(1L), expr("width * 64 div height"))))
      .withColumn("thumb_h",
        when(col("width") === 0 || col("height") === 0, lit(0L))
          .when(col("width") <= 64 && col("height") <= 64, col("height"))
          .when(col("width") >= col("height"),
            greatest(lit(1L), expr("height * 64 div width")))
          .otherwise(lit(64L)))
      .withColumn("thumb_hash",
        when(col("thumb_w") === 0, col("content_hash"))
          .otherwise(md5(concat(col("content_hash"), lit(":"),
            col("thumb_w").cast("string"), lit("x"),
            col("thumb_h").cast("string")))))
      .select(col("doc_id"), col("modality"), col("width"),
        col("height"), col("thumb_w"), col("thumb_h"),
        col("thumb_hash"))
      .orderBy(col("doc_id"))
  }

  /** Frame-sample explode: one row per sampled frame with its hash —
    * the downstream shape of per-frame feature extraction (the oracle
    * recomputes every frame slice from the payload bytes, verifying
    * the typed decode's array output element by element). */
  def frameHashes(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    decoded(s, dir)
      .select(col("doc_id"),
        posexplode(col("frame_hashes")).as(Seq("frame_no", "frame_hash")))
      .withColumn("frame_no", col("frame_no").cast("bigint"))
      .select(col("doc_id"), col("frame_no"), col("frame_hash"))
      .orderBy(col("doc_id"), col("frame_no"))
  }

  // ---- media dedup (the near-dup family's missing modality) --------------

  /** Media corpus WITH PLANTED DUPLICATES — the near-dup fixture the
    * base table cannot provide (its payloads never collide: header
    * dimensions derive from doc_id). Three populations, all
    * deterministic and re-derivable by the oracle:
    *
    *  - the base [[mediaTable]] rows (`media_id = doc_id`);
    *  - RE-ENCODES of every doc_id % 5 == 0 row (`media_id = doc_id +
    *    1_000_000`): the same underlying media re-wrapped in a
    *    DIFFERENT container (JPEG, other dimensions) with the tail
    *    quarter of the body dropped — a lower-bitrate/shorter-clip
    *    re-encode. Same leading body blocks, different payload bytes,
    *    different positional frame hashes: only content-defined block
    *    signatures can pair these;
    *  - bit-identical RE-UPLOADS of every doc_id % 7 == 0 row
    *    (`media_id = doc_id + 2_000_000`): the exact-dup population.
    *
    * Construction stays pure columnar byte math, map-only — and ONE
    * corpus scan: the three populations explode out of a per-row
    * variant array (a union of three branches would re-scan the
    * documents table per branch — the E123 smell). */
  def mediaCorpus(s: SparkSession, dir: String): DataFrame =
    mediaCorpusOf(Tables.load(s, dir, "documents"))

  /** [[mediaCorpus]] over an EXPLICIT documents frame — the
    * per-source-files face the segmented block-postings artifact
    * builds from. */
  private def mediaCorpusOf(docsDf: DataFrame): DataFrame = {
    val body = encode(col("text"), "UTF-8")
    val bodyLen = length(body).cast("bigint")
    val trunc = body.substr(lit(1),
      floor(bodyLen * 3 / 4).cast("int"))
    val vh = lit(100L) + pmod(col("doc_id"), lit(512L))
    val vw = lit(140L) + pmod(col("doc_id"), lit(640L))
    val reencPayload = concat(
      unhex(lit("FFD8FFC0")), be(lit(11L), 2), unhex(lit("08")),
      be(vh, 2), be(vw, 2), unhex(lit("01011100")), trunc)
    docsDf
      .withColumn("modality", baseModality)
      .withColumn("payload", basePayload)
      .select(explode(array(
        struct(col("doc_id").as("media_id"), col("modality"),
          col("payload"), lit(true).as("keep")),
        struct((col("doc_id") + 2000000L).as("media_id"), col("modality"),
          col("payload"), (pmod(col("doc_id"), lit(7)) === 0).as("keep")),
        struct((col("doc_id") + 1000000L).as("media_id"),
          lit("video").as("modality"), reencPayload.as("payload"),
          (pmod(col("doc_id"), lit(5)) === 0).as("keep")))).as("v"))
      .filter(col("v.keep"))
      .select(col("v.media_id").as("media_id"),
        col("v.modality").as("modality"), col("v.payload").as("payload"))
  }

  /** [[decode]] over the planted corpus, keyed by media_id. */
  private def decodedCorpusOf(
      s: SparkSession, docsDf: DataFrame): DataFrame = {
    import s.implicits._
    mediaCorpusOf(docsDf)
      .withColumnRenamed("media_id", "doc_id")
      .as[MediaRow].mapPartitions(decode _)
      .withColumnRenamed("doc_id", "media_id")
  }

  /** The (media_id, block_hash) postings PERSISTED as a
    * content-addressed SEGMENTED artifact (`media_block_postings`):
    * decode + block hashing — the dominant CPU of the media near-dup
    * path — is paid once per document ever. File-decomposable (one
    * media row's blocks derive from one source document file), so a
    * pure append builds a delta segment from just the added files and
    * a DELETION (media takedown — the likeliest lifecycle event for
    * media at 100 TB) excises only the touched segments, exactly the
    * mix-count/shingle discipline (E157). */
  private[graft] val mediaBlockPostingsSpec: ArtifactSpec = ArtifactSpec(
    "media_block_postings", 1, "documents", Decomp.Segmented((s, _) =>
      files => decodedCorpusOf(s, Tables.scan(s, files)
          .repartition(s.sparkContext.defaultParallelism))
        .select(col("media_id"),
          explode(col("block_hashes")).as("block_hash"))
        .distinct()))

  private[graft] def mediaBlockPostingsIdx(
      s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, mediaBlockPostingsSpec, dir)

  /** q156: EXACT media dup detection — keep-first over the payload
    * content hash (the q29 discipline on the binary plane): one row
    * per shed copy, pointing at the kept representative.
    *
    * Scale shape: one map-side md5 projection, ONE shuffle on
    * content_hash (partial-agg min/count), and the shed join reuses
    * the same key — no second shuffle class. At 100 TB this is the
    * cheapest dedup in the family: no shingles, no banding, the hash
    * IS the identity. */
  def mediaExactDups(s: SparkSession, dir: String): DataFrame = {
    val hashed = mediaCorpus(s, dir)
      .select(col("media_id"), md5(hex(col("payload"))).as("content_hash"))
    val keep = hashed.groupBy(col("content_hash"))
      .agg(min(col("media_id")).as("keep_id"),
        count(lit(1)).as("n_copies"))
      .filter(col("n_copies") >= 2)
    hashed.join(keep, "content_hash")
      .filter(col("media_id") =!= col("keep_id"))
      .select(col("media_id"), col("keep_id"), col("content_hash"),
        col("n_copies"))
      .orderBy(col("media_id"))
  }

  /** q157: media NEAR-dup via content-block overlap — the q68
    * containment discipline over the decode stage's content-defined
    * block signatures: two media rows pair when they share blocks, and
    * a pair is reported when `common / least(n_a, n_b) ≥ 0.8`
    * (integer micro units). A re-encode — same media, different
    * container, truncated tail — shares every block it still carries,
    * so containment hits 1.0 even though the payloads (and the
    * positional frame hashes) differ byte-for-byte; q156's exact hash
    * can never pair it. The report is [[mediaContainment]]'s: a
    * bucketed self-join of the persisted [[mediaBlockPostingsIdx]]
    * artifact (decode + hashing once per document ever; delete-aware
    * via the segmented store) with the ≤ 5 × [[blockCap]] = 80-row
    * stop list anti-joined out, so a media row meets at most
    * blockCap × df-threshold candidates by construction. */
  def mediaNearDups(s: SparkSession, dir: String): DataFrame =
    mediaContainment.pairs(s, dir)

  // ---- q161: REAL PCM feature extraction (audio analog of q159) ----------

  /** Per-audio-row sample-level features: PCM is UNCOMPRESSED, so —
    * exactly like the PGM raster (q159) — real signal math needs no
    * codec. All-integer so both engines agree exactly: `mean_sq` is
    * the floor mean of squared samples (the RMS² — RMS itself would
    * be a sqrt both engines round differently), `top_frame` the
    * 100-sample frame with the largest energy (ties → lowest index). */
  case class AudioFeatures(doc_id: Long, sample_rate: Long,
      n_samples: Long, peak_abs: Long, mean_sq: Long,
      top_frame: Long, top_frame_energy: Long)

  /** Samples per analysis frame — the hop of the energy profile. */
  private val audioFrame = 100

  /** GENUINE PCM feature kernel inside the decode `mapPartitions`
    * boundary: decodes the payload through the CODEC SEAM
    * ([[AudioCodec]] — canonical mono PCM16 WAV in-tree, registered
    * codecs extend the chain without touching this fold; the E200
    * header gate lives in [[CanonicalPcmWav]], so a RIFF container
    * wrapping a COMPRESSED codec, or a stereo PCM whose interleave
    * would silently corrupt the stream, routes to T5 unless a codec
    * that understands it is registered) and folds peak / energy /
    * per-frame energies in one pass over the samples. Payloads no
    * codec accepts emit zeros (T5). Map-only, zero shuffles. */
  private[graft] def audioFeaturesWith(codecs: Seq[AudioCodec])(
      r: MediaRow): AudioFeatures =
    AudioCodecs.decodeWith(codecs, r.payload) match {
      case None => AudioFeatures(r.doc_id, 0L, 0L, 0L, 0L, 0L, 0L)
      case Some(DecodedPcm(rate, smp)) =>
        val n = smp.length
        var peak = 0L
        var sumSq = 0L
        var frameSum = 0L
        var bestFrame = 0L
        var bestEnergy = -1L
        var i = 0
        while (i < n) {
          val s = smp(i).toLong
          val a = math.abs(s)
          if (a > peak) peak = a
          sumSq += s * s
          frameSum += s * s
          if ((i + 1) % audioFrame == 0 || i + 1 == n) {
            if (frameSum > bestEnergy) {
              bestEnergy = frameSum; bestFrame = i / audioFrame
            }
            frameSum = 0L
          }
          i += 1
        }
        AudioFeatures(r.doc_id, rate, n,
          peak, if (n > 0) sumSq / n else 0L,
          if (bestEnergy < 0) 0L else bestFrame,
          math.max(bestEnergy, 0L))
    }

  /** [[audioFeaturesWith]] over the registry's CURRENT chain — the
    * spec-facing shape (production plans capture the chain at plan
    * time instead; see [[audioEnergy]]). */
  private[graft] def audioDecode(
      rows: Iterator[MediaRow]): Iterator[AudioFeatures] =
    rows.map(audioFeaturesWith(AudioCodecs.registered))

  /** q161: the audio feature relation over the corpus' WAV rows —
    * every integer re-derived by the oracle from independently
    * reconstructed bytes, sample by sample. The codec chain is
    * captured HERE, at plan time, and ships inside the task closure
    * (the [[AudioCodec]] serialization contract — executors run
    * exactly the driver's registered chain). */
  def audioEnergy(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val codecs = AudioCodecs.registered
    mediaTable(s, dir).filter(col("modality") === "audio")
      .as[MediaRow]
      .mapPartitions(rows => rows.map(audioFeaturesWith(codecs)))
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ---- q162: gain-invariant audio fingerprint near-dup (E172) ------------

  /** Samples per fingerprint frame — finer than [[audioFrame]] so the
    * fixture's short clips still yield a shingle-able profile. */
  private[graft] val gainFrame = 20

  /** Energy-profile quantization ceiling: levels are 0..63. The level
    * tuple itself is NEVER the bucketing key — each
    * [[gainShingle]]-gram is digested through MD5 ([[gainFpOf]])
    * before the min-cap, so the fingerprint universe is the digest's
    * (2¹²⁸), collision-free at any corpus size. The history that
    * forced this: a 4-bit/16-level FIXED-width pack saturated its
    * 65,536-value universe at sf0.1 already (every natural profile
    * colliding, df growing linearly with the corpus, the candidate
    * self-join Σdf² quadratic — measured 253k candidate rows from 11k
    * postings), and a 24-bit pack only pushed the same wall out one
    * decade — worse, keeping the numerically SMALLEST packed values
    * concentrated the kept fps in the quiet-frame region, shrinking
    * the effective universe further. Digesting BEFORE the cap makes
    * the ≤[[audioFpCap]]-smallest selection a uniform bottom-k
    * MinHash-style sample of the row's shingles (the q157 block-MD5
    * property), so df sits at true-similarity levels forever. */
  private val gainLevels = 63L

  /** Consecutive frames per fingerprint shingle. */
  private[graft] val gainShingle = 4

  /** Fingerprints kept per audio row (smallest [[gainShingle]]-gram
    * values after distinct — deterministic, so a re-master with the
    * SAME profile keeps the SAME subset). Bounds the per-row posting
    * contribution the way [[blockCap]] bounds the block path. */
  private[graft] val audioFpCap = 256

  /** WAV container around an arbitrary PCM body — byte-identical to
    * the audio arm of [[basePayload]] (RIFF size, PCM fmt chunk,
    * byteRate = rate·2, data chunk sized to the body). */
  private def wavOf(rate: Column, body: Column): Column = {
    val bodyLen = length(body).cast("bigint")
    concat(
      encode(lit("RIFF"), "UTF-8"), le32(bodyLen + 36L),
      encode(lit("WAVEfmt "), "UTF-8"),
      unhex(lit("10000000")), unhex(lit("01000100")),
      le32(rate), le32(rate * 2L),
      unhex(lit("02001000")),
      encode(lit("data"), "UTF-8"), le32(bodyLen),
      body)
  }

  /** PCM re-master of the binary column `body`: every little-endian
    * signed 16-bit sample mapped through `f` ("-%s" polarity flip or
    * "shiftright(%s, 1)" half gain), re-encoded little-endian, odd
    * trailing byte dropped. Dispatches to the codegen'd byte-loop
    * expression ([[graft.functions.Pcm16Remaster]]) — the SQL
    * formulation it replaces paid ~30 interpreted string expressions
    * per SAMPLE and was 1.6 s of q163's 2.7 s warm cost at sf0.1 for
    * 417 fixture rows. [[remasterBodySql]] keeps the original SQL
    * form; ObserveSpec pins byte-identity of the two over the audio
    * corpus, which is what licenses serving the SAME versioned
    * artifacts (the store is keyed on source state + version, so a
    * byte-divergent rewrite here would silently disagree with
    * already-built fps). */
  private def remasterBody(f: String): Column = f match {
    case "-%s" =>
      graft.functions.GraftFx.pcm16Remaster(col("body"), negate = true)
    case "shiftright(%s, 1)" =>
      graft.functions.GraftFx.pcm16Remaster(col("body"), negate = false)
    case other => remasterBodySql(other)
  }

  /** Spec-facing handle on [[remasterBody]] (it is private like the
    * rest of the gate internals). */
  private[graft] def remasterBodyFor(f: String): Column = remasterBody(f)

  /** The original SQL re-master formulation — the independent
    * construction ObserveSpec compares [[remasterBody]] against (and
    * the shape the DuckDB oracle re-derives). */
  private[graft] def remasterBodySql(f: String): Column = {
    val u = "(CAST(conv(hex(substring(body, 2*i+2, 1)), 16, 10) AS BIGINT)" +
      " * 256 + CAST(conv(hex(substring(body, 2*i+1, 1)), 16, 10) AS BIGINT))"
    val sS = s"(CASE WHEN $u >= 32768 THEN $u - 65536 ELSE $u END)"
    val v = s"(${f.replace("%s", sS)})"
    val le = s"concat(lpad(hex(pmod($v, 65536) % 256), 2, '0'), " +
      s"lpad(hex(pmod($v, 65536) DIV 256), 2, '0'))"
    expr(s"CASE WHEN length(body) >= 2 THEN unhex(array_join(" +
      s"transform(sequence(0, CAST(length(body) DIV 2 AS INT) - 1), " +
      s"i -> $le), '')) ELSE unhex('') END")
  }

  /** Audio corpus WITH PLANTED RE-MASTERS — the gain fixture the block
    * path cannot provide (q157's planted re-encodes keep byte-identical
    * body blocks; a re-MASTER rewrites every byte). Three populations,
    * one documents scan, all re-derivable by the oracle sample by
    * sample:
    *
    *  - the base audio rows (`media_id = doc_id`, doc_id % 3 == 1);
    *  - POLARITY-INVERTED re-masters of every doc_id % 5 == 0 audio row
    *    (`media_id = doc_id + 4_000_000`): every sample negated — the
    *    classic inaudible phase flip. Energies are EXACTLY invariant
    *    (s² = (−s)²), payload bytes share nothing;
    *  - HALF-GAIN re-masters of every doc_id % 7 == 0 audio row
    *    (`media_id = doc_id + 5_000_000`): every sample floor-halved —
    *    a −6 dB master. Frame energies scale by ~¼ with O(1/s)
    *    rounding residue, so the RELATIVE profile is near-invariant.
    *
    * The remaster arms are honest columnar byte math over the fixture
    * (at 100 TB real re-masters arrive as real bytes; only the planted
    * fixture pays this synthesis, once, inside the artifact build). */
  private[graft] def audioVariantCorpusOf(docsDf: DataFrame): DataFrame = {
    val aud = docsDf
      .withColumn("modality", baseModality)
      .filter(col("modality") === "audio")
      .withColumn("body", encode(col("text"), "UTF-8"))
      .withColumn("rate", lit(8000L) + pmod(col("doc_id"), lit(8L)) * 1000L)
    aud.select(col("rate"),
        explode(array(
          struct(col("doc_id").as("media_id"),
            col("body").as("vbody"), lit(true).as("keep")),
          struct((col("doc_id") + 4000000L).as("media_id"),
            remasterBody("-%s").as("vbody"),
            (pmod(col("doc_id"), lit(5)) === 0).as("keep")),
          struct((col("doc_id") + 5000000L).as("media_id"),
            remasterBody("shiftright(%s, 1)").as("vbody"),
            (pmod(col("doc_id"), lit(7)) === 0).as("keep")))).as("v"))
      .filter(col("v.keep"))
      .select(col("v.media_id").as("media_id"),
        wavOf(col("rate"), col("v.vbody")).as("payload"))
  }

  private[graft] def audioVariantCorpus(
      s: SparkSession, dir: String): DataFrame =
    audioVariantCorpusOf(Tables.load(s, dir, "documents"))

  /** GENUINE gain-invariant fingerprint kernel, inside the decode
    * `mapPartitions` boundary: parses the WAV container, folds
    * per-[[gainFrame]] mean-square energies over the int16 stream
    * (FULL frames only — the partial tail is length-parity noise
    * that slices boilerplate populations below the stop threshold,
    * see [[audioFpSeqOf]]), quantizes each frame
    * RELATIVE to the row's own peak frame (`⌊fe·63/emax⌋` — a uniform
    * gain change scales fe and emax together, so the profile is
    * invariant), digests each [[gainShingle]]-level tuple through MD5
    * ([[gainFpOf]] — the universe is collision-free, so the min-cap
    * below is a UNIFORM bottom-k sample, never a quiet-region one),
    * and keeps the [[audioFpCap]] lexicographically smallest distinct
    * digests. Rows shorter than [[gainShingle]] frames are
    * below the fingerprint's resolution and emit nothing — the
    * documented floor, like q157's blockCap. Non-WAV payloads emit
    * nothing (T5). */
  /** Cross-engine fingerprint digest of one packed level tuple:
    * lowercase-hex MD5 of the packed value's DECIMAL string — exactly
    * `md5(CAST(packed AS VARCHAR))` in the DuckDB oracle. Equal level
    * tuples ⇒ equal digests (pair semantics unchanged); distinct
    * tuples land uniformly in a 2¹²⁸ universe, so the bottom-k cap in
    * [[audioFpSeqOf]] is a uniform MinHash-style sample and natural
    * df never grows with the corpus (the fix for the 16-bit → 24-bit
    * fixed-pack saturation class). */
  private[graft] def gainFpOf(md: java.security.MessageDigest,
      packed: Long): String = {
    val hexL = "0123456789abcdef"
    val d = md.digest(java.lang.Long.toString(packed)
      .getBytes(java.nio.charset.StandardCharsets.US_ASCII))
    val out = new Array[Char](32)
    var i = 0
    while (i < 16) {
      val v = d(i) & 0xFF
      out(2 * i) = hexL(v >>> 4)
      out(2 * i + 1) = hexL(v & 0xF)
      i += 1
    }
    new String(out)
  }

  /** One MD5 instance per THREAD, not per row: [[audioFpSeqOf]] runs
    * per row inside `mapPartitions` and the digest itself runs per
    * SHINGLE — a fresh `getInstance` per row is pure allocation churn
    * (MessageDigest is not thread-safe, so the hoist ceiling is the
    * thread, which a ThreadLocal reaches without changing any kernel
    * signature; `digest()` resets the instance between shingles). */
  private val md5Local: ThreadLocal[java.security.MessageDigest] =
    ThreadLocal.withInitial(() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The gain-invariant fingerprint kernel over the CODEC SEAM: the
    * payload decodes through `codecs` (canonical mono PCM16 in-tree;
    * a registered codec extends the chain — fingerprints, gates, and
    * ledgers downstream are codec-independent by construction, the
    * ObserveSpec stub-codec arm pins it); payloads no codec accepts
    * emit nothing (T5). */
  private[graft] def audioFpSeqWith(codecs: Seq[AudioCodec])(
      p: Array[Byte]): Seq[String] =
    AudioCodecs.decodeWith(codecs, p) match {
      case None => Nil
      case Some(DecodedPcm(_, smp)) =>
        val n = smp.length
        // FULL frames only — the partial tail frame is length-parity
        // noise, not signal, and it is a SCALE hazard: a boilerplate
        // population of identical audio at varying lengths all shares
        // one constant-level profile (one fp, df-pruned as stop), but
        // the tail frame's energy encodes `length mod frame`, slicing
        // that population into ~frame-many subgroups that each duck
        // the corpus-relative threshold and then pair quadratically
        // (measured on the zipf fixture: 99× pair growth across one
        // decade through the tail split; full-frame fingerprints
        // stop-prune the hot population to zero pairs). q161's feature
        // kernel keeps its partial-frame semantics — features describe
        // one row, fingerprints must bucket a corpus.
        val nFull = (n / gainFrame) * gainFrame
        val frames = scala.collection.mutable.ArrayBuffer.empty[Long]
        var frameSum = 0L
        var i = 0
        while (i < nFull) {
          val s = smp(i).toLong
          frameSum += s * s
          if ((i + 1) % gainFrame == 0) {
            frames += frameSum; frameSum = 0L
          }
          i += 1
        }
        if (frames.length < gainShingle) Nil
        else {
          val emax = frames.max
          val lv = frames.map(f =>
            if (emax == 0L) 0L else f * gainLevels / emax)
          val md = md5Local.get()
          // defensive reset at acquisition: the hoist's invariant is
          // "every prior digest() completed"; an exception between
          // update() and digest() anywhere on this thread would
          // otherwise leak residual state into THIS row's fingerprints
          md.reset()
          (0 to lv.length - gainShingle)
            .map(j => gainFpOf(md,
              ((lv(j) * 64 + lv(j + 1)) * 64 + lv(j + 2)) * 64 + lv(j + 3)))
            .distinct.sorted.take(audioFpCap)
        }
    }

  /** [[audioFpSeqWith]] over the registry's CURRENT chain — the
    * spec-facing shape (production plans capture the chain at plan
    * time; see [[audioFpIdx]] / [[audioAdmission]]). */
  private[graft] def audioFpSeqOf(p: Array[Byte]): Seq[String] =
    audioFpSeqWith(AudioCodecs.registered)(p)

  private[graft] def audioFpsOf(
      rows: Iterator[MediaRow]): Iterator[(Long, String)] =
    rows.flatMap(r => audioFpSeqOf(r.payload).iterator.map(fp =>
      (r.doc_id, fp)))

  /** The (media_id, fp) fingerprint postings PERSISTED as a segmented
    * delete-aware artifact (`audio_fps`) — decode + profile folding
    * paid once per audio row ever; file-decomposable (a row's
    * fingerprints, including its planted re-masters', derive from one
    * source document file), so an audio takedown excises only the
    * touched segments (E157/E163 discipline). v5 = the E200
    * canonical-PCM header gate; v6 = the codec-seam lift plus the MONO
    * requirement (ADVICE r13 — a canonical stereo WAV previously
    * decoded its interleave as one mono stream, the
    * silent-wrong-features class). The sets, stops and gate ledger
    * built through the kernel declare this spec upstream, so a bump
    * here rebuilds them. */
  private[graft] val audioFpsSpec: ArtifactSpec = ArtifactSpec(
    "audio_fps", 6, "documents", Decomp.Segmented((s, _) =>
      files => {
        val sess = s
        import sess.implicits._
        // codec chain captured at BUILD time: the artifact's content
        // is a function of (source state, version, codec chain) — a
        // session that registers a codec and needs it reflected in
        // the corpus artifacts bumps the artifact version with the
        // codec registration
        val codecs = AudioCodecs.registered
        audioVariantCorpusOf(Tables.scan(s, files)
            .repartition(s.sparkContext.defaultParallelism))
          .withColumnRenamed("media_id", "doc_id")
          .withColumn("modality", lit("audio"))
          .as[MediaRow]
          .mapPartitions(rows => rows.flatMap(r =>
            audioFpSeqWith(codecs)(r.payload).iterator.map(fp =>
              (r.doc_id, fp))))
          .toDF("media_id", "fp")
      }))

  private[graft] def audioFpIdx(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, audioFpsSpec, dir)

  /** The audio corpus' media ids ONLY — base + planted re-master ids
    * all derive from doc_id predicates, so this relation never touches
    * the remaster byte math (used for window restriction in artifact
    * builds and for the corpus-relative threshold's denominator). */
  private def audioVariantIdsOf(docsDf: DataFrame): DataFrame =
    docsDf.filter(pmod(col("doc_id"), lit(3)) === 1)
      .select(explode(array(
        struct(col("doc_id").as("media_id"), lit(true).as("keep")),
        struct((col("doc_id") + 4000000L).as("media_id"),
          (pmod(col("doc_id"), lit(5)) === 0).as("keep")),
        struct((col("doc_id") + 5000000L).as("media_id"),
          (pmod(col("doc_id"), lit(7)) === 0).as("keep")))).as("v"))
      .filter(col("v.keep"))
      .select(col("v.media_id").as("media_id"))

  /** Audio corpus size for the relative threshold — ONE doc_id-column
    * aggregate (base + planted variant counts), shared by q162 and
    * the admission gate. */
  private[graft] def nAudioCorpus(s: SparkSession, dir: String): Long = {
    val cnt = Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .agg(count(lit(1)).as("n"),
        count(when(pmod(col("doc_id"), lit(5)) === 0, lit(1))).as("n5"),
        count(when(pmod(col("doc_id"), lit(7)) === 0, lit(1))).as("n7"))
      .head()
    cnt.getLong(0) + cnt.getLong(1) + cnt.getLong(2)
  }

  /** The audio set-containment modality: the [[audioFpIdx]] postings,
    * per-media fingerprint sets persisted as `audio_fp_sets`
    * (`corpus_fps`), gain-invariant fingerprints map-side and
    * containment ≥ 0.6. */
  private[graft] val audioContainment: SetContainment = SetContainment(
    SigFamilies.audioFps, Gates.audio,
    SetContainment.setSpec(audioContainment, "audio_fp_sets", 5, audioFpsSpec),
    "corpus_fps",
    audioVariantIdsOf,
    // codec chain captured at plan time, shipped in the closure
    () => audioFpSeqWith(AudioCodecs.registered), 600000L)

  /** Audio near-dup ADMISSION CONTROL — [[audioContainment]]'s gate
    * over the q162 fingerprint discipline: gain-invariant energy-
    * profile fingerprints map-side (a polarity flip or exact gain
    * change at the crawler cannot evade the gate, and byte-level gates
    * provably cannot catch it), the persisted fingerprint postings and
    * sets, the ≤ 5×256-row relative-threshold stop list, and
    * containment ≥ 0.6. The SAME plan serves the q163 batch backfill
    * and a `readStream` gate (StreamingSpec proves identical flags,
    * RestartSpec proves recovery). */
  def audioAdmission(s: SparkSession, dir: String,
      incoming: DataFrame, decision: Boolean = false): DataFrame =
    audioContainment.admit(s, dir, incoming, decision)

  /** Deterministic incoming-audio feed for [[audioAdmission]]
    * ([[Gates.audio]]) over a documents frame: for doc_id % 4 == 0
    * audio docs, a POLARITY-INVERTED re-master under a new id
    * (energies exactly invariant — must flag its base at containment
    * 1.0, and byte gates provably cannot); for doc_id % 4 == 1 audio
    * docs, NOVEL audio (a WAV over the REVERSED text bytes — byte
    * pairs regroup, so the sample stream and its profile differ).
    * Both arms re-derivable in SQL sample by sample. */
  private[graft] def audioIncomingFixtureOf(docsDf: DataFrame): DataFrame = {
    val aud = docsDf
      .filter(pmod(col("doc_id"), lit(3)) === 1)
      .withColumn("rate", lit(8000L) + pmod(col("doc_id"), lit(8L)) * 1000L)
    val inv = aud.filter(pmod(col("doc_id"), lit(4)) === 0)
      .withColumn("body", encode(col("text"), "UTF-8"))
      .select((col("doc_id") + 6000000L).as("media_id"),
        wavOf(col("rate"), remasterBody("-%s")).as("payload"))
    val novel = aud.filter(pmod(col("doc_id"), lit(4)) === 1)
      .select((col("doc_id") + 7000000L).as("media_id"),
        wavOf(col("rate"), encode(reverse(col("text")), "UTF-8"))
          .as("payload"))
    inv.unionByName(novel)
  }

  /** q162: audio near-dup via gain-invariant energy-profile
    * fingerprints — the re-MASTER detector the byte-block path
    * provably cannot be: a polarity flip or gain change rewrites
    * every payload byte (q156's content hash and q157's
    * content-defined blocks share NOTHING), but the relative energy
    * profile — and hence the fingerprint set — survives. Pairs are
    * reported at `common·10⁶ div least(n_a, n_b) ≥ 600000`.
    *
    * The report is [[audioContainment]]'s, q157's shape over the
    * persisted fingerprint postings: the stop list is ≤ 5 × audioFpCap
    * rows by construction at any corpus size, and each row carries
    * ≤ [[audioFpCap]] fps, so candidate volume per row is
    * ≤ audioFpCap × df-threshold by construction. */
  def audioGainNearDups(s: SparkSession, dir: String): DataFrame =
    audioContainment.pairs(s, dir)

  // ---- media admission gate (E36/E41 discipline, media modality) ---------

  /** One incoming media row of a [[SetContainment]] gate's typed
    * decode stage. */
  case class InMediaRow(media_id: Long, payload: Array[Byte],
      arr_ts: java.sql.Timestamp)

  /** The media set-containment modality: the
    * [[mediaBlockPostingsIdx]] postings, per-media block sets
    * persisted as `media_block_sets` (`corpus_blocks`), content-defined
    * block signatures map-side (the same digest and container parse as
    * the batch decode) and containment ≥ 0.8. */
  private[graft] val mediaContainment: SetContainment = SetContainment(
    SigFamilies.mediaBlocks, Gates.media,
    SetContainment.setSpec(mediaContainment, "media_block_sets", 1,
      mediaBlockPostingsSpec),
    "corpus_blocks", df => mediaCorpusOf(df).select(col("media_id")),
    () => p => {
      val md = java.security.MessageDigest.getInstance("MD5")
      blockSigsOf(md, p, parseContainer(p)._4).distinct
    }, 800000L)

  /** Media NEAR-DUP ADMISSION CONTROL — [[mediaContainment]]'s gate
    * over the q157 block discipline: the persisted block postings and
    * sets, the ≤ 80-row relative-threshold stop list, and containment
    * ≥ 0.8. Candidate volume per incoming media is ≤ blockCap ×
    * df-threshold by construction; the SAME plan serves the q160 batch
    * backfill and a `readStream` gate (StreamingSpec proves identical
    * flags, RestartSpec proves recovery). */
  def mediaAdmission(s: SparkSession, dir: String,
      incoming: DataFrame, decision: Boolean = false): DataFrame =
    mediaContainment.admit(s, dir, incoming, decision)

  /** Deterministic incoming-media feed for [[mediaAdmission]]
    * ([[Gates.media]]) over a documents frame: for doc_id % 3 == 0, a
    * PNG RE-WRAP of the first HALF of the document's body (a
    * transcode+trim of corpus media — every block it carries is
    * shared, so containment is exactly 1.0 against its base and that
    * base's planted variants); for doc_id % 3 == 1, NOVEL media (a
    * JPEG over the REVERSED text bytes — no 64-byte chunk matches any
    * forward chunk). Both arms re-derivable in SQL. */
  private[graft] def mediaIncomingFixtureOf(docsDf: DataFrame): DataFrame = {
    val body = encode(col("text"), "UTF-8")
    val bodyLen = length(body).cast("bigint")
    val half = body.substr(lit(1), floor(bodyLen / 2).cast("int"))
    val rw = lit(16L) + pmod(col("doc_id"), lit(512L))
    val rh = lit(16L) + pmod(col("doc_id"), lit(384L))
    val reenc = concat(
      unhex(lit("89504E470D0A1A0A")), unhex(lit("0000000D49484452")),
      be(rw, 4), be(rh, 4), unhex(lit("080600000000000000")), half)
    val novelBody = encode(reverse(col("text")), "UTF-8")
    val nh = lit(90L) + pmod(col("doc_id"), lit(256L))
    val nw = lit(120L) + pmod(col("doc_id"), lit(320L))
    val novel = concat(
      unhex(lit("FFD8FFC0")), be(lit(11L), 2), unhex(lit("08")),
      be(nh, 2), be(nw, 2), unhex(lit("01011100")), novelBody)
    docsDf
      .select(explode(array(
        struct((col("doc_id") + 3000000L).as("media_id"),
          reenc.as("payload"),
          (pmod(col("doc_id"), lit(3)) === 0).as("keep")),
        struct((col("doc_id") + 4000000L).as("media_id"),
          novel.as("payload"),
          (pmod(col("doc_id"), lit(3)) === 1).as("keep")))).as("v"))
      .filter(col("v.keep"))
      .select(col("v.media_id").as("media_id"), col("v.payload").as("payload"))
  }

  // ---- q159: REAL pixel resample over an uncompressed raster -------------

  /** One raster row: a REAL binary PGM (P5) payload. */
  case class RasterRow(doc_id: Long, payload: Array[Byte])

  /** Decoded + resampled raster: `thumb_hex` is the RESAMPLED PIXEL
    * BYTES (uppercase hex) — not a stand-in hash. */
  case class RasterThumb(doc_id: Long, width: Long, height: Long,
      thumb_w: Long, thumb_h: Long, thumb_hex: String)

  /** Raster fixture: each document contributes a genuine binary PGM
    * (`P5\nW H\n255\n` + W·H grayscale bytes) whose pixel at (y, x) is
    * `(doc_id·31 + y·17 + x·7) mod 256` — fully re-derivable by the
    * oracle, so the resample output can be BYTE-verified. Dimensions
    * 9–24 px per edge: always larger than the 8-px thumb target, so
    * every row exercises a real downsample. Pure columnar byte math
    * (transform + array_join is linear in pixels — an aggregate-concat
    * fold would be O(n²) string copying), map-only. */
  private def rasterTable(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")
      .withColumn("w", lit(9L) + pmod(col("doc_id"), lit(16L)))
      .withColumn("h", lit(9L) + pmod(col("doc_id"), lit(12L)))
      // one byte-loop expression instead of ~8 interpreted exprs per
      // pixel (ObserveSpec pins byte-identity to the SQL synthesis)
      .select(col("doc_id"), graft.functions.GraftFx.pgmSynth(
        col("doc_id"), col("w"), col("h"), a = 31,
        yAdd = 17, yMod = 1, xAdd = 7, xMod = 1,
        xyAdd = 0, xyMod = 1, div = 1).as("payload"))

  /** GENUINE integer box-filter downsample inside the decode
    * `mapPartitions` boundary (the round-9 verdict's task 4: the one
    * documented simulation, retired for the raster container — PNG/
    * JPEG keep the documented codec boundary, q155). Parses the P5
    * header from the bytes (magic, ASCII dims — never trusting row
    * metadata), fits the geometry into 8×8 with the q155 law, and for
    * each target pixel averages its source block
    * `rows [ty·h/th, (ty+1)·h/th) × cols [tx·w/tw, (tx+1)·w/tw)` in
    * integer math (floor-div average) — the standard area-map box
    * filter. Unparseable payloads decode to zeros (T5). Map-only,
    * zero shuffles; at 100 TB this IS the thumbnail pipeline's kernel
    * shape, with the codec swap confined to the same boundary. */
  /** Hostile-input-safe P5 header parse → (width, height, pixel
    * offset), or None for anything implausible. Dimension digits
    * accumulate CLAMPED (never wrapping a Long) and each edge must
    * sit in (0, 2²⁰] BEFORE the w·h bound check, so a crafted header
    * whose product overflows to negative can never pass
    * `base + w*h ≤ length` and then index out of bounds inside a
    * streaming gate's mapPartitions — the T5 contract is "emit
    * nothing", never "crash the query" (r10 ADVICE). The 2²⁰ edge cap
    * makes w·h ≤ 2⁴⁰, overflow-free by construction. */
  private[graft] def pgmHeaderOf(p: Array[Byte]): Option[(Long, Long, Int)] = {
    var i = 0
    def ws(b: Byte): Boolean =
      b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def int(): Long = {
      while (i < p.length && ws(p(i))) i += 1
      var v = 0L
      while (i < p.length && p(i) >= '0' && p(i) <= '9') {
        v = math.min(v * 10 + (p(i) - '0'), 1L << 26); i += 1
      }
      v
    }
    if (p.length < 2 || p(0) != 'P' || p(1) != '5') None
    else {
      i = 2
      val w = int(); val h = int(); int() // maxval (255) — parsed, unused
      i += 1 // the single whitespace byte terminating the header
      val base = i
      if (w <= 0 || h <= 0 || w > (1L << 20) || h > (1L << 20) ||
          base.toLong + w * h > p.length) None
      else Some((w, h, base))
    }
  }

  /** The 8×8-law box-filter core over a row-major grayscale buffer
    * (pixel (y, x) at `pix(base + y·w + x)`): fits the geometry with
    * the q155 no-upscale law (both target edges ≤ their source edges,
    * so every block holds ≥ 1 pixel and the average can never divide
    * by zero) and floor-div-averages each source block — the standard
    * area-map box filter. Returns (thumb_w, thumb_h, thumb pixel
    * bytes as uppercase hex). ONE implementation shared by the PGM
    * (q159) and PNG (q166) thumbnail kernels: the codec varies at the
    * `mapPartitions` boundary, the resample math does not. */
  private def boxThumb8(pix: Array[Byte], base: Int, w: Long,
      h: Long): (Long, Long, String) = {
    val hexU = "0123456789ABCDEF"
    val tw = if (w <= 8 && h <= 8) w
      else if (w >= h) 8L else math.max(1L, w * 8 / h)
    val th = if (w <= 8 && h <= 8) h
      else if (w >= h) math.max(1L, h * 8 / w) else 8L
    val sb = new java.lang.StringBuilder((tw * th * 2).toInt)
    var ty = 0L
    while (ty < th) {
      var tx = 0L
      while (tx < tw) {
        val y0 = ty * h / th; val y1 = (ty + 1) * h / th
        val x0 = tx * w / tw; val x1 = (tx + 1) * w / tw
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += pix((base + y * w + x).toInt) & 0xFF; x += 1
          }
          y += 1
        }
        val av = sum / ((y1 - y0) * (x1 - x0))
        sb.append(hexU((av >> 4).toInt)).append(hexU((av & 0xF).toInt))
        tx += 1
      }
      ty += 1
    }
    (tw, th, sb.toString)
  }

  private[graft] def rasterDecode(
      rows: Iterator[RasterRow]): Iterator[RasterThumb] = {
    rows.map { r =>
      val p = r.payload
      pgmHeaderOf(p) match {
        case None => RasterThumb(r.doc_id, 0L, 0L, 0L, 0L, "")
        case Some((w, h, base)) =>
          val (tw, th, hex) = boxThumb8(p, base, w, h)
          RasterThumb(r.doc_id, w, h, tw, th, hex)
      }
    }
  }

  /** q159: the raster thumbnail relation — real container bytes in,
    * real resampled pixel bytes out, every byte re-derived by the
    * DuckDB oracle from the same pixel formula the fixture plants. */
  def rasterThumbnail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    rasterTable(s, dir).as[RasterRow]
      .mapPartitions(rasterDecode _)
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ---- q166: REAL PNG decode (JDK Inflater) + resample --------------------

  /** Paeth predictor (the PNG filter-4 reference function). */
  private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b)
    val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** REAL PNG encoder for the q166 fixture: a genuine non-interlaced
    * 8-bit grayscale PNG — signature, IHDR, a zlib-deflated IDAT
    * (java.util.zip.Deflater — SPLIT across two IDAT chunks so the
    * decoder's multi-chunk concatenation is exercised), IEND, every
    * chunk with its real CRC32. Scanline filters CYCLE through all
    * five PNG filter types (`y mod 5`: None/Sub/Up/Average/Paeth), so
    * the decoder's every unfilter arm decodes real data on every
    * image taller than 5 rows. The fixture pays this synthesis once,
    * inside the decode test path — at 100 TB real PNGs arrive as real
    * bytes. */
  private[graft] def pngOf(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    // filtered scanline stream: 1 filter byte + w filtered bytes/row
    val raw = new Array[Byte](h * (w + 1))
    var y = 0
    while (y < h) {
      val f = y % 5
      raw(y * (w + 1)) = f.toByte
      var x = 0
      while (x < w) {
        val cur = px(y, x) & 0xFF
        val left = if (x > 0) px(y, x - 1) & 0xFF else 0
        val up = if (y > 0) px(y - 1, x) & 0xFF else 0
        val ul = if (x > 0 && y > 0) px(y - 1, x - 1) & 0xFF else 0
        val v = f match {
          case 0 => cur
          case 1 => (cur - left) & 0xFF
          case 2 => (cur - up) & 0xFF
          case 3 => (cur - (left + up) / 2) & 0xFF
          case _ => (cur - paeth(left, up, ul)) & 0xFF
        }
        raw(y * (w + 1) + 1 + x) = v.toByte
        x += 1
      }
      y += 1
    }
    val defl = new java.util.zip.Deflater()
    defl.setInput(raw); defl.finish()
    val zBuf = new java.io.ByteArrayOutputStream()
    val tmp = new Array[Byte](4096)
    while (!defl.finished()) {
      val n = defl.deflate(tmp); zBuf.write(tmp, 0, n)
    }
    defl.end()
    val z = zBuf.toByteArray
    def be32(v: Long): Array[Byte] = Array((v >>> 24).toByte,
      (v >>> 16).toByte, (v >>> 8).toByte, v.toByte)
    def chunk(tag: String, data: Array[Byte]): Array[Byte] = {
      val crc = new java.util.zip.CRC32()
      crc.update(tag.getBytes("US-ASCII")); crc.update(data)
      be32(data.length.toLong) ++ tag.getBytes("US-ASCII") ++ data ++
        be32(crc.getValue)
    }
    val ihdr = be32(w.toLong) ++ be32(h.toLong) ++
      Array[Byte](8, 0, 0, 0, 0) // bit depth 8, grayscale, no interlace
    val (z1, z2) = z.splitAt(math.max(z.length / 2, 1))
    pngSig ++ chunk("IHDR", ihdr) ++ chunk("IDAT", z1) ++
      (if (z2.nonEmpty) chunk("IDAT", z2) else Array.empty[Byte]) ++
      chunk("IEND", Array.empty[Byte])
  }

  /** REAL PNG grayscale decoder inside the decode `mapPartitions`
    * boundary — the r10 verdict's task 4, retiring the compressed-
    * codec boundary for the PNG container (JPEG remains the one
    * documented boundary; its entropy decode has no JDK-built-in):
    * walks the chunk stream bounds-checked (length + type + data +
    * CRC), requires an IHDR declaring 8-bit grayscale (color type 0),
    * non-interlaced, with both edges in (0, 2²⁰] and the w·h product
    * overflow-free (the [[pgmHeaderOf]] hostile-header discipline),
    * CONCATENATES every IDAT chunk, inflates through
    * `java.util.zip.Inflater` demanding EXACTLY h·(w+1) filtered
    * bytes, and unfilters each scanline through all five PNG filter
    * types (None/Sub/Up/Average/Paeth). Returns the row-major pixel
    * buffer, or None for anything implausible, truncated, or
    * non-grayscale — the T5 contract is "emit nothing", never "crash
    * the query". */
  private[graft] def pngGrayOf(p: Array[Byte]): Option[(Long, Long, Array[Byte])] = {
    if (p.length < 8 + 25 || !pngSig.indices.forall(i => p(i) == pngSig(i)))
      None
    else {
      def be32(i: Int): Long = ((p(i) & 0xFFL) << 24) |
        ((p(i + 1) & 0xFFL) << 16) | ((p(i + 2) & 0xFFL) << 8) |
        (p(i + 3) & 0xFFL)
      var i = 8
      var w = 0L; var h = 0L
      var sawIhdr = false; var ok = true; var done = false
      val idat = new java.io.ByteArrayOutputStream()
      while (ok && !done && i + 8 <= p.length) {
        val len = be32(i)
        val tag = new String(p, i + 4, 4, "US-ASCII")
        val dataAt = i + 8
        if (len > Int.MaxValue - 12 || dataAt + len + 4 > p.length) ok = false
        else {
          tag match {
            case "IHDR" =>
              if (sawIhdr || len != 13) ok = false
              else {
                w = be32(dataAt); h = be32(dataAt + 4)
                val depth = p(dataAt + 8) & 0xFF
                val color = p(dataAt + 9) & 0xFF
                val interlace = p(dataAt + 12) & 0xFF
                sawIhdr = true
                if (w <= 0 || h <= 0 || w > (1L << 20) || h > (1L << 20) ||
                    depth != 8 || color != 0 || interlace != 0) ok = false
              }
            case "IDAT" =>
              if (!sawIhdr) ok = false
              else idat.write(p, dataAt, len.toInt)
            case "IEND" => done = true
            case _ => () // ancillary chunks skip silently
          }
          i = dataAt + len.toInt + 4
        }
      }
      if (!ok || !sawIhdr || !done) None
      // the inflate TARGET is attacker-controlled through the IHDR
      // dims while the payload stays tiny (the zip-bomb shape): cap
      // the decoded pixel budget BEFORE allocating — 2²⁶ filtered
      // bytes (64 MiB) is far above any plausible raster and far
      // below a bomb; without this, h·(w+1) up to 2⁴⁰ would wrap the
      // Int allocation negative or OOM the executor (E180 class)
      else if (h * (w + 1) > (1L << 26)) None
      else {
        val want = (h * (w + 1)).toInt
        val raw = new Array[Byte](want)
        val inf = new java.util.zip.Inflater()
        inf.setInput(idat.toByteArray)
        try {
          var got = 0
          var stalled = false
          while (got < want && !inf.finished() && !stalled) {
            val n = inf.inflate(raw, got, want - got)
            // needsDictionary() is the THIRD zero-progress state: a
            // zlib header with the FDICT bit set makes inflate()
            // return 0 forever with finished()==false and
            // needsInput()==false — without treating it as a stall a
            // crafted crawler payload hangs the executor (a preset
            // dictionary is never legal in PNG zlib streams, so
            // rejecting to None is the correct decode)
            if (n == 0 && (inf.finished() || inf.needsInput() ||
                inf.needsDictionary())) stalled = true
            got += n
          }
          if (got != want) None
          else {
            // unfilter in place, row by row (left/up refer to the
            // already-reconstructed bytes)
            val pix = new Array[Byte]((w * h).toInt)
            var y = 0
            while (y < h) {
              val f = raw(y * (w + 1).toInt) & 0xFF
              if (f > 4) return None
              var x = 0
              while (x < w) {
                val v = raw(y * (w + 1).toInt + 1 + x) & 0xFF
                val left = if (x > 0) pix((y * w + x - 1).toInt) & 0xFF else 0
                val up = if (y > 0) pix(((y - 1) * w + x).toInt) & 0xFF else 0
                val ul = if (x > 0 && y > 0)
                  pix(((y - 1) * w + x - 1).toInt) & 0xFF else 0
                val r = f match {
                  case 0 => v
                  case 1 => (v + left) & 0xFF
                  case 2 => (v + up) & 0xFF
                  case 3 => (v + (left + up) / 2) & 0xFF
                  case _ => (v + paeth(left, up, ul)) & 0xFF
                }
                pix((y * w + x).toInt) = r.toByte
                x += 1
              }
              y += 1
            }
            Some((w, h, pix))
          }
        } catch {
          case _: java.util.zip.DataFormatException => None
        } finally inf.end()
      }
    }
  }

  /** PNG fixture: each document contributes a REAL zlib-compressed
    * grayscale PNG (built by [[pngOf]] — genuine IHDR/IDAT/IEND with
    * CRCs, scanline filters cycling through all five types) whose
    * pixel at (y, x) is `(doc_id·37 + y·13 + x·5 + y·x·(2 + doc_id
    * mod 5)) mod 256` — fully re-derivable by the oracle from
    * arithmetic alone, so the decode + resample output is
    * byte-verified end to end THROUGH the compression. Synthesis runs
    * in the same `mapPartitions` boundary the decoder lives in. */
  private[graft] def pngTable(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        (lit(9L) + pmod(col("doc_id"), lit(20L))).as("w"),
        (lit(9L) + pmod(col("doc_id"), lit(14L))).as("h"))
      .as[(Long, Long, Long)]
      .mapPartitions(rows => rows.map { case (id, w, h) =>
        (id, pngOf(w.toInt, h.toInt, (y, x) =>
          ((id * 37 + y * 13 + x * 5 + y.toLong * x * (2 + id % 5))
            % 256).toInt))
      })
      .toDF("doc_id", "payload")
  }

  /** q166: the PNG thumbnail relation — real compressed container
    * bytes in, real resampled pixel bytes out ([[pngGrayOf]] →
    * [[boxThumb8]], the q159 law), every byte re-derived by the
    * DuckDB oracle from the planted pixel formula. Map-only, zero
    * shuffles — at 100 TB this IS the compressed-image thumbnail
    * pipeline's kernel shape. */
  def pngThumbnail(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    pngTable(s, dir).as[RasterRow]
      .mapPartitions(rows => rows.map { r =>
        pngGrayOf(r.payload) match {
          case None => RasterThumb(r.doc_id, 0L, 0L, 0L, 0L, "")
          case Some((w, h, pix)) =>
            val (tw, th, hex) = boxThumb8(pix, 0, w, h)
            RasterThumb(r.doc_id, w, h, tw, th, hex)
        }
      })
      .toDF()
      .orderBy(col("doc_id"))
  }

  // ---- q168: REAL JPEG decode (JDK ImageIO) — the last codec boundary ----

  /** The JPEG reader/writer SERVICE PROVIDERS, resolved from the
    * ImageIO registry ONCE per JVM (lazy) instead of per row:
    * `getImageReaders`/`getImageWritersByFormatName` walk the SPI
    * registry on every call — pure lookup churn inside a
    * `mapPartitions` hot path. SPIs are stateless/thread-safe; the
    * per-row `createReaderInstance`/`createWriterInstance` stays,
    * because reader/writer INSTANCES are not. */
  private lazy val jpegReaderSpi: Option[javax.imageio.spi.ImageReaderSpi] = {
    val it = javax.imageio.ImageIO.getImageReadersByFormatName("jpeg")
    if (it.hasNext) Option(it.next().getOriginatingProvider) else None
  }
  private lazy val jpegWriterSpi: javax.imageio.spi.ImageWriterSpi =
    javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
      .getOriginatingProvider

  /** REAL baseline-JPEG encoder for the q168 fixture — the JDK's own
    * `javax.imageio` writer (headless-safe), quality 0.95, grayscale:
    * genuine DCT + quantization + Huffman entropy coding, no external
    * dependency. */
  private[graft] def jpegOf(w: Int, h: Int, px: (Int, Int) => Int): Array[Byte] = {
    val img = new java.awt.image.BufferedImage(w, h,
      java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        img.getRaster.setSample(x, y, 0, px(y, x) & 0xFF); x += 1
      }
      y += 1
    }
    val bos = new java.io.ByteArrayOutputStream()
    val wr = jpegWriterSpi.createWriterInstance()
    try {
      val p = wr.getDefaultWriteParam
      p.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
      p.setCompressionQuality(0.95f)
      wr.setOutput(new javax.imageio.stream.MemoryCacheImageOutputStream(bos))
      wr.write(null, new javax.imageio.IIOImage(img, null, null), p)
    } finally wr.dispose()
    bos.toByteArray
  }

  /** REAL JPEG grayscale decode inside the decode `mapPartitions`
    * boundary — the LAST codec boundary retired (q159 PGM, q166 PNG,
    * now JPEG): the JDK's `javax.imageio` JPEG reader performs the
    * genuine Huffman entropy decode + dequantize + IDCT. Hostile or
    * truncated payloads return None (`ImageIO.read` yields null or
    * throws — both are T5's "emit nothing"); decoded dims are capped
    * by the E180 plausibility rule. JPEG is LOSSY, so unlike
    * q159/q166 the recovered pixels are near-equal, not byte-equal,
    * to the source — the honesty split q168 encodes: dims verify
    * EXACTLY against the oracle's arithmetic; pixel fidelity verifies
    * as a bounded reconstruction error, and the decoder itself is
    * pinned by the ObserveSpec roundtrip (encoder and decoder are
    * independent library paths). */
  private[graft] def jpegGrayOf(p: Array[Byte]): Option[(Long, Long, Array[Byte])] = {
    if (p.length < 3 || (p(0) & 0xFF) != 0xFF || (p(1) & 0xFF) != 0xD8) None
    else try {
      // dims gate BEFORE the pixel decode: `ImageIO.read` allocates
      // the full raster up front, so a forged 65k×65k header would
      // OOM the executor before any cap ran — read the header only,
      // bound the pixel budget, then decode (E180 class).
      // MemoryCacheImageInputStream is constructed DIRECTLY:
      // `ImageIO.createImageInputStream` consults the global useCache
      // flag (default TRUE) and buffers every row's bytes through a
      // FileCacheImageInputStream temp file in java.io.tmpdir — at
      // 10⁹ images that is per-row executor-local file churn, and a
      // read-only or full tmpdir would make the decode THROW and T5
      // silently drop VALID images (the r11 weak item). The bytes are
      // already in memory; no cache belongs here at all.
      val iis = new javax.imageio.stream.MemoryCacheImageInputStream(
        new java.io.ByteArrayInputStream(p))
      // A reader registered WITHOUT an SPI makes getOriginatingProvider
      // null — jpegReaderSpi would then be None on this JVM forever.
      // Falling back to the per-row registry walk keeps valid JPEGs
      // decoding (slower, but correct) instead of silently T5-dropping
      // every image; only a registry with NO jpeg reader at all yields
      // None here, and that is a genuine "cannot decode".
      val reader = jpegReaderSpi match {
        case Some(spi) => spi.createReaderInstance()
        case None =>
          val it = javax.imageio.ImageIO.getImageReaders(iis)
          if (!it.hasNext) { iis.close(); return None }
          it.next()
      }
      val img = try {
        reader.setInput(iis)
        val hw = reader.getWidth(0).toLong; val hh = reader.getHeight(0).toLong
        if (hw <= 0 || hh <= 0 || hw * hh > (1L << 26)) null
        else reader.read(0)
      } finally { reader.dispose(); iis.close() }
      if (img == null) None
      else {
        val w = img.getWidth.toLong; val h = img.getHeight.toLong
        if (w <= 0 || h <= 0 || w > (1L << 20) || h > (1L << 20)) None
        else {
          val r = img.getRaster
          val bands = r.getNumBands
          val pix = new Array[Byte]((w * h).toInt)
          var y = 0
          while (y < h) {
            var x = 0
            while (x < w) {
              // gray = band 0 for grayscale JPEGs; average for color
              val v =
                if (bands == 1) r.getSample(x, y.toInt, 0)
                else {
                  var s = 0; var b = 0
                  while (b < bands) { s += r.getSample(x, y.toInt, b); b += 1 }
                  s / bands
                }
              pix((y * w + x).toInt) = v.toByte
              x += 1
            }
            y += 1
          }
          Some((w, h, pix))
        }
      }
      // hostile containers can fail anywhere inside the codec — any
      // non-fatal failure is T5's "emit nothing", never a crash
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** q168: the JPEG decode relation — each document contributes a
    * REAL baseline JPEG ([[jpegOf]] — genuine DCT/Huffman bytes)
    * whose SOURCE pixels derive from arithmetic; the kernel decodes
    * through the JDK's entropy decoder and emits the parsed geometry
    * plus `within_tol` = max per-pixel reconstruction error ≤ 32.
    * The bound is sized from MEASUREMENT, not guesswork (ADVICE r11):
    * the measured max error over the ENTIRE fixture family (5,000
    * ids, every (w, h, phase) the dims law produces) is 8 on the
    * in-tree codec (OpenJDK 17's com.sun.imageio JPEG plugin, the
    * pinned environment — build.sbt targets Java 17), so 32 carries
    * 4× headroom for JDK codec drift while staying far below the
    * ~128-class mean error a decoder that mis-parsed scanlines, dims,
    * or components would produce — the failure modes the flag exists
    * to catch. If this flag ever trips on a correct-looking decode,
    * suspect a CHANGED ImageIO plugin (a different JDK or a
    * registered third-party codec) before suspecting the kernel. The
    * oracle re-derives dims and pixel count from arithmetic and pins
    * `within_tol` = true for every row. Map-only, zero shuffles. */
  def jpegDecode(s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    Tables.load(s, dir, "documents")
      .select(col("doc_id"),
        (lit(16L) + pmod(col("doc_id"), lit(16L))).as("w"),
        (lit(16L) + pmod(col("doc_id"), lit(12L))).as("h"))
      .as[(Long, Long, Long)]
      .mapPartitions(rows => rows.map { case (id, w, h) =>
        def px(y: Int, x: Int): Int =
          ((id * 31 + y.toLong * 5 + x.toLong * 3) % 256).toInt
        val enc = jpegOf(w.toInt, h.toInt, px)
        jpegGrayOf(enc) match {
          case None => (id, 0L, 0L, 0L, false)
          case Some((dw, dh, pix)) =>
            var maxErr = 0
            var y = 0
            while (y < dh) {
              var x = 0
              while (x < dw) {
                val e = math.abs((pix((y * dw + x).toInt) & 0xFF) - px(y, x.toInt))
                if (e > maxErr) maxErr = e
                x += 1
              }
              y += 1
            }
            (id, dw, dh, dw * dh, maxErr <= 32)
        }
      })
      .toDF("doc_id", "width", "height", "n_pixels", "within_tol")
      .orderBy(col("doc_id"))
  }

  // ---- q164: perceptual raster dedup over REAL pixels (image q162) -------

  /** Raster corpus WITH PLANTED RE-MASTERS — the image analog of the
    * audio gain fixture: a HALF-BRIGHTNESS re-master (every pixel
    * floor-halved — a -1-stop exposure change) of every doc_id % 6
    * == 0 raster under `raster_id = doc_id + 8_000_000`. The
    * re-master rewrites essentially every payload byte AND every
    * resampled thumbnail byte (q159's averages halve), so neither
    * exact hashing nor resample-byte equality can pair it — only a
    * perceptual bit pattern relative to the image's OWN mean
    * survives an exposure change.
    *
    * The corpus is CONTAINER-MIXED (the r12 weak item): on the real
    * web canonical images are overwhelmingly PNG/JPEG, not raw
    * rasters, so a P5-only corpus fixture lets a P5-only index arm
    * pass every gate test while silently never flagging duplicates
    * of PNG/JPEG originals. Two arms plant exactly that population:
    * doc_id % 9 == 6 → a REAL zlib PNG ([[pngOf]]) of a distinct
    * structural family (`raster_id = doc_id + 8_100_000`);
    * doc_id % 9 == 7 → a REAL baseline JPEG ([[jpegOf]]) at 40×40
    * whose 5×5-aligned cells rail at 220/30 per [[jpegCorpusWord]]
    * (`+ 8_200_000`) — the q169 lossy-determinism contract (popcount
    * ∈ [8, 56] on both engine and oracle sides), so its decoded
    * ahash IS the word exactly. */
  /** Family-C pixels — the PNG corpus arm's imagery, shared by the
    * corpus synthesis and the q175 incoming re-master so the two
    * Scala sides cannot drift (`duckFamC` is the SQL twin, and the
    * ObserveSpec index arm keeps its own independent re-derivation).
    * Coefficients are disjoint from the base (*31) and novel (*47)
    * families so corpus containers carry their OWN imagery, and the
    * moduli are PRIME (17/19/23) to keep the formula space large
    * (E206: small moduli gave only ~27k distinct formulas, so at the
    * 100× decade family-C images genuinely duplicated cross-id and
    * the df/pair grids measured the FIXTURE's entropy, not the
    * engine — the low-entropy-imagery realism bug). */
  private[graft] def famCPixel(id: Long)(y: Int, x: Int): Int =
    ((id * 53 + y.toLong * (7 + id % 17) + x.toLong * (13 + id % 19)
      + y.toLong * x * (3 + id % 23)) % 256).toInt

  private[graft] def rasterVariantTableOf(docsDf: DataFrame): DataFrame = {
    // NOT q159's shared gradient: the fixture must carry per-image
    // STRUCTURE (doc-dependent row/col/cross coefficients) or every
    // raster is the same gradient family and the perceptual hashes of
    // unrelated images legitimately collide corpus-wide (measured:
    // 110k pairs at sf0.1 under the shared formula, 934 under this
    // one — low-entropy imagery is a fixture realism bug, not an
    // operator input). Synthesis runs through the pgm_synth byte-loop
    // expression (ObserveSpec pins byte-identity to the SQL form).
    def pgmBase(div: Long): Column = graft.functions.GraftFx.pgmSynth(
      col("doc_id"), col("w"), col("h"), a = 31,
      yAdd = 11, yMod = 13, xAdd = 5, xMod = 11,
      xyAdd = 1, xyMod = 7, div = div)
    val p5 = docsDf
      .withColumn("w", lit(9L) + pmod(col("doc_id"), lit(16L)))
      .withColumn("h", lit(9L) + pmod(col("doc_id"), lit(12L)))
      .select(explode(array(
        struct(col("doc_id").as("raster_id"),
          pgmBase(1).as("payload"), lit(true).as("keep")),
        struct((col("doc_id") + 8000000L).as("raster_id"),
          pgmBase(2).as("payload"),
          (pmod(col("doc_id"), lit(6)) === 0).as("keep")))).as("v"))
      .filter(col("v.keep"))
      .select(col("v.raster_id").as("raster_id"),
        col("v.payload").as("payload"))
    val sess = docsDf.sparkSession
    import sess.implicits._
    val mixed = docsDf
      .filter(pmod(col("doc_id"), lit(9)) === 6 ||
        pmod(col("doc_id"), lit(9)) === 7)
      .select(col("doc_id"),
        (lit(9L) + pmod(col("doc_id"), lit(16L))).as("w"),
        (lit(9L) + pmod(col("doc_id"), lit(12L))).as("h"))
      .as[(Long, Long, Long)]
      .mapPartitions(rows => rows.flatMap { case (id, w, h) =>
        if (id % 9 == 6) {
          Iterator.single((id + 8100000L,
            pngOf(w.toInt, h.toInt, famCPixel(id))))
        } else {
          val bits = jpegCorpusWord(id)
          val pc = java.lang.Long.bitCount(bits)
          // the determinism contract: words too close to all-0/all-1
          // could rail the mean against a cell average — skipped on
          // BOTH sides (fixture and oracle), same as q169's incoming
          if (pc < 8 || pc > 56) Iterator.empty
          else Iterator.single((id + 8200000L, jpegOf(40, 40, (y, x) => {
            val cell = (y / 5) * 8 + (x / 5)
            if ((bits & (1L << cell)) != 0L) 220 else 30
          })))
        }
      })
      .toDF("raster_id", "payload")
    p5.unionByName(mixed)
  }

  private[graft] def rasterVariantTable(
      s: SparkSession, dir: String): DataFrame =
    rasterVariantTableOf(Tables.load(s, dir, "documents"))

  /** GENUINE average-hash kernel inside the decode `mapPartitions`
    * boundary: parses the P5 container, box-filters the REAL pixels
    * to a fixed 8×8 grid (area-map blocks, floor-div average — the
    * q159 kernel's math with a fixed target), and emits one bit per
    * cell — `cell > mean of the 64 cells` — packed row-major into a
    * 64-bit signature (bit i = cell i). The bit pattern compares each
    * region to the image's OWN mean, so any monotone global exposure
    * change (gain, halving) preserves it up to rounding at the mean —
    * the invariance axis byte-level dedup cannot have. Unparseable or
    * sub-8×8 payloads emit no signature (T5). */
  private[graft] def rasterAHashOf(p: Array[Byte]): Option[Long] =
    pgmHeaderOf(p) match {
      case Some((w, h, base)) if w >= 8 && h >= 8 =>
        Some(ahashOfPixels(p, base, w, h))
      case _ => None
    }

  /** The average-hash core over a row-major grayscale buffer — shared
    * by the PGM and PNG faces: the signature describes PIXELS, not a
    * container, which is exactly why a re-CONTAINER (PGM → PNG)
    * cannot evade it. */
  private def ahashOfPixels(pix: Array[Byte], base: Int, w: Long,
      h: Long): Long = {
    val cells = new Array[Long](64)
    var total = 0L
    var ty = 0
    while (ty < 8) {
      var tx = 0
      while (tx < 8) {
        val y0 = ty * h / 8; val y1 = (ty + 1) * h / 8
        val x0 = tx * w / 8; val x1 = (tx + 1) * w / 8
        var sum = 0L
        var y = y0
        while (y < y1) {
          var x = x0
          while (x < x1) {
            sum += pix((base + y * w + x).toInt) & 0xFF; x += 1
          }
          y += 1
        }
        val av = sum / ((y1 - y0) * (x1 - x0))
        cells(ty * 8 + tx) = av
        total += av
        tx += 1
      }
      ty += 1
    }
    val mean = total / 64
    var hash = 0L
    var j = 0
    while (j < 64) {
      if (cells(j) > mean) hash |= (1L << j)
      j += 1
    }
    hash
  }

  /** CONTAINER-AGNOSTIC average hash: a payload may arrive as a raw
    * P5 raster, a zlib-compressed PNG, or a lossy baseline JPEG — the
    * gate signatures the PIXELS all three ways (a crawler
    * re-container rewrites every byte and every container field, so
    * byte- and container-level gates provably cannot pair it; the
    * perceptual hash is identical by construction for the lossless
    * codecs, and identical up to the codec's bounded reconstruction
    * error — which only bits whose cell averages TIE the image mean
    * can feel — for JPEG, the web's most common re-container). Each
    * arm is gated by its own cheap magic-byte check, so the codec
    * attempts never overlap. Anything else emits nothing (T5). */
  private[graft] def rasterAHashAnyOf(p: Array[Byte]): Option[Long] =
    rasterAHashOf(p).orElse(pngGrayOf(p).collect {
      case (w, h, pix) if w >= 8 && h >= 8 => ahashOfPixels(pix, 0, w, h)
    }).orElse(jpegGrayOf(p).collect {
      case (w, h, pix) if w >= 8 && h >= 8 => ahashOfPixels(pix, 0, w, h)
    })

  /** The (raster_id, ahash) signatures PERSISTED segmented
    * (`raster_ahash`): parse+resample+hash paid once per raster ever;
    * per-raster rows never span source files, so a takedown excises
    * one segment (E157/E163 discipline). The CORPUS side hashes with
    * the same container-agnostic arm as the gate's incoming side
    * ([[rasterAHashAnyOf]]) — the r12 weak item: a P5-only corpus arm
    * builds an EMPTY index for PNG/JPEG canonical images (the
    * dominant real-web case) and the gate silently never flags their
    * duplicates. version 3 = the AnyOf switch + the container-mixed
    * fixture arms; versions 4-5 = the fixture-entropy fixes (family-C
    * prime moduli, md5-parity planted words)
    * (changed build logic MUST bump, or the store serves the stale
    * index; the band stops and the gate ledger declare this spec
    * upstream, so the bump rebuilds them too). */
  private[graft] val rasterAHashSpec: ArtifactSpec = ArtifactSpec(
    "raster_ahash", 5, "documents", Decomp.Segmented((s, _) =>
      files => {
        val sess = s
        import sess.implicits._
        rasterVariantTableOf(Tables.scan(s, files)
            .repartition(s.sparkContext.defaultParallelism))
          .withColumnRenamed("raster_id", "doc_id")
          .as[RasterRow]
          .mapPartitions(rows => rows.flatMap(r =>
            rasterAHashAnyOf(r.payload).iterator.map(hsh =>
              (r.doc_id, hsh))))
          .toDF("raster_id", "ahash")
      }))

  private[graft] def rasterAHashIdx(
      s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, rasterAHashSpec, dir)

  /** Raster corpus size for the relative band-stop threshold — ONE
    * footer count over the persisted signature artifact
    * (shared by q164, the q165 gate, and the df probe). The threshold
    * is SIGNATURE-relative by definition (band df is a property of
    * the signature relation), so counting the artifact tracks
    * whatever arms the fixture plants — a parallel arithmetic twin
    * drifted the moment the corpus went container-mixed (the JPEG arm
    * is popcount-restricted, which arithmetic over `documents` alone
    * cannot see without re-deriving the word). */
  private[graft] def nRasterCorpus(s: SparkSession, dir: String): Long =
    IndexStore.rowCount(s, rasterAHashSpec, dir)

  /** q164: perceptual near-dup over the REAL raster pixels — pairs
    * whose 8×8 average-hash signatures sit within Hamming distance 1
    * (the exposure re-master flips at most the cells that TIE the
    * halved mean). Radius is a SCALE variable, not a tuning knob: a
    * 64-bit perceptual hash is low-entropy on structured imagery, so
    * the pair population at radius r carries an n²·P(d≤r) coincidence
    * term that grows with the radius (measured at sf0.1: 934 pairs at
    * r=1, 2,008 at r=3, recall 96% vs 100%) — wide-radius grouping
    * belongs to the CLUSTER view (q63's connected components over the
    * pair graph), not to pair enumeration.
    * An exposure re-master (every pixel halved) rewrites every
    * payload byte and every q159 thumbnail byte, so exact and
    * resample-byte dedup provably cannot pair it; the mean-relative
    * bit pattern survives.
    *
    * Scale shape is q107's EXACT Hamming-ball discipline on a new
    * modality: 2 bands × 32 bits over the signature — the pigeonhole
    * bound needs exactly r+1 bands at radius r (a pair within
    * Hamming 1 differs in at most 1 band, so at least one band
    * matches exactly), and band WIDTH is the coincidence-term dial:
    * unrelated images band-collide at rate ~n²/universe per band, so
    * the 32-bit universe (4.3×10⁹) pushes chance candidates out past
    * 10⁹ rasters where a 16-bit universe (65,536 — low-entropy
    * perceptual hashes saturate it on structured imagery) grows them
    * linearly with n. A 4×16 layout returns ONLY with a radius-3
    * variant, where pigeonhole genuinely needs 4 bands. Candidates
    * come from the band equi-join, never all-pairs. Band buckets hotter than the corpus-relative
    * threshold (flat/boilerplate imagery — df > max(64, n/5), stop
    * rows ≤ 2·5 = 10 BY CONSTRUCTION since each raster carries
    * exactly 2 band rows) are anti-joined out on both sides:
    * boilerplate cannot name a near-dup relation (the q157/q162
    * rule), documented as the one exactness trade. Signatures are
    * the persisted [[rasterAHashIdx]] artifact. */
  def rasterPerceptualDups(s: SparkSession, dir: String): DataFrame = {
    val hashes = rasterAHashIdx(s, dir).localCheckpoint()
    val bands = SigFamily.bands(hashes, "ahash", "raster_id", "ahash")
    val stop = SigFamilies.rasterBands.stops(s, dir)
    val rare = bands.join(broadcast(stop), Seq("b", "bh"), "left_anti")
    rare.as("x").join(rare.as("y"), Seq("b", "bh"))
      .filter(col("x.raster_id") < col("y.raster_id"))
      .select(col("x.raster_id").as("raster_a"),
        col("y.raster_id").as("raster_b"),
        bit_count(col("x.ahash").bitwiseXOR(col("y.ahash")))
          .cast("bigint").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 1)
      .orderBy(col("raster_a"), col("raster_b"))
  }

  // ---- q165: raster admission gate (the admission trio's image leg) ------

  /** One incoming raster row of [[rasterAdmission]]'s typed decode
    * stage. */
  case class InRasterRow(raster_id: Long, payload: Array[Byte],
      arr_ts: java.sql.Timestamp)

  /** Raster near-dup ADMISSION CONTROL — the image leg of the
    * admission trio (media blocks q160, audio fingerprints q163):
    * an incoming raster average-hashes MAP-SIDE (the q164 kernel —
    * an exposure re-master at the crawler rewrites every byte, so
    * byte-level gates provably cannot catch it), its 2 × 32-bit bands
    * collide stream-static against the persisted [[rasterAHashIdx]]
    * band relation (pigeonhole-lossless at Hamming ≤ 1, chance band
    * collisions negligible — [[SigFamily.bands]]), candidates dedup
    * within a watermark, and the verify is IN-ROW `bit_count(xor)` —
    * the corpus hash rides the posting, so this gate needs no set
    * artifact at all. Stop buckets (≤ 10 rows BY CONSTRUCTION, the
    * E176 bound) are anti-joined on both sides. Emits
    * (in_id, corpus_id, hamming ≤ 1); same plan batch (q165) and
    * `readStream`. */
  def rasterAdmission(s: SparkSession, dir: String,
      incoming: DataFrame, decision: Boolean = false): DataFrame = {
    import s.implicits._
    val hashes = rasterAHashIdx(s, dir)
    val corpusBands = SigFamily.bands(
      hashes.withColumnRenamed("raster_id", "corpus_id")
        .withColumnRenamed("ahash", "corpus_hash"),
      "corpus_hash", "corpus_id", "corpus_hash")
    // persisted stop artifact: never re-folded per trigger (E174) and
    // never re-folded per gate START either — an artifact read
    val stop = SigFamilies.rasterBands.stops(s, dir)
    val corpusRare = corpusBands
      .join(broadcast(stop), Seq("b", "bh"), "left_anti")
    Gates.raster.admit(incoming, decision)(
      stage = _.select(col("raster_id").cast("long").as("raster_id"),
          col("payload"), col("arr_ts")).as[InRasterRow]
        .mapPartitions(rows =>
          rows.flatMap(r => rasterAHashAnyOf(r.payload).iterator.map(hsh =>
            (r.raster_id, r.arr_ts, hsh))))
        .toDF("in_id", "arr_ts", "in_hash"),
      // a pair matching on both bands appears twice
      candidates = Candidates.Probes(
        SigFamily.bands(_, "in_hash", "in_id", "arr_ts", "in_hash")
        .join(broadcast(stop), Seq("b", "bh"), "left_anti")
        .join(corpusRare, Seq("b", "bh"))
        .select(col("in_id"), col("arr_ts"), col("in_hash"),
          col("corpus_id"), col("corpus_hash"))),
      verify = Verify.InRow(_
        .withColumn("hamming",
          bit_count(col("in_hash").bitwiseXOR(col("corpus_hash")))
            .cast("bigint"))
        .filter(col("hamming") <= 1)))
  }

  /** Deterministic incoming-raster feed for [[rasterAdmission]]
    * ([[Gates.raster]]) over a documents frame: for doc_id % 9 == 0, a
    * QUARTER-brightness re-master of the base raster under a new id
    * (monotone exposure change — must flag its base); for
    * doc_id % 9 == 1, NOVEL imagery (a different structural family:
    * swapped row/col coefficients and a different cross term). Both
    * re-derivable in SQL from arithmetic alone. */
  private[graft] def rasterIncomingFixtureOf(docsDf: DataFrame): DataFrame = {
    // quarter-brightness base family and the novel family, both via
    // the pgm_synth byte-loop expression (byte-identity pinned by
    // ObserveSpec against the SQL synthesis this replaced)
    val quarter = graft.functions.GraftFx.pgmSynth(
      col("doc_id"), col("w"), col("h"), a = 31,
      yAdd = 11, yMod = 13, xAdd = 5, xMod = 11,
      xyAdd = 1, xyMod = 7, div = 4)
    val novel = graft.functions.GraftFx.pgmSynth(
      col("doc_id"), col("w"), col("h"), a = 47,
      yAdd = 5, yMod = 11, xAdd = 11, xMod = 13,
      xyAdd = 2, xyMod = 5, div = 1)
    docsDf
      .withColumn("w", lit(9L) + pmod(col("doc_id"), lit(16L)))
      .withColumn("h", lit(9L) + pmod(col("doc_id"), lit(12L)))
      .select(explode(array(
        struct((col("doc_id") + 9000000L).as("raster_id"),
          quarter.as("payload"),
          (pmod(col("doc_id"), lit(9)) === 0).as("keep")),
        struct((col("doc_id") + 9500000L).as("raster_id"),
          novel.as("payload"),
          (pmod(col("doc_id"), lit(9)) === 1).as("keep")))).as("v"))
      .filter(col("v.keep"))
      .select(col("v.raster_id").as("raster_id"),
        col("v.payload").as("payload"))
  }

  /** Deterministic PNG incoming fixture for the CROSS-CONTAINER face
    * (q167): for doc_id % 9 == 2, a real zlib PNG ([[pngOf]]) of the
    * HALF-BRIGHTNESS base pixels under `raster_id = doc_id +
    * 9_800_000` — a re-container AND an exposure re-master at once,
    * so the payload shares zero bytes with the corpus PGM, zero
    * container structure, and zero resample bytes; for doc_id % 9 ==
    * 3, a PNG of the NOVEL structural family (`+ 9_900_000`) that
    * must pass silently. Pixels re-derivable from arithmetic. */
  private[graft] def pngIncomingFixture(
      s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(9)) === 2 ||
        pmod(col("doc_id"), lit(9)) === 3)
      .select(col("doc_id"),
        (lit(9L) + pmod(col("doc_id"), lit(16L))).as("w"),
        (lit(9L) + pmod(col("doc_id"), lit(12L))).as("h"))
      .as[(Long, Long, Long)]
      .mapPartitions(rows => rows.map { case (id, w, h) =>
        val half = id % 9 == 2
        val rid = if (half) id + 9800000L else id + 9900000L
        val px: (Int, Int) => Int =
          if (half) (y, x) =>
            (((id * 31 + y.toLong * (11 + id % 13) + x.toLong * (5 + id % 11)
              + y.toLong * x * (1 + id % 7)) % 256) / 2).toInt
          else (y, x) =>
            ((id * 47 + y.toLong * (5 + id % 11) + x.toLong * (11 + id % 13)
              + y.toLong * x * (2 + id % 5)) % 256).toInt
        (rid, pngOf(w.toInt, h.toInt, px))
      })
      .toDF("raster_id", "payload")
  }

  /** q167: CROSS-CONTAINER perceptual admission — the same gate
    * ([[rasterAdmission]], whose decode is container-agnostic via
    * [[rasterAHashAnyOf]]) fed PNG payloads: a crawler that
    * re-containers a corpus image (PGM → zlib PNG) AND re-masters its
    * exposure shares ZERO payload bytes, ZERO container fields, and
    * ZERO resample bytes with the corpus — q156's hash, q157's
    * blocks, and q159/q166's thumbs all provably miss it — but the
    * pixels' mean-relative bit pattern survives both transforms, so
    * the perceptual gate flags it against its PGM base. Novel-family
    * PNGs pass silently. */
  def pngCrossContainerAdmission(s: SparkSession, dir: String): DataFrame =
    rasterAdmission(s, dir, pngIncomingFixture(s, dir))
      .orderBy(col("in_id"), col("corpus_id"))

  /** A planted 64-bit word from md5 parities — the E178 discipline
    * (collision-free digest universes) applied to the raster word
    * fixtures. The previous arithmetic generators ((id·A + (j+1)·B)
    * mod p, parity) are NOT usable here: the parity sequence along j
    * is a wrap-pattern whose shape correlates across ids (measured:
    * hundreds of chance Hamming ≤ 1 word pairs at the 100× synth
    * decade, where truly random 64-bit words would produce none), any
    * sub-id-range modulus folds the synth fixtures' strided id grid
    * into outright word collisions, and id·A overflows a 64-bit long
    * at synth-stride ids while the oracle's unbounded integers would
    * not — a latent cross-engine divergence. md5 of a decimal string
    * is the generator the audio family already pins cross-engine:
    * bit j of id's word = parity of the FIRST hex digit of
    * md5("<id>|<salt>|<j>"), identical text on both engines. */
  private def plantedWordOf(id: Long, salt: String): Long = {
    // ONE digest instance per word, not per bit (digest() auto-resets
    // between calls — the md5Local rationale at word granularity)
    val md = java.security.MessageDigest.getInstance("MD5")
    (0 until 64).foldLeft(0L) { (acc, j) =>
      val d = md.digest(s"$id|$salt|$j".getBytes("US-ASCII"))
      if (((d(0) >> 4) & 1) == 1) acc | (1L << j) else acc
    }
  }

  /** q169's NOVEL incoming arm word (salt `n`). */
  private[graft] def jpegNovelWord(id: Long): Long =
    plantedWordOf(id, "n")

  /** The JPEG-containered CORPUS arm's planted word (doc_id % 9 == 7
    * in [[rasterVariantTableOf]], salt `c`) — a distinct salt, so
    * corpus words and q169's incoming novel words are unrelated
    * families, both re-derivable by the oracle. */
  private[graft] def jpegCorpusWord(id: Long): Long =
    plantedWordOf(id, "c")

  /** Deterministic JPEG incoming fixture for the LOSSY-codec
    * cross-container face (q169): for doc_id % 9 == 4, a 40×40
    * POSTERIZED re-master of the corpus raster re-containered to
    * baseline JPEG — per-[[ahashOfPixels]]-cell brightness 220/30
    * according to the BASE raster's own ahash bits, i.e. a resolution
    * change + a contrast stretch + a lossy re-encode at once, which
    * preserves exactly the perceptual bit pattern and nothing else;
    * for doc_id % 9 == 5, a NOVEL 40×40 JPEG whose cell pattern is
    * the [[jpegNovelWord]] md5-parity word (must pass silently).
    *
    * DETERMINISM UNDER A LOSSY CODEC (the E188 honesty split, applied
    * to a GATE): JPEG reconstruction error can flip exactly the ahash
    * bits whose cell averages tie the image mean, so the fixture
    * plants only images whose every cell average clears the mean by
    * far more than the codec error — 40×40 aligns the 8×8 signature
    * grid to exact 5×5 pixel cells (measured max CELL-AVERAGE error
    * 0.64 on the pinned JDK codec, vs the ≥ 23 margin the
    * popcount ∈ [8, 56] restriction guarantees between the 220/30
    * rails and the mean), so the decoded ahash equals the planted
    * word EXACTLY and the oracle re-derives the whole decision chain
    * from arithmetic. Ids whose word fails the popcount restriction
    * are skipped ON BOTH SIDES (fixture and oracle) — the restriction
    * is the fixture's determinism contract, not gate behavior. */
  private[graft] def jpegIncomingFixture(
      s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(9)) === 4 ||
        pmod(col("doc_id"), lit(9)) === 5)
      .select(col("doc_id"),
        (lit(9L) + pmod(col("doc_id"), lit(16L))).as("w"),
        (lit(9L) + pmod(col("doc_id"), lit(12L))).as("h"))
      .as[(Long, Long, Long)]
      .mapPartitions(rows => rows.flatMap { case (id, w, h) =>
        val planted = id % 9 == 4
        val bits: Long =
          if (!planted) jpegNovelWord(id)
          else {
            // the BASE raster's ahash — synthesized from the same
            // formula rasterVariantTableOf plants, hashed by the same
            // kernel the gate runs
            val pix = new Array[Byte]((w * h).toInt)
            var y = 0L
            while (y < h) {
              var x = 0L
              while (x < w) {
                pix((y * w + x).toInt) =
                  ((id * 31 + y * (11 + id % 13) + x * (5 + id % 11)
                    + y * x * (1 + id % 7)) % 256).toByte
                x += 1
              }
              y += 1
            }
            ahashOfPixels(pix, 0, w, h)
          }
        val pc = java.lang.Long.bitCount(bits)
        if (pc < 8 || pc > 56) Iterator.empty
        else {
          val rid = if (planted) id + 9950000L else id + 9970000L
          Iterator.single((rid, jpegOf(40, 40, (y, x) => {
            val cell = (y / 5) * 8 + (x / 5)
            if ((bits & (1L << cell)) != 0L) 220 else 30
          })))
        }
      })
      .toDF("raster_id", "payload")
  }

  /** q169: LOSSY cross-container perceptual admission — the same gate
    * ([[rasterAdmission]], container-agnostic via
    * [[rasterAHashAnyOf]]'s third arm) fed JPEG payloads: a crawler
    * that posterizes, RESIZES (40×40 vs the corpus dims), and
    * re-encodes a corpus image through the web's most common lossy
    * codec shares zero payload bytes, zero container structure, zero
    * resample bytes, and not even the same RESOLUTION with the corpus
    * PGM — but the perceptual bit pattern survives all three
    * transforms, so the gate flags it against its base. Novel-pattern
    * JPEGs pass silently. The q167 PNG face proved the gate
    * container-agnostic for lossless codecs; this face closes the
    * JPEG bypass (r11 missing #1). */
  def jpegCrossContainerAdmission(s: SparkSession, dir: String): DataFrame =
    rasterAdmission(s, dir, jpegIncomingFixture(s, dir))
      .orderBy(col("in_id"), col("corpus_id"))

  /** Deterministic P5 incoming fixture for the MIXED-CORPUS face
    * (q175 — the INVERSE of q167/q169: there the corpus was P5 and
    * the incoming was PNG/JPEG; here the corpus's canonical images
    * live as PNG/JPEG and a plain-raster incoming must still flag
    * them). Arms: doc_id % 9 == 6 → a HALF-BRIGHTNESS P5 re-master
    * of the PNG corpus arm's family-C pixels (`raster_id = doc_id +
    * 9_600_000`, must flag `+ 8_100_000`); % 9 == 7 → a P5 railed at
    * 220/30 per the corpus word (`+ 9_650_000`, must flag the JPEG
    * corpus arm `+ 8_200_000` at Hamming 0 — rails are exact in a
    * lossless container, and the corpus side's decoded ahash is the
    * word by the q169 determinism contract); % 9 == 8 → NOVEL
    * family-D imagery (`+ 9_700_000`, must pass silently). */
  private[graft] def mixedCorpusIncomingFixture(
      s: SparkSession, dir: String): DataFrame = {
    val sess = s
    import sess.implicits._
    Tables.load(s, dir, "documents")
      .filter(pmod(col("doc_id"), lit(9)) >= 6)
      .select(col("doc_id"),
        (lit(9L) + pmod(col("doc_id"), lit(16L))).as("w"),
        (lit(9L) + pmod(col("doc_id"), lit(12L))).as("h"))
      .as[(Long, Long, Long)]
      .mapPartitions(rows => rows.flatMap { case (id, w, h) =>
        def pgmOf(pw: Int, ph: Int, px: (Int, Int) => Int): Array[Byte] = {
          val hdr = s"P5\n$pw $ph\n255\n".getBytes("US-ASCII")
          val out = new Array[Byte](hdr.length + pw * ph)
          System.arraycopy(hdr, 0, out, 0, hdr.length)
          var y = 0
          while (y < ph) {
            var x = 0
            while (x < pw) {
              out(hdr.length + y * pw + x) = (px(y, x) & 0xFF).toByte
              x += 1
            }
            y += 1
          }
          out
        }
        id % 9 match {
          case 6 =>
            Iterator.single((id + 9600000L, pgmOf(w.toInt, h.toInt,
              (y, x) => famCPixel(id)(y, x) / 2)))
          case 7 =>
            val bits = jpegCorpusWord(id)
            val pc = java.lang.Long.bitCount(bits)
            if (pc < 8 || pc > 56) Iterator.empty
            else Iterator.single((id + 9650000L, pgmOf(40, 40, (y, x) => {
              val cell = (y / 5) * 8 + (x / 5)
              if ((bits & (1L << cell)) != 0L) 220 else 30
            })))
          case _ =>
            Iterator.single((id + 9700000L, pgmOf(w.toInt, h.toInt,
              (y, x) => ((id * 59 + y.toLong * (3 + id % 29)
                + x.toLong * (9 + id % 31)
                + y.toLong * x * (4 + id % 37)) % 256).toInt)))
        }
      })
      .toDF("raster_id", "payload")
  }

  /** q175: the MIXED-CORPUS perceptual admission face — the same gate
    * ([[rasterAdmission]]) proving the CORPUS index is container-
    * agnostic (the r12 weak item closed from the index side): a
    * corpus whose canonical images exist only as PNG or JPEG still
    * flags plain-raster re-masters of them, because
    * [[rasterAHashIdx]] hashes the corpus with the same
    * [[rasterAHashAnyOf]] arm the incoming side uses. Novel-family
    * incoming passes silently. */
  def mixedCorpusAdmission(s: SparkSession, dir: String): DataFrame =
    rasterAdmission(s, dir, mixedCorpusIncomingFixture(s, dir))
      .orderBy(col("in_id"), col("corpus_id"))

  /** The STREAMING half of the E205 ledgers (r13 verdict task 6): a
    * `foreachBatch` body that appends each micro-batch's gate output
    * (flags on an audit face, decisions on a decision face — the sink
    * is face-agnostic, it persists whatever relation the gate emits)
    * as an epoch segment of the named streaming ledger. Composes the
    * two existing pieces: the E79 epoch-idempotence discipline (a
    * redelivered epoch appends NOTHING — `IndexStore.appendEpoch`
    * skips a published `_SUCCESS`) and the segmented-ledger read
    * (`IndexStore.readEpochs` is one multi-path scan). Usage:
    *
    * {{{
    * rasterAdmission(s, dir, feed)
    *   .writeStream
    *   .foreachBatch(Multimodal.gateLedgerSink("raster_gate_stream"))
    *   .outputMode("append").start()
    * }}}
    *
    * A live crawler's audit history is then served by the ledger scan
    * — the batch twin no longer needs re-running to reconstruct what
    * the stream already decided (StreamingSpec pins streamed ledger ≡
    * the batch ledger on the same feed, and that a replayed epoch is
    * a no-op). Works for all five modalities — the sink never looks
    * inside the rows. */
  def gateLedgerSink(name: String): (DataFrame, Long) => Unit =
    (batch: DataFrame, epochId: Long) => {
      graft.observe.IndexStore
        .appendEpoch(batch.sparkSession, name, epochId, batch)
      ()
    }

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    Gates.declare(Gates.multimodal, Map(
    "q40_multimodal_meta" -> mediaMeta,
    "q58_frame_hashes" -> frameHashes,
    "q155_media_resize" -> mediaResize,
    "q156_media_exact_dups" -> mediaExactDups,
    "q157_media_neardup" -> mediaNearDups,
    "q159_raster_thumbnail" -> rasterThumbnail,
    "q161_audio_energy" -> audioEnergy,
    "q162_audio_gain_neardup" -> audioGainNearDups,
    "q164_raster_phash_dups" -> rasterPerceptualDups,
    "q166_png_thumbnail" -> pngThumbnail,
    "q167_png_cross_container" -> pngCrossContainerAdmission,
    "q168_jpeg_decode" -> jpegDecode,
    "q169_jpeg_cross_container" -> jpegCrossContainerAdmission,
    "q175_mixed_corpus_admission" -> mixedCorpusAdmission,
  ))

  /** DuckDB CTE chain turning a (id, i, s) sample relation `src` into
    * the capped fingerprint relation `<p>fps` (id, fp) — the SQL twin
    * of [[audioFpSeqOf]]'s frame/level/shingle pipeline, emitted once
    * for the corpus and once for an incoming feed (CTE names take the
    * prefix `p`). */
  private def duckAudioFps(p: String, src: String, id: String): String =
    s"""${p}fr AS (SELECT $id, i // $gainFrame AS frame,
       |    CAST(sum(s * s) AS BIGINT) AS fe
       |  FROM $src GROUP BY 1, 2
       |  HAVING count(*) = $gainFrame),
       |${p}mx AS (SELECT $id, max(fe) AS emax FROM ${p}fr GROUP BY 1),
       |${p}lv AS (SELECT f.$id, frame,
       |    CASE WHEN emax = 0 THEN 0 ELSE fe * 63 // emax END AS l
       |  FROM ${p}fr f JOIN ${p}mx USING ($id)),
       |${p}sh0 AS (SELECT $id, l,
       |    lead(l, 1) OVER w AS l1, lead(l, 2) OVER w AS l2,
       |    lead(l, 3) OVER w AS l3
       |  FROM ${p}lv WINDOW w AS (PARTITION BY $id ORDER BY frame)),
       |${p}shd AS (SELECT DISTINCT $id,
       |    md5(CAST(CAST(((l * 64 + l1) * 64 + l2) * 64 + l3 AS BIGINT)
       |      AS VARCHAR)) AS fp
       |  FROM ${p}sh0 WHERE l3 IS NOT NULL),
       |${p}fps AS (SELECT $id, fp FROM (
       |    SELECT $id, fp, row_number() OVER (
       |      PARTITION BY $id ORDER BY fp) AS rn FROM ${p}shd)
       |  WHERE rn <= $audioFpCap)""".stripMargin

  /** DuckDB little-endian 32-bit render of an integer SQL expression. */
  private def duckLe32(e: String): String =
    s"unhex(lpad(hex(((($e) % 256) * 16777216) + (((($e) // 256) % 256) * 65536)" +
      s" + (((($e) // 65536) % 256) * 256) + ((($e) // 16777216) % 256)), 8, '0'))"

  /** Shared payload-reconstruction CTEs: DuckDB rebuilds the exact byte
    * stream the fixture synthesizes, so hashes and hex slices verify
    * the decoder against independently-constructed bytes. */
  // NOTE: this snippet is re-interpolated into stripMargin'd oracle
  // strings, so no line may BEGIN with `|` (the outer stripMargin would
  // eat one pipe of a leading `||`) — concat operators sit at line ends.
  private val duckMedia: String =
    s"""m0 AS (
       |  SELECT doc_id, text,
       |    ['image','audio','video'][CAST(doc_id % 3 + 1 AS INT)] AS modality,
       |    CAST(octet_length(encode(text)) AS BIGINT) AS body_len,
       |    16 + doc_id % 1024 AS pw, 16 + doc_id % 768 AS ph,
       |    8000 + (doc_id % 8) * 1000 AS rate,
       |    120 + doc_id % 600 AS jh, 160 + doc_id % 800 AS jw
       |  FROM documents),
       |m AS (
       |  SELECT *, CASE modality
       |    WHEN 'image' THEN unhex('89504E470D0A1A0A') ||
       |      unhex('0000000D49484452') ||
       |      unhex(lpad(hex(pw), 8, '0')) || unhex(lpad(hex(ph), 8, '0')) ||
       |      unhex('080600000000000000') || encode(text)
       |    WHEN 'audio' THEN encode('RIFF') || ${duckLe32("body_len + 36")} ||
       |      encode('WAVEfmt ') || unhex('10000000') || unhex('01000100') ||
       |      ${duckLe32("rate")} || ${duckLe32("rate * 2")} ||
       |      unhex('02001000') || encode('data') || ${duckLe32("body_len")} ||
       |      encode(text)
       |    ELSE unhex('FFD8FFC0') || unhex('000B') || unhex('08') ||
       |      unhex(lpad(hex(jh), 4, '0')) || unhex(lpad(hex(jw), 4, '0')) ||
       |      unhex('01011100') || encode(text)
       |    END AS payload
       |  FROM m0)""".stripMargin

  /** The planted-duplicate corpus, re-derived from scratch: base rows,
    * the %5 JPEG re-encodes over the truncated body, the %7 verbatim
    * re-uploads. `body_hex` is the post-header payload body as a hex
    * string — DuckDB has no BLOB substr, so block slicing happens at
    * 2 hex chars per byte (the q58 idiom). Assumes m0/m (duckMedia)
    * in scope. */
  private val duckMediaCorpus: String =
    s"""mc AS (
       |  SELECT doc_id AS media_id, payload,
       |    hex(encode(text)) AS body_hex FROM m
       |  UNION ALL
       |  SELECT doc_id + 1000000,
       |    unhex('FFD8FFC0') || unhex('000B') || unhex('08') ||
       |      unhex(lpad(hex(100 + doc_id % 512), 4, '0')) ||
       |      unhex(lpad(hex(140 + doc_id % 640), 4, '0')) ||
       |      unhex('01011100') ||
       |      unhex(substr(hex(encode(text)), 1,
       |        CAST((3 * octet_length(encode(text)) // 4) * 2 AS BIGINT))),
       |    substr(hex(encode(text)), 1,
       |      CAST((3 * octet_length(encode(text)) // 4) * 2 AS BIGINT))
       |  FROM m0 WHERE doc_id % 5 = 0
       |  UNION ALL
       |  SELECT doc_id + 2000000, payload, hex(encode(text))
       |  FROM m WHERE doc_id % 7 = 0)""".stripMargin

  /** Shared corpus-extension fragments for every raster-gate oracle
    * (q164/q165/q167/q169/q175): the container-mixed corpus arms.
    * `duckRvPng` extends the rv CTE with the PNG arm (hv = 6, pixel
    * family C); `duckFamC` is its pixel formula for the cells CASE;
    * `duckJpegCorpus` derives the JPEG arm's ahash (= the planted
    * [[jpegCorpusWord]], popcount-restricted on both sides) and its
    * banded form `jcb`; `duckRasterNr` is the corpus signature count
    * the stop threshold is relative to ([[nRasterCorpus]] counts the
    * artifact engine-side — these terms enumerate the same rows). */
  private val duckRvPng: String =
    "SELECT doc_id + 8100000, doc_id, w, h, 6 FROM g WHERE doc_id % 9 = 6"
  private val duckFamC: String =
    """(r.doc_id * 53
      |          + yy.y * (7 + r.doc_id % 17)
      |          + xx.x * (13 + r.doc_id % 19)
      |          + yy.y * xx.x * (3 + r.doc_id % 23)) % 256""".stripMargin
  private val duckJpegCorpus: String =
    s"""jc AS (SELECT doc_id + 8200000 AS rid,
       |    CAST(sum(CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR),
       |        '|c|', CAST(j AS VARCHAR))), 1, 1)
       |        IN ('1','3','5','7','9','b','d','f')
       |      THEN CASE WHEN j = 63
       |        THEN CAST(-9223372036854775808 AS BIGINT)
       |        ELSE CAST(1 AS BIGINT) << CAST(j AS INT) END
       |      ELSE 0 END) AS BIGINT) AS ahash
       |  FROM g, LATERAL unnest(generate_series(0, 63)) t(j)
       |  WHERE doc_id % 9 = 7 GROUP BY 1
       |  HAVING sum(CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR),
       |      '|c|', CAST(j AS VARCHAR))), 1, 1)
       |      IN ('1','3','5','7','9','b','d','f')
       |    THEN 1 ELSE 0 END) BETWEEN 8 AND 56),
       |jcb AS (SELECT rid, ahash, k.k AS b,
       |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
       |  FROM jc, LATERAL unnest(generate_series(0, 1)) k(k))""".stripMargin
  private val duckRasterNr: String =
    s"""nr AS (SELECT (SELECT count(*) FROM g)
       |    + (SELECT count(*) FROM g WHERE doc_id % 6 = 0)
       |    + (SELECT count(*) FROM g WHERE doc_id % 9 = 6)
       |    + (SELECT count(*) FROM jc) AS n)""".stripMargin

  private val baseOracles: Map[String, String] = Map(
    // q156: keep-first exact dedup over the reconstructed corpus
    "q156_media_exact_dups" ->
      s"""WITH $duckMedia,
         |$duckMediaCorpus,
         |h AS (SELECT media_id, md5(hex(payload)) AS content_hash FROM mc),
         |k AS (SELECT content_hash, min(media_id) AS keep_id,
         |    CAST(count(*) AS BIGINT) AS n_copies
         |  FROM h GROUP BY 1 HAVING count(*) >= 2)
         |SELECT h.media_id, k.keep_id, h.content_hash, k.n_copies
         |FROM h JOIN k USING (content_hash)
         |WHERE h.media_id <> k.keep_id
         |ORDER BY h.media_id""".stripMargin,
    // q157: block postings → df stop list → bucketed self-join →
    // containment threshold, every block hash re-derived from the
    // reconstructed body bytes
    "q157_media_neardup" ->
      s"""WITH $duckMedia,
         |$duckMediaCorpus,
         |p0 AS (SELECT media_id,
         |    md5(substr(body_hex, CAST(i * 128 + 1 AS BIGINT), 128))
         |      AS block_hash
         |  FROM mc, LATERAL unnest(generate_series(0,
         |    CAST(least(length(body_hex) // 128, 16) - 1 AS BIGINT)))
         |    AS t(i)),
         |p AS (SELECT DISTINCT media_id, block_hash FROM p0),
         |np AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1),
         |r AS (SELECT * FROM p WHERE block_hash NOT IN (
         |  SELECT block_hash FROM p GROUP BY 1
         |  HAVING count(*) > greatest(64, (SELECT count(*) FROM mc) // 5))),
         |c AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
         |    CAST(count(*) AS BIGINT) AS common_blocks
         |  FROM r a JOIN r b ON a.block_hash = b.block_hash
         |    AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT media_a, media_b, common_blocks, na.n AS n_a,
         |  nb.n AS n_b,
         |  CAST(common_blocks * 1000000 // least(na.n, nb.n) AS BIGINT)
         |    AS containment_micro
         |FROM c JOIN np na ON na.media_id = media_a
         |JOIN np nb ON nb.media_id = media_b
         |WHERE common_blocks * 1000000 // least(na.n, nb.n) >= 800000
         |ORDER BY media_a, media_b""".stripMargin,
    // q155: geometry re-derived from the independently-reconstructed
    // payload headers; the thumb hash's full lineage (content md5 ⊕
    // rendered target geometry) recomputed from scratch.
    "q155_media_resize" ->
      s"""WITH $duckMedia,
         |g AS (SELECT doc_id, modality,
         |    CAST(CASE modality WHEN 'image' THEN pw WHEN 'video' THEN jw
         |      ELSE 0 END AS BIGINT) AS w,
         |    CAST(CASE modality WHEN 'image' THEN ph WHEN 'video' THEN jh
         |      ELSE 0 END AS BIGINT) AS h,
         |    md5(hex(payload)) AS content_hash
         |  FROM m),
         |r AS (SELECT doc_id, modality, w, h,
         |    CAST(CASE WHEN w = 0 OR h = 0 THEN 0
         |         WHEN w <= 64 AND h <= 64 THEN w
         |         WHEN w >= h THEN 64
         |         ELSE greatest(1, w * 64 // h) END AS BIGINT) AS tw,
         |    CAST(CASE WHEN w = 0 OR h = 0 THEN 0
         |         WHEN w <= 64 AND h <= 64 THEN h
         |         WHEN w >= h THEN greatest(1, h * 64 // w)
         |         ELSE 64 END AS BIGINT) AS th,
         |    content_hash
         |  FROM g)
         |SELECT doc_id, modality, w AS width, h AS height,
         |  tw AS thumb_w, th AS thumb_h,
         |  CASE WHEN tw = 0 THEN content_hash
         |       ELSE md5(content_hash || ':' || tw || 'x' || th)
         |       END AS thumb_hash
         |FROM r ORDER BY doc_id""".stripMargin,
    "q58_frame_hashes" ->
      s"""WITH $duckMedia,
         |f AS (
         |  SELECT doc_id, i AS frame_no,
         |    lower(substr(hex(payload),
         |      CAST((octet_length(payload) * i) // 3 AS BIGINT) * 2 + 1, 32))
         |      AS frame_hash
         |  FROM m, LATERAL unnest(generate_series(0, 2)) AS t(i))
         |SELECT doc_id, frame_no, frame_hash FROM f
         |ORDER BY doc_id, frame_no""".stripMargin,
    // q161: PCM features re-derived SAMPLE BY SAMPLE — the oracle
    // parses the same little-endian int16 stream from the
    // independently reconstructed body hex (strpos-table hex-digit
    // decode), so a kernel drift breaks the hash at the first sample
    "q161_audio_energy" ->
      s"""WITH au AS (SELECT doc_id,
         |    CAST(8000 + (doc_id % 8) * 1000 AS BIGINT) AS rate,
         |    hex(encode(text)) AS bh,
         |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |smp AS (SELECT doc_id, i,
         |    CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END
         |      AS BIGINT) AS s
         |  FROM (SELECT doc_id, i,
         |      ((strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 3 AS BIGINT), 1)) - 1) * 16
         |        + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 4 AS BIGINT), 1)) - 1)) * 256
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 1 AS BIGINT), 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 2 AS BIGINT), 1)) - 1) AS u
         |    FROM au, LATERAL unnest(generate_series(0, n - 1)) t(i)
         |    WHERE n > 0)),
         |fr AS (SELECT doc_id, i // $audioFrame AS frame,
         |    CAST(sum(s * s) AS BIGINT) AS fe
         |  FROM smp GROUP BY 1, 2),
         |topf AS (SELECT doc_id, frame AS top_frame,
         |    fe AS top_frame_energy,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY fe DESC, frame) AS rn
         |  FROM fr),
         |agg AS (SELECT doc_id, CAST(max(abs(s)) AS BIGINT) AS peak_abs,
         |    CAST(sum(s * s) AS BIGINT) AS ssq
         |  FROM smp GROUP BY 1)
         |SELECT au.doc_id, rate AS sample_rate, au.n AS n_samples,
         |  coalesce(a.peak_abs, 0) AS peak_abs,
         |  CAST(CASE WHEN au.n > 0 THEN a.ssq // au.n ELSE 0 END
         |    AS BIGINT) AS mean_sq,
         |  coalesce(t.top_frame, 0) AS top_frame,
         |  coalesce(t.top_frame_energy, 0) AS top_frame_energy
         |FROM au LEFT JOIN agg a USING (doc_id)
         |LEFT JOIN (SELECT * FROM topf WHERE rn = 1) t USING (doc_id)
         |ORDER BY au.doc_id""".stripMargin,
    // q162: the gain near-dup re-derived sample by sample — base,
    // polarity-inverted, and half-gain sample streams; frame
    // energies; the peak-relative 0..63 profile; per-shingle MD5
    // digests; the corpus-relative stop filter; candidate pairs;
    // containment
    "q162_audio_gain_neardup" ->
      s"""WITH au AS (SELECT doc_id, hex(encode(text)) AS bh,
         |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |smp AS (SELECT doc_id, i,
         |    CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END
         |      AS BIGINT) AS s
         |  FROM (SELECT doc_id, i,
         |      ((strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 3 AS BIGINT), 1)) - 1) * 16
         |        + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 4 AS BIGINT), 1)) - 1)) * 256
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 1 AS BIGINT), 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 2 AS BIGINT), 1)) - 1) AS u
         |    FROM au, LATERAL unnest(generate_series(0, n - 1)) t(i)
         |    WHERE n > 0)),
         |var AS (
         |  SELECT doc_id AS media_id, i, s FROM smp
         |  UNION ALL
         |  SELECT doc_id + 4000000, i, -s FROM smp WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 5000000, i,
         |    CAST(floor(s / 2.0) AS BIGINT) FROM smp WHERE doc_id % 7 = 0),
         |ncorp AS (SELECT (SELECT count(*) FROM au)
         |    + (SELECT count(*) FROM au WHERE doc_id % 5 = 0)
         |    + (SELECT count(*) FROM au WHERE doc_id % 7 = 0) AS na),
         |${duckAudioFps("", "var", "media_id")},
         |np AS (SELECT media_id, count(*) AS nf FROM fps GROUP BY 1),
         |stop AS (SELECT fp FROM fps GROUP BY fp
         |  HAVING count(*) > greatest(16, (SELECT na FROM ncorp) // 5)),
         |rare AS (SELECT * FROM fps
         |  WHERE fp NOT IN (SELECT fp FROM stop)),
         |pr AS (SELECT a.media_id AS media_a, b.media_id AS media_b,
         |    CAST(count(*) AS BIGINT) AS common_fps
         |  FROM rare a JOIN rare b
         |    ON a.fp = b.fp AND a.media_id < b.media_id
         |  GROUP BY 1, 2)
         |SELECT media_a, media_b, common_fps,
         |  CAST(na.nf AS BIGINT) AS n_a, CAST(nb.nf AS BIGINT) AS n_b,
         |  CAST(common_fps * 1000000 // least(na.nf, nb.nf)
         |    AS BIGINT) AS containment_micro
         |FROM pr JOIN np na ON na.media_id = pr.media_a
         |JOIN np nb ON nb.media_id = pr.media_b
         |WHERE common_fps * 1000000 // least(na.nf, nb.nf) >= 600000
         |ORDER BY media_a, media_b""".stripMargin,
    // q163: the audio gate's batch face — corpus and incoming
    // fingerprints, the stop filter, candidates, and containment all
    // re-derived sample by sample (the incoming arms: polarity
    // inversion of the base samples; a reversed-text novel stream)
    "q163_audio_admission" ->
      s"""WITH au AS (SELECT doc_id, hex(encode(text)) AS bh,
         |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 3 = 1),
         |smp AS (SELECT doc_id, i,
         |    CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END
         |      AS BIGINT) AS s
         |  FROM (SELECT doc_id, i,
         |      ((strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 3 AS BIGINT), 1)) - 1) * 16
         |        + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 4 AS BIGINT), 1)) - 1)) * 256
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 1 AS BIGINT), 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 2 AS BIGINT), 1)) - 1) AS u
         |    FROM au, LATERAL unnest(generate_series(0, n - 1)) t(i)
         |    WHERE n > 0)),
         |var AS (
         |  SELECT doc_id AS media_id, i, s FROM smp
         |  UNION ALL
         |  SELECT doc_id + 4000000, i, -s FROM smp WHERE doc_id % 5 = 0
         |  UNION ALL
         |  SELECT doc_id + 5000000, i,
         |    CAST(floor(s / 2.0) AS BIGINT) FROM smp WHERE doc_id % 7 = 0),
         |ncorp AS (SELECT (SELECT count(*) FROM au)
         |    + (SELECT count(*) FROM au WHERE doc_id % 5 = 0)
         |    + (SELECT count(*) FROM au WHERE doc_id % 7 = 0) AS na),
         |${duckAudioFps("", "var", "media_id")},
         |stop AS (SELECT fp FROM fps GROUP BY fp
         |  HAVING count(*) > greatest(16, (SELECT na FROM ncorp) // 5)),
         |np AS (SELECT media_id, count(*) AS nf FROM fps GROUP BY 1),
         |rare AS (SELECT * FROM fps
         |  WHERE fp NOT IN (SELECT fp FROM stop)),
         |rau AS (SELECT doc_id, hex(encode(reverse(text))) AS bh,
         |    CAST(octet_length(encode(text)) // 2 AS BIGINT) AS n
         |  FROM documents WHERE doc_id % 3 = 1 AND doc_id % 4 = 1),
         |rsmp AS (SELECT doc_id, i,
         |    CAST(CASE WHEN u >= 32768 THEN u - 65536 ELSE u END
         |      AS BIGINT) AS s
         |  FROM (SELECT doc_id, i,
         |      ((strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 3 AS BIGINT), 1)) - 1) * 16
         |        + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 4 AS BIGINT), 1)) - 1)) * 256
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 1 AS BIGINT), 1)) - 1) * 16
         |      + (strpos('0123456789ABCDEF',
         |          substr(bh, CAST(4 * i + 2 AS BIGINT), 1)) - 1) AS u
         |    FROM rau, LATERAL unnest(generate_series(0, n - 1)) t(i)
         |    WHERE n > 0)),
         |ivar AS (
         |  SELECT doc_id + 6000000 AS in_id, i, -s AS s FROM smp
         |  WHERE doc_id % 4 = 0
         |  UNION ALL
         |  SELECT doc_id + 7000000, i, s FROM rsmp),
         |${duckAudioFps("i", "ivar", "in_id")},
         |nin AS (SELECT in_id, count(*) AS n_in FROM ifps GROUP BY 1),
         |irare AS (SELECT * FROM ifps
         |  WHERE fp NOT IN (SELECT fp FROM stop)),
         |cm AS (SELECT in_id, corpus_id,
         |    CAST(count(*) AS BIGINT) AS common_fps
         |  FROM (SELECT DISTINCT irare.in_id, rare.media_id AS corpus_id,
         |          fp
         |        FROM irare JOIN rare USING (fp))
         |  GROUP BY 1, 2)
         |SELECT cm.in_id, cm.corpus_id, cm.common_fps,
         |  CAST(nin.n_in AS BIGINT) AS n_in,
         |  CAST(np.nf AS BIGINT) AS n_corpus,
         |  CAST(common_fps * 1000000 // least(nin.n_in, np.nf)
         |    AS BIGINT) AS containment_micro
         |FROM cm JOIN nin USING (in_id)
         |JOIN np ON np.media_id = cm.corpus_id
         |WHERE common_fps * 1000000 // least(nin.n_in, np.nf) >= 600000
         |ORDER BY cm.in_id, cm.corpus_id""".stripMargin,
    // q164: the perceptual raster dedup re-derived pixel by pixel —
    // base and half-brightness pixel streams, 8x8 area-map cell
    // averages, the mean-relative bit pack (the sign bit enters as
    // the two's-complement constant, summing to the same BIGINT the
    // engine's bitwise OR builds), bands, the stop filter, and the
    // exact Hamming verify
    "q164_raster_phash_dups" ->
      s"""WITH g AS (SELECT doc_id, CAST(9 + doc_id % 16 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 12 AS BIGINT) AS h FROM documents),
         |rv AS (SELECT doc_id AS raster_id, doc_id, w, h, 0 AS hv FROM g
         |  UNION ALL
         |  SELECT doc_id + 8000000, doc_id, w, h, 1 FROM g
         |  WHERE doc_id % 6 = 0
         |  UNION ALL
         |  $duckRvPng),
         |cells AS (SELECT raster_id,
         |    (8 * y + 7) // h AS ty, (8 * x + 7) // w AS tx,
         |    CAST(sum(p) // count(*) AS BIGINT) AS cell
         |  FROM (SELECT r.raster_id, r.w, r.h, yy.y, xx.x,
         |      CASE WHEN hv = 0
         |        THEN (r.doc_id * 31 + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256
         |        WHEN hv = 6 THEN $duckFamC
         |        ELSE ((r.doc_id * 31 + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256) // 2
         |        END AS p
         |    FROM rv r,
         |      LATERAL unnest(generate_series(0, r.h - 1)) yy(y),
         |      LATERAL unnest(generate_series(0, r.w - 1)) xx(x))
         |  GROUP BY 1, 2, 3),
         |mn AS (SELECT raster_id, CAST(sum(cell) // 64 AS BIGINT) AS mean
         |  FROM cells GROUP BY 1),
         |hs AS (SELECT c.raster_id, CAST(sum(CASE WHEN cell > mean THEN
         |      CASE WHEN ty * 8 + tx = 63
         |        THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << CAST(ty * 8 + tx AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells c JOIN mn USING (raster_id) GROUP BY 1),
         |$duckJpegCorpus,
         |bd AS (SELECT raster_id, ahash, k.k AS b,
         |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
         |  FROM hs, LATERAL unnest(generate_series(0, 1)) k(k)
         |  UNION ALL SELECT rid, ahash, b, bh FROM jcb),
         |$duckRasterNr,
         |stop AS (SELECT b, bh FROM bd GROUP BY 1, 2
         |  HAVING count(*) > greatest(64, (SELECT n FROM nr) // 5)),
         |rare AS (SELECT * FROM bd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh)),
         |pr AS (SELECT DISTINCT x.raster_id AS raster_a,
         |    y.raster_id AS raster_b,
         |    CAST(bit_count(xor(x.ahash, y.ahash)) AS BIGINT) AS hamming
         |  FROM rare x JOIN rare y
         |    ON x.b = y.b AND x.bh = y.bh AND x.raster_id < y.raster_id)
         |SELECT raster_a, raster_b, hamming FROM pr WHERE hamming <= 1
         |ORDER BY raster_a, raster_b""".stripMargin,
    // q165: the raster gate's batch face — corpus and incoming
    // hashes (quarter-brightness re-masters + a different structural
    // family as the novel arm), bands, the stop filter, and the
    // in-row Hamming verify, all from arithmetic alone. Corpus vs
    // incoming is tagged by the explicit variant column hv (0/1 =
    // corpus arms, 2/3 = incoming arms), NEVER by id windows — an
    // id-range classifier would silently misroute arms once doc_ids
    // grow into the fixture offsets

    "q165_raster_admission" ->
      s"""WITH g AS (SELECT doc_id, CAST(9 + doc_id % 16 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 12 AS BIGINT) AS h FROM documents),
         |rv AS (SELECT doc_id AS rid, doc_id, w, h, 0 AS hv FROM g
         |  UNION ALL
         |  SELECT doc_id + 8000000, doc_id, w, h, 1 FROM g
         |  WHERE doc_id % 6 = 0
         |  UNION ALL
         |  $duckRvPng),
         |iv AS (SELECT doc_id + 9000000 AS rid, doc_id, w, h, 2 AS hv
         |  FROM g WHERE doc_id % 9 = 0
         |  UNION ALL
         |  SELECT doc_id + 9500000, doc_id, w, h, 3 FROM g
         |  WHERE doc_id % 9 = 1),
         |allr AS (SELECT * FROM rv UNION ALL SELECT * FROM iv),
         |cells AS (SELECT rid, hv,
         |    (8 * y + 7) // h AS ty, (8 * x + 7) // w AS tx,
         |    CAST(sum(p) // count(*) AS BIGINT) AS cell
         |  FROM (SELECT r.rid, r.hv, r.w, r.h, yy.y, xx.x,
         |      CASE
         |        WHEN hv = 0 THEN (r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256
         |        WHEN hv = 1 THEN ((r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256) // 2
         |        WHEN hv = 2 THEN ((r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256) // 4
         |        WHEN hv = 6 THEN $duckFamC
         |        ELSE (r.doc_id * 47
         |          + yy.y * (5 + r.doc_id % 11)
         |          + xx.x * (11 + r.doc_id % 13)
         |          + yy.y * xx.x * (2 + r.doc_id % 5)) % 256
         |        END AS p
         |    FROM allr r,
         |      LATERAL unnest(generate_series(0, r.h - 1)) yy(y),
         |      LATERAL unnest(generate_series(0, r.w - 1)) xx(x))
         |  GROUP BY 1, 2, 3, 4),
         |mn AS (SELECT rid, hv, CAST(sum(cell) // 64 AS BIGINT) AS mean
         |  FROM cells GROUP BY 1, 2),
         |hs AS (SELECT c.rid, c.hv, CAST(sum(CASE WHEN cell > mean THEN
         |      CASE WHEN ty * 8 + tx = 63
         |        THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << CAST(ty * 8 + tx AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells c JOIN mn USING (rid, hv) GROUP BY 1, 2),
         |$duckJpegCorpus,
         |bd AS (SELECT rid, hv, ahash, k.k AS b,
         |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
         |  FROM hs, LATERAL unnest(generate_series(0, 1)) k(k)),
         |cbd AS (SELECT rid, ahash, b, bh FROM bd WHERE hv IN (0, 1, 6)
         |  UNION ALL SELECT rid, ahash, b, bh FROM jcb),
         |ibd AS (SELECT rid, ahash, b, bh FROM bd WHERE hv IN (2, 3)),
         |$duckRasterNr,
         |stop AS (SELECT b, bh FROM cbd GROUP BY 1, 2
         |  HAVING count(*) > greatest(64, (SELECT n FROM nr) // 5)),
         |crare AS (SELECT * FROM cbd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh)),
         |irare AS (SELECT * FROM ibd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh))
         |SELECT DISTINCT i.rid AS in_id, c.rid AS corpus_id,
         |  CAST(bit_count(xor(i.ahash, c.ahash)) AS BIGINT) AS hamming
         |FROM irare i JOIN crare c ON i.b = c.b AND i.bh = c.bh
         |WHERE bit_count(xor(i.ahash, c.ahash)) <= 1
         |ORDER BY in_id, corpus_id""".stripMargin,
    // q167: the cross-container face — the oracle re-derives the PNG
    // arms' PIXELS from arithmetic alone (the engine decodes them out
    // of a genuine zlib stream; the oracle needs no codec because the
    // fixture's pixels are a formula), then the same cells/mean/ahash/
    // bands/stop/Hamming chain as q165. hv tags: 0/1 corpus arms,
    // 4 = PNG half-brightness re-container (flags its base),
    // 5 = PNG novel family (passes)
    "q167_png_cross_container" ->
      s"""WITH g AS (SELECT doc_id, CAST(9 + doc_id % 16 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 12 AS BIGINT) AS h FROM documents),
         |rv AS (SELECT doc_id AS rid, doc_id, w, h, 0 AS hv FROM g
         |  UNION ALL
         |  SELECT doc_id + 8000000, doc_id, w, h, 1 FROM g
         |  WHERE doc_id % 6 = 0
         |  UNION ALL
         |  $duckRvPng),
         |iv AS (SELECT doc_id + 9800000 AS rid, doc_id, w, h, 4 AS hv
         |  FROM g WHERE doc_id % 9 = 2
         |  UNION ALL
         |  SELECT doc_id + 9900000, doc_id, w, h, 5 FROM g
         |  WHERE doc_id % 9 = 3),
         |allr AS (SELECT * FROM rv UNION ALL SELECT * FROM iv),
         |cells AS (SELECT rid, hv,
         |    (8 * y + 7) // h AS ty, (8 * x + 7) // w AS tx,
         |    CAST(sum(p) // count(*) AS BIGINT) AS cell
         |  FROM (SELECT r.rid, r.hv, r.w, r.h, yy.y, xx.x,
         |      CASE
         |        WHEN hv = 0 THEN (r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256
         |        WHEN hv IN (1, 4) THEN ((r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256) // 2
         |        WHEN hv = 6 THEN $duckFamC
         |        ELSE (r.doc_id * 47
         |          + yy.y * (5 + r.doc_id % 11)
         |          + xx.x * (11 + r.doc_id % 13)
         |          + yy.y * xx.x * (2 + r.doc_id % 5)) % 256
         |        END AS p
         |    FROM allr r,
         |      LATERAL unnest(generate_series(0, r.h - 1)) yy(y),
         |      LATERAL unnest(generate_series(0, r.w - 1)) xx(x))
         |  GROUP BY 1, 2, 3, 4),
         |mn AS (SELECT rid, hv, CAST(sum(cell) // 64 AS BIGINT) AS mean
         |  FROM cells GROUP BY 1, 2),
         |hs AS (SELECT c.rid, c.hv, CAST(sum(CASE WHEN cell > mean THEN
         |      CASE WHEN ty * 8 + tx = 63
         |        THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << CAST(ty * 8 + tx AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells c JOIN mn USING (rid, hv) GROUP BY 1, 2),
         |$duckJpegCorpus,
         |bd AS (SELECT rid, hv, ahash, k.k AS b,
         |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
         |  FROM hs, LATERAL unnest(generate_series(0, 1)) k(k)),
         |cbd AS (SELECT rid, ahash, b, bh FROM bd WHERE hv IN (0, 1, 6)
         |  UNION ALL SELECT rid, ahash, b, bh FROM jcb),
         |ibd AS (SELECT rid, ahash, b, bh FROM bd WHERE hv IN (4, 5)),
         |$duckRasterNr,
         |stop AS (SELECT b, bh FROM cbd GROUP BY 1, 2
         |  HAVING count(*) > greatest(64, (SELECT n FROM nr) // 5)),
         |crare AS (SELECT * FROM cbd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh)),
         |irare AS (SELECT * FROM ibd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh))
         |SELECT DISTINCT i.rid AS in_id, c.rid AS corpus_id,
         |  CAST(bit_count(xor(i.ahash, c.ahash)) AS BIGINT) AS hamming
         |FROM irare i JOIN crare c ON i.b = c.b AND i.bh = c.bh
         |WHERE bit_count(xor(i.ahash, c.ahash)) <= 1
         |ORDER BY in_id, corpus_id""".stripMargin,
    // q169: the LOSSY cross-container face — the incoming JPEGs'
    // perceptual hashes are re-derivable WITHOUT a codec because the
    // fixture pins them by construction (per-cell 220/30 rails whose
    // margins dwarf the measured codec error, popcount-restricted on
    // both sides — the E188 honesty split applied to a gate): the
    // planted arm's ahash IS its base raster's ahash (hv=0 chain),
    // the novel arm's is the jpegNovelWord md5-parity word (E206),
    // re-derived from the same md5-of-decimal-string text the engine
    // hashes. Bands/stop/Hamming chain identical to q165/q167.
    "q169_jpeg_cross_container" ->
      s"""WITH g AS (SELECT doc_id, CAST(9 + doc_id % 16 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 12 AS BIGINT) AS h FROM documents),
         |rv AS (SELECT doc_id AS rid, doc_id, w, h, 0 AS hv FROM g
         |  UNION ALL
         |  SELECT doc_id + 8000000, doc_id, w, h, 1 FROM g
         |  WHERE doc_id % 6 = 0
         |  UNION ALL
         |  $duckRvPng),
         |cells AS (SELECT rid, hv,
         |    (8 * y + 7) // h AS ty, (8 * x + 7) // w AS tx,
         |    CAST(sum(p) // count(*) AS BIGINT) AS cell
         |  FROM (SELECT r.rid, r.hv, r.w, r.h, yy.y, xx.x,
         |      CASE
         |        WHEN hv = 0 THEN (r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256
         |        WHEN hv = 6 THEN $duckFamC
         |        ELSE ((r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256) // 2
         |        END AS p
         |    FROM rv r,
         |      LATERAL unnest(generate_series(0, r.h - 1)) yy(y),
         |      LATERAL unnest(generate_series(0, r.w - 1)) xx(x))
         |  GROUP BY 1, 2, 3, 4),
         |mn AS (SELECT rid, hv, CAST(sum(cell) // 64 AS BIGINT) AS mean
         |  FROM cells GROUP BY 1, 2),
         |hs AS (SELECT c.rid, c.hv, CAST(sum(CASE WHEN cell > mean THEN
         |      CASE WHEN ty * 8 + tx = 63
         |        THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << CAST(ty * 8 + tx AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells c JOIN mn USING (rid, hv) GROUP BY 1, 2),
         |ih0 AS (SELECT rid + 9950000 AS rid, ahash FROM hs
         |  WHERE hv = 0 AND rid % 9 = 4
         |    AND bit_count(ahash) BETWEEN 8 AND 56),
         |nv AS (SELECT doc_id + 9970000 AS rid,
         |    CAST(sum(CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR),
         |        '|n|', CAST(j AS VARCHAR))), 1, 1)
         |        IN ('1','3','5','7','9','b','d','f')
         |      THEN CASE WHEN j = 63
         |        THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << CAST(j AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash,
         |    CAST(sum(CASE WHEN substr(md5(concat(CAST(doc_id AS VARCHAR),
         |        '|n|', CAST(j AS VARCHAR))), 1, 1)
         |        IN ('1','3','5','7','9','b','d','f')
         |      THEN 1 ELSE 0 END) AS BIGINT) AS pc
         |  FROM g, LATERAL unnest(generate_series(0, 63)) t(j)
         |  WHERE doc_id % 9 = 5 GROUP BY 1),
         |ihs AS (SELECT rid, ahash FROM ih0
         |  UNION ALL
         |  SELECT rid, ahash FROM nv WHERE pc BETWEEN 8 AND 56),
         |$duckJpegCorpus,
         |bd AS (SELECT rid, ahash, k.k AS b,
         |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
         |  FROM hs, LATERAL unnest(generate_series(0, 1)) k(k)
         |  UNION ALL SELECT rid, ahash, b, bh FROM jcb),
         |ibd AS (SELECT rid, ahash, k.k AS b,
         |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
         |  FROM ihs, LATERAL unnest(generate_series(0, 1)) k(k)),
         |$duckRasterNr,
         |stop AS (SELECT b, bh FROM bd GROUP BY 1, 2
         |  HAVING count(*) > greatest(64, (SELECT n FROM nr) // 5)),
         |crare AS (SELECT * FROM bd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh)),
         |irare AS (SELECT * FROM ibd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh))
         |SELECT DISTINCT i.rid AS in_id, c.rid AS corpus_id,
         |  CAST(bit_count(xor(i.ahash, c.ahash)) AS BIGINT) AS hamming
         |FROM irare i JOIN crare c ON i.b = c.b AND i.bh = c.bh
         |WHERE bit_count(xor(i.ahash, c.ahash)) <= 1
         |ORDER BY in_id, corpus_id""".stripMargin,
    // q175: the MIXED-CORPUS face (the r12 weak item's receipt — the
    // inverse of q167/q169): the CORPUS's canonical images live as
    // PNG (pixel family C, hv=6 — lossless, so the oracle re-derives
    // its ahash from arithmetic) and railed JPEG (the jc word arm —
    // lossy-deterministic by the q169 contract); the INCOMING is
    // plain P5: a half-brightness re-master of family C (hv=8), a
    // railed P5 of the SAME corpus word (iw = jc shifted to the
    // incoming id space — Hamming 0 by construction), and novel
    // family D (hv=9, passes silently). Bands/stop/verify are q165's.
    "q175_mixed_corpus_admission" ->
      s"""WITH g AS (SELECT doc_id, CAST(9 + doc_id % 16 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 12 AS BIGINT) AS h FROM documents),
         |rv AS (SELECT doc_id AS rid, doc_id, w, h, 0 AS hv FROM g
         |  UNION ALL
         |  SELECT doc_id + 8000000, doc_id, w, h, 1 FROM g
         |  WHERE doc_id % 6 = 0
         |  UNION ALL
         |  $duckRvPng),
         |iv AS (SELECT doc_id + 9600000 AS rid, doc_id, w, h, 8 AS hv
         |  FROM g WHERE doc_id % 9 = 6
         |  UNION ALL
         |  SELECT doc_id + 9700000, doc_id, w, h, 9 FROM g
         |  WHERE doc_id % 9 = 8),
         |allr AS (SELECT * FROM rv UNION ALL SELECT * FROM iv),
         |cells AS (SELECT rid, hv,
         |    (8 * y + 7) // h AS ty, (8 * x + 7) // w AS tx,
         |    CAST(sum(p) // count(*) AS BIGINT) AS cell
         |  FROM (SELECT r.rid, r.hv, r.w, r.h, yy.y, xx.x,
         |      CASE
         |        WHEN hv = 0 THEN (r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256
         |        WHEN hv = 1 THEN ((r.doc_id * 31
         |          + yy.y * (11 + r.doc_id % 13)
         |          + xx.x * (5 + r.doc_id % 11)
         |          + yy.y * xx.x * (1 + r.doc_id % 7)) % 256) // 2
         |        WHEN hv = 6 THEN $duckFamC
         |        WHEN hv = 8 THEN ($duckFamC) // 2
         |        ELSE (r.doc_id * 59
         |          + yy.y * (3 + r.doc_id % 29)
         |          + xx.x * (9 + r.doc_id % 31)
         |          + yy.y * xx.x * (4 + r.doc_id % 37)) % 256
         |        END AS p
         |    FROM allr r,
         |      LATERAL unnest(generate_series(0, r.h - 1)) yy(y),
         |      LATERAL unnest(generate_series(0, r.w - 1)) xx(x))
         |  GROUP BY 1, 2, 3, 4),
         |mn AS (SELECT rid, hv, CAST(sum(cell) // 64 AS BIGINT) AS mean
         |  FROM cells GROUP BY 1, 2),
         |hs AS (SELECT c.rid, c.hv, CAST(sum(CASE WHEN cell > mean THEN
         |      CASE WHEN ty * 8 + tx = 63
         |        THEN CAST(-9223372036854775808 AS BIGINT)
         |        ELSE CAST(1 AS BIGINT) << CAST(ty * 8 + tx AS INT) END
         |      ELSE 0 END) AS BIGINT) AS ahash
         |  FROM cells c JOIN mn USING (rid, hv) GROUP BY 1, 2),
         |$duckJpegCorpus,
         |bd AS (SELECT rid, hv, ahash, k.k AS b,
         |    (ahash >> CAST(32 * k.k AS INT)) & 4294967295 AS bh
         |  FROM hs, LATERAL unnest(generate_series(0, 1)) k(k)),
         |cbd AS (SELECT rid, ahash, b, bh FROM bd WHERE hv IN (0, 1, 6)
         |  UNION ALL SELECT rid, ahash, b, bh FROM jcb),
         |ibd AS (SELECT rid, ahash, b, bh FROM bd WHERE hv IN (8, 9)
         |  UNION ALL
         |  SELECT rid + 1450000, ahash, b, bh FROM jcb),
         |$duckRasterNr,
         |stop AS (SELECT b, bh FROM cbd GROUP BY 1, 2
         |  HAVING count(*) > greatest(64, (SELECT n FROM nr) // 5)),
         |crare AS (SELECT * FROM cbd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh)),
         |irare AS (SELECT * FROM ibd t WHERE NOT EXISTS (
         |  SELECT 1 FROM stop st WHERE st.b = t.b AND st.bh = t.bh))
         |SELECT DISTINCT i.rid AS in_id, c.rid AS corpus_id,
         |  CAST(bit_count(xor(i.ahash, c.ahash)) AS BIGINT) AS hamming
         |FROM irare i JOIN crare c ON i.b = c.b AND i.bh = c.bh
         |WHERE bit_count(xor(i.ahash, c.ahash)) <= 1
         |ORDER BY in_id, corpus_id""".stripMargin,
    // q168: JPEG is LOSSY, so the oracle verifies what arithmetic CAN
    // verify — the decoded geometry and pixel count re-derived from
    // the dims law, and the bounded-reconstruction flag pinned true
    // for EVERY row (a decoder that mis-parsed scanlines or dims
    // blows the bound); byte-level pixel fidelity is pinned by the
    // ObserveSpec roundtrip instead (lossless codecs q159/q166 keep
    // their byte-exact oracles)
    "q168_jpeg_decode" ->
      s"""SELECT doc_id,
         |  CAST(16 + doc_id % 16 AS BIGINT) AS width,
         |  CAST(16 + doc_id % 12 AS BIGINT) AS height,
         |  CAST((16 + doc_id % 16) * (16 + doc_id % 12) AS BIGINT)
         |    AS n_pixels,
         |  true AS within_tol
         |FROM documents ORDER BY doc_id""".stripMargin,
    // q160: the admission gate's batch face — incoming blocks, the
    // corpus-relative stop filter, candidate pairs, and containment
    // all re-derived from independently reconstructed bytes
    "q160_media_admission" ->
      s"""WITH $duckMedia,
         |$duckMediaCorpus,
         |p0 AS (SELECT media_id,
         |    md5(substr(body_hex, CAST(i * 128 + 1 AS BIGINT), 128))
         |      AS block_hash
         |  FROM mc, LATERAL unnest(generate_series(0,
         |    CAST(least(length(body_hex) // 128, 16) - 1 AS BIGINT)))
         |    AS t(i)),
         |p AS (SELECT DISTINCT media_id, block_hash FROM p0),
         |np AS (SELECT media_id, CAST(count(*) AS BIGINT) AS n
         |  FROM p GROUP BY 1),
         |stopb AS (SELECT block_hash FROM p GROUP BY 1
         |  HAVING count(*) > greatest(64, (SELECT count(*) FROM mc) // 5)),
         |rp AS (SELECT * FROM p WHERE block_hash NOT IN
         |  (SELECT block_hash FROM stopb)),
         |inc AS (SELECT doc_id + 3000000 AS in_id,
         |    substr(hex(encode(text)), 1,
         |      CAST((octet_length(encode(text)) // 2) * 2 AS BIGINT))
         |      AS body_hex
         |  FROM documents WHERE doc_id % 3 = 0),
         |ip0 AS (SELECT in_id,
         |    md5(substr(body_hex, CAST(i * 128 + 1 AS BIGINT), 128))
         |      AS block_hash
         |  FROM inc, LATERAL unnest(generate_series(0,
         |    CAST(least(length(body_hex) // 128, 16) - 1 AS BIGINT)))
         |    AS t(i)),
         |ip AS (SELECT DISTINCT in_id, block_hash FROM ip0),
         |nin AS (SELECT in_id, CAST(count(*) AS BIGINT) AS n_in
         |  FROM ip GROUP BY 1),
         |ipr AS (SELECT * FROM ip WHERE block_hash NOT IN
         |  (SELECT block_hash FROM stopb)),
         |cm AS (SELECT in_id, corpus_id,
         |    CAST(count(*) AS BIGINT) AS common_blocks
         |  FROM (SELECT DISTINCT ipr.in_id, rp.media_id AS corpus_id,
         |          block_hash
         |        FROM ipr JOIN rp USING (block_hash))
         |  GROUP BY 1, 2)
         |SELECT cm.in_id, cm.corpus_id, cm.common_blocks, nin.n_in,
         |  np.n AS n_corpus,
         |  CAST(common_blocks * 1000000 // least(n_in, np.n) AS BIGINT)
         |    AS containment_micro
         |FROM cm JOIN nin USING (in_id)
         |JOIN np ON np.media_id = cm.corpus_id
         |WHERE common_blocks * 1000000 // least(n_in, np.n) >= 800000
         |ORDER BY cm.in_id, cm.corpus_id""".stripMargin,
    // q159: the box-filter resample re-derived pixel by pixel from the
    // planted formula — the engine PARSES real container bytes and
    // filters real pixels; the oracle recomputes the identical bytes
    // from arithmetic alone, so a decoder or kernel drift breaks the
    // hash at the first pixel
    "q159_raster_thumbnail" ->
      s"""WITH g AS (SELECT doc_id,
         |    CAST(9 + doc_id % 16 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 12 AS BIGINT) AS h
         |  FROM documents),
         |t AS (SELECT *,
         |    CAST(CASE WHEN w <= 8 AND h <= 8 THEN w
         |         WHEN w >= h THEN 8
         |         ELSE greatest(1, w * 8 // h) END AS BIGINT) AS tw,
         |    CAST(CASE WHEN w <= 8 AND h <= 8 THEN h
         |         WHEN w >= h THEN greatest(1, h * 8 // w)
         |         ELSE 8 END AS BIGINT) AS th
         |  FROM g),
         |c AS (SELECT doc_id, w, h, tw, th, ty.i AS ty, tx.i AS tx
         |  FROM t,
         |    LATERAL unnest(generate_series(0, th - 1)) ty(i),
         |    LATERAL unnest(generate_series(0, tw - 1)) tx(i)),
         |bp AS (SELECT doc_id, ty, tx,
         |    (doc_id * 31 + y.i * 17 + x.i * 7) % 256 AS v
         |  FROM c,
         |    LATERAL unnest(generate_series(ty * h // th,
         |      (ty + 1) * h // th - 1)) y(i),
         |    LATERAL unnest(generate_series(tx * w // tw,
         |      (tx + 1) * w // tw - 1)) x(i)),
         |cell AS (SELECT doc_id, ty, tx,
         |    CAST(sum(v) // count(*) AS BIGINT) AS av
         |  FROM bp GROUP BY 1, 2, 3),
         |hx AS (SELECT doc_id,
         |    string_agg(lpad(hex(av), 2, '0'), '' ORDER BY ty, tx)
         |      AS thumb_hex
         |  FROM cell GROUP BY 1)
         |SELECT t.doc_id, w AS width, h AS height, tw AS thumb_w,
         |  th AS thumb_h, thumb_hex
         |FROM t JOIN hx ON hx.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    // q166: the PNG decode + resample re-derived pixel by pixel from
    // the planted formula — the engine INFLATES a genuine zlib IDAT
    // stream and unfilters all five PNG filter types to recover the
    // pixels; the oracle recomputes the identical thumb bytes from
    // arithmetic alone, so a decoder, unfilter, or kernel drift breaks
    // the hash at the first pixel THROUGH the compression boundary
    "q166_png_thumbnail" ->
      s"""WITH g AS (SELECT doc_id,
         |    CAST(9 + doc_id % 20 AS BIGINT) AS w,
         |    CAST(9 + doc_id % 14 AS BIGINT) AS h
         |  FROM documents),
         |t AS (SELECT *,
         |    CAST(CASE WHEN w <= 8 AND h <= 8 THEN w
         |         WHEN w >= h THEN 8
         |         ELSE greatest(1, w * 8 // h) END AS BIGINT) AS tw,
         |    CAST(CASE WHEN w <= 8 AND h <= 8 THEN h
         |         WHEN w >= h THEN greatest(1, h * 8 // w)
         |         ELSE 8 END AS BIGINT) AS th
         |  FROM g),
         |c AS (SELECT doc_id, w, h, tw, th, ty.i AS ty, tx.i AS tx
         |  FROM t,
         |    LATERAL unnest(generate_series(0, th - 1)) ty(i),
         |    LATERAL unnest(generate_series(0, tw - 1)) tx(i)),
         |bp AS (SELECT doc_id, ty, tx,
         |    (doc_id * 37 + y.i * 13 + x.i * 5
         |      + y.i * x.i * (2 + doc_id % 5)) % 256 AS v
         |  FROM c,
         |    LATERAL unnest(generate_series(ty * h // th,
         |      (ty + 1) * h // th - 1)) y(i),
         |    LATERAL unnest(generate_series(tx * w // tw,
         |      (tx + 1) * w // tw - 1)) x(i)),
         |cell AS (SELECT doc_id, ty, tx,
         |    CAST(sum(v) // count(*) AS BIGINT) AS av
         |  FROM bp GROUP BY 1, 2, 3),
         |hx AS (SELECT doc_id,
         |    string_agg(lpad(hex(av), 2, '0'), '' ORDER BY ty, tx)
         |      AS thumb_hex
         |  FROM cell GROUP BY 1)
         |SELECT t.doc_id, w AS width, h AS height, tw AS thumb_w,
         |  th AS thumb_h, thumb_hex
         |FROM t JOIN hx ON hx.doc_id = t.doc_id
         |ORDER BY t.doc_id""".stripMargin,
    "q40_multimodal_meta" ->
      s"""WITH $duckMedia
         |SELECT doc_id, modality,
         |  CAST(octet_length(payload) AS BIGINT) AS payload_len,
         |  CAST(CASE modality WHEN 'image' THEN pw WHEN 'video' THEN jw
         |       ELSE 0 END AS BIGINT) AS width,
         |  CAST(CASE modality WHEN 'image' THEN ph WHEN 'video' THEN jh
         |       ELSE 0 END AS BIGINT) AS height,
         |  CAST(CASE modality WHEN 'image' THEN 0
         |       WHEN 'audio' THEN body_len * 1000 // (rate * 2)
         |       ELSE body_len * 40 END AS BIGINT) AS duration_ms,
         |  lower(substr(hex(payload), 1, 32)) AS first_frame,
         |  md5(hex(payload)) AS content_hash
         |FROM m ORDER BY doc_id""".stripMargin,
  )

  val oracles: Map[String, String] =
    baseOracles ++ Gates.oracles(Gates.multimodal, baseOracles)
}
