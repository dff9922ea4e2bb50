package graft.perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StructType

import graft.ops.{Llm, Multimodal}
import IngestTick.Batch

/** Crawl-to-train: each tick a seeded incoming batch of about 2% of
  * the corpus passes the five admission gates (decision faces), is
  * appended to the warehouse as new part files, and the curated mix
  * shards and mix report refresh.
  *
  * Planted facts checked per tick: every exact replay is decided as a
  * match of a document with its shingle set (text gate) or a vector
  * parallel to its source (vector gate), and no `doc_id` appears twice
  * in the shards. */
final class IngestTick(ctx: Ctx) extends Workload {
  private val spark = ctx.spark
  private val wh = s"${ctx.work}/wh"
  private val docsDir = s"$wh/documents.parquet"
  private val embsDir = s"$wh/embeddings.parquet"

  private lazy val docSchema: StructType =
    spark.read.parquet(s"${ctx.fixture}/documents.parquet").schema
  private lazy val embSchema: StructType =
    spark.read.parquet(s"${ctx.fixture}/embeddings.parquet").schema
  private lazy val baseDocs: Vector[Row] = spark.read
    .parquet(s"${ctx.fixture}/documents.parquet").orderBy("doc_id")
    .collect().toVector
  private lazy val baseEmbs: Vector[Row] = spark.read
    .parquet(s"${ctx.fixture}/embeddings.parquet").orderBy("vec_id")
    .collect().toVector

  // the corpus as the gates see it: shingle set → doc ids, id → vector
  private val idsByShingles = mutable.Map.empty[Set[String], Set[Long]]
  private val vectorOf = mutable.Map.empty[Long, Array[Double]]

  def setUp(): Unit = {
    Main.deleteTree(Paths.get(wh))
    Files.createDirectories(Paths.get(wh))
    Seq("documents", "embeddings").foreach { t =>
      val dst = Paths.get(wh, s"$t.parquet")
      Files.createDirectories(dst)
      Main.copyTree(Paths.get(ctx.fixture, s"$t.parquet"),
        dst.resolve("part-00000-base.parquet"))
    }
    idsByShingles.clear()
    vectorOf.clear()
    baseDocs.foreach(r => addDoc(r.getLong(0), r.getString(1)))
    baseEmbs.foreach(r => vectorOf(r.getLong(0)) = vec(r))
  }

  private def addDoc(id: Long, text: String): Unit = {
    val k = IngestTick.shingles(text)
    idsByShingles(k) = idsByShingles.getOrElse(k, Set.empty) + id
  }

  private def vec(r: Row): Array[Double] =
    r.getSeq[Float](1).map(_.toDouble).toArray

  /** The template store: every gate artifact and the curated shards
    * over the base corpus. */
  def prepare(): Unit = {
    val b = batch(0)
    gates(b)
    curate()
  }

  /** Tick `t`'s incoming batch: half exact replays of base items under
    * fresh ids, half novel (documents through a seeded substitution
    * cipher, vectors drawn fresh). */
  def batch(t: Int): Batch = {
    val rnd = new Random(ctx.seed * 1000003L + t)
    val nDocs = math.max(2, math.round(baseDocs.size * 0.02).toInt)
    val nEmbs = math.max(2, math.round(baseEmbs.size * 0.02).toInt)
    val idBase = 10000000L + t * 10000L
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    val docs = (0 until nDocs).map { k =>
      val src = baseDocs(rnd.nextInt(baseDocs.size))
      val id = idBase + k
      val text =
        if (k % 2 == 0) src.getString(1)
        else {
          val perm = rnd.shuffle(alpha.toList).mkString
          src.getString(1).map(c =>
            if (c >= 'a' && c <= 'z') perm(c - 'a') else c)
        }
      (Row(id, text, src.get(2), src.get(3), src.get(4)),
        if (k % 2 == 0) Some(id -> src.getLong(0)) else None)
    }
    val embs = (0 until nEmbs).map { k =>
      val src = baseEmbs(rnd.nextInt(baseEmbs.size))
      val id = idBase + k
      val v =
        if (k % 2 == 0) src.getSeq[Float](1)
        else {
          val g = Seq.fill(src.getSeq[Float](1).size)(rnd.nextGaussian())
          val n = math.sqrt(g.map(x => x * x).sum)
          g.map(x => (x / n).toFloat)
        }
      (Row(id, v, src.get(2)),
        if (k % 2 == 0) Some(id -> src.getLong(0)) else None)
    }
    Batch(docs.map(_._1), docs.flatMap(_._2), embs.map(_._1),
      embs.flatMap(_._2))
  }

  private def frame(rows: Seq[Row], schema: StructType): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private def stage[T](layer: String)(body: => T): T =
    ctx.tracer.span(layer, layer)(body)

  /** The five admission gates over the batch; returns the text and
    * vector decisions (in_id → (corpus_id, score)). */
  private def gates(b: Batch)
      : (Map[Long, (Long, Double)], Map[Long, (Long, Double)]) = {
    val docs = frame(b.docs, docSchema)
    val embs = frame(b.embs, embSchema)
    def decided(df: DataFrame, score: String): Map[Long, (Long, Double)] =
      df.select(col("in_id"), col("corpus_id"), col(score)).collect()
        .map(r => r.getLong(0) -> (r.getLong(1) -> r.getDouble(2))).toMap
    val text = stage("llm.text_gate")(decided(
      Llm.nearDupAdmission(spark, wh, docs, decision = true), "jaccard"))
    val vector = stage("llm_ann.vector_gate")(decided(
      Llm.vectorAdmission(spark, wh, embs, decision = true), "cos"))
    stage("multimodal.raster_gate")(Multimodal.rasterAdmission(spark, wh,
      Multimodal.rasterIncomingFixtureOf(docs), decision = true).collect())
    stage("multimodal.media_gate")(Multimodal.mediaAdmission(spark, wh,
      Multimodal.mediaIncomingFixtureOf(docs), decision = true).collect())
    stage("multimodal.audio_gate")(Multimodal.audioAdmission(spark, wh,
      Multimodal.audioIncomingFixtureOf(docs), decision = true).collect())
    (text, vector)
  }

  /** Refresh the curated shards and the mix report; returns the shard
    * rows and their distinct doc ids. */
  private def curate(): (Long, Long) = stage("llm_curation") {
    val ids = Llm.curatedMixShards(spark, wh).select("doc_id").collect()
      .map(_.getLong(0))
    Llm.curationMixPipeline(spark, wh).collect()
    (ids.length.toLong, ids.distinct.length.toLong)
  }

  /** Tick 0 before the timed work: the first pass through the gates,
    * the append and the rebuilds absorbs the process's one-time
    * warm-up, so the timed ticks measure steady-state ticks. */
  override def baseline(n: Int): Unit = tick(0)

  def plan(n: Int): Seq[(String, String, () => Unit)] =
    (1 to n).map(t => (s"tick_$t", "tick", () => tick(t)))

  private def tick(t: Int): Unit = {
    val b = batch(t)
    val (text, vector) = gates(b)
    val failures = mutable.ArrayBuffer.empty[String]
    b.replays.foreach { case (in, src) =>
      val want = IngestTick.shingles(baseDocs.find(_.getLong(0) == src)
        .get.getString(1))
      text.get(in) match {
        case Some((c, j)) if j == 1.0 &&
            idsByShingles.getOrElse(want, Set.empty).contains(c) =>
        case other => failures += s"text replay $in of $src decided $other"
      }
    }
    b.vecReplays.foreach { case (in, src) =>
      vector.get(in) match {
        case Some((c, _)) if vectorOf.get(c).exists(v =>
            IngestTick.cosine(v, vectorOf(src)) >= 0.999999) =>
        case other => failures += s"vector replay $in of $src decided $other"
      }
    }
    // append the batch as new part files
    frame(b.docs, docSchema).coalesce(1).write.mode("append").parquet(docsDir)
    frame(b.embs, embSchema).coalesce(1).write.mode("append").parquet(embsDir)
    b.docs.foreach(r => addDoc(r.getLong(0), r.getString(1)))
    b.embs.foreach(r => vectorOf(r.getLong(0)) = vec(r))
    val (rows, distinct) = curate()
    if (rows != distinct)
      failures += s"curated shards hold ${rows - distinct} repeated doc_ids"
    if (failures.nonEmpty)
      throw new IllegalStateException(failures.take(3).mkString("; "))
  }

  def sourceBytes(): Long = Main.treeBytes(Paths.get(wh))
}

object IngestTick {
  /** One tick's incoming rows and the (fresh id, source id) replays. */
  final case class Batch(docs: Seq[Row], replays: Seq[(Long, Long)],
      embs: Seq[Row], vecReplays: Seq[(Long, Long)])

  /** The text gate's shingles: distinct word 3-grams. */
  def shingles(text: String): Set[String] = {
    val ws = text.split(" ", -1)
    (1 to math.max(ws.length - 2, 1))
      .map(i => ws.slice(i - 1, i + 2).mkString(" ")).toSet
  }

  def cosine(a: Array[Double], b: Array[Double]): Double = {
    val dot = a.indices.map(i => a(i) * b(i)).sum
    dot / math.sqrt(a.map(x => x * x).sum * b.map(x => x * x).sum)
  }
}
