package graft

import org.apache.spark.sql.functions._

/** The df-saturation probe as a FAILING TEST, not a manual runMain
  * (r11 verdict task 4 / missing #3): [[DfProbe.saturationViolations]]
  * is the gate that would have caught the 16-bit and 24-bit audio
  * fingerprint saturations in-tree — this suite runs it over a REAL
  * decade pair built in-test (so `sbt test` carries the guard with no
  * dependency on pre-existing /tmp fixtures) and proves it trips on a
  * planted fixed-width-universe family. */
class DfGuardSpec extends SparkSuite {

  private val alpha = "abcdefghijklmnopqrstuvwxyz"

  /** `copies`-way corpus of the suite fixture's documents, re-keyed
    * and cipher-perturbed per copy (the SynthScale discipline: a
    * VERBATIM copy would make every document a `copies`-way near-dup
    * and the probe would measure the fixture, not the engine). */
  private def decadeDocs(copies: Int) = {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    (0 until copies).map { i =>
      val rot =
        if (i == 0) alpha
        else new scala.util.Random(i * 2654435761L + 12345)
          .shuffle(alpha.toList).mkString
      docs.withColumn("doc_id", col("doc_id") + lit(i * 1000000000L))
        .withColumn("text", translate(col("text"), alpha, rot))
    }.reduce(_ unionByName _)
  }

  test("saturation guard: every fingerprint family's natural p99 df " +
    "stays flat across a real 10x corpus decade (media blocks, audio " +
    "fps, raster bands, winnowing, MinHash bands)") {
    val base = tempDir("graft-dfguard").toString
    val d1 = s"$base/d1"; val d10 = s"$base/d10"
    // the decade dirs carry ONLY documents.parquet — all five
    // fingerprint families derive from it
    decadeDocs(1).write.mode("overwrite").parquet(s"$d1/documents.parquet")
    decadeDocs(10).write.mode("overwrite")
      .parquet(s"$d10/documents.parquet")
    val s1 = DfProbe.probe(spark, d1)
    val s10 = DfProbe.probe(spark, d10)
    assert(s1.map(_.family).toSet.size === 5,
      "the probe must cover all five fingerprint families")
    assert(s1.forall(_.postings > 0L),
      "every family must produce postings at the base decade")
    val bad = DfProbe.saturationViolations(s1, s10)
    assert(bad.isEmpty,
      s"a fingerprint family's natural df is SATURATING: " +
        bad.mkString("; "))
  }

  test("saturation guard CATCHES a planted fixed-width-universe " +
    "family (the 16-bit audio-pack failure class)") {
    // the planted family keys every document into a 128-value
    // universe — exactly the too-few-possible-keys shape: natural df
    // tracks n, so p99 grows ~10x across the decade
    def plantedPosts(copies: Int) = decadeDocs(copies)
      .select((conv(substring(md5(col("text")), 1, 4), 16, 10)
        .cast("long") % 128).as("fp"))
    val p1 = DfProbe.statsOf("planted_16bit_style",
      plantedPosts(1), Seq("fp"), Long.MaxValue)
    val p10 = DfProbe.statsOf("planted_16bit_style",
      plantedPosts(10), Seq("fp"), Long.MaxValue)
    assert(p10.p99Df > p1.p99Df * 4,
      s"the planted universe must actually saturate " +
        s"(p99 ${p1.p99Df} -> ${p10.p99Df})")
    val bad = DfProbe.saturationViolations(Seq(p1), Seq(p10))
    assert(bad.nonEmpty && bad.head.contains("planted_16bit_style"),
      "the guard must flag the planted saturating family")
    // and a HEALTHY family with identical decade counts passes: the
    // guard keys on df growth, not corpus growth
    val h1 = DfProbe.statsOf("healthy",
      decadeDocs(1).select(md5(col("text")).as("fp")),
      Seq("fp"), Long.MaxValue)
    val h10 = DfProbe.statsOf("healthy",
      decadeDocs(10).select(md5(col("text")).as("fp")),
      Seq("fp"), Long.MaxValue)
    assert(DfProbe.saturationViolations(Seq(h1), Seq(h10)).isEmpty,
      "a collision-free universe must pass the guard")
  }
}
