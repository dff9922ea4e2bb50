package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Synthesize an N× scale fixture from an existing sf dir by unioning
  * re-keyed copies — the empirical scaling probe's data generator
  * (`runMain graft.SynthScale <srcSfDir> <outDir> <copies>`).
  *
  * Every integer key space is offset by a per-copy stride so copies
  * never collide and referential joins stay consistent (orders↔
  * lineitem↔part↔customer all offset together); nation/region are
  * shared dimensions and stay single. Two columns are PERTURBED
  * rather than copied:
  *
  *  - `documents.text` goes through a per-copy substitution cipher
  *    (alphabet rotation; copy 0 is the identity). A verbatim copy
  *    would make every document a 10-way near-duplicate, and the
  *    near-dup/shingle operators' PAIR output would grow
  *    quadratically in the copy count — a property of that synthetic
  *    data, not of the engine, and exactly what a scaling probe must
  *    not measure. The cipher preserves length, word structure, and
  *    token frequencies' SHAPE while making shingles disjoint across
  *    copies.
  *  - `embeddings.embedding` gets a per-copy epsilon on its first
  *    component so vector ops see distinct points, not 10-way ties.
  */
object SynthScale {
  private val stride = 1000000000L

  /** The hot key of zipf mode — a real customer key, so the skewed
    * events still join (q118's heavy path must detect and replicate
    * it, not drop it). */
  val hotUser = 1L

  /** Zipf mode's hot PRODUCT — a real part key landing on ~30% of
    * lineitem rows, so one co-purchase hub vertex reaches almost
    * every basket: the adversarial graph for q134 (hub degree ≈
    * catalog size; orientation must keep its out-list small and the
    * dst-hash join must absorb the hub partition) and for q137 (one
    * item in nearly every pair). Basket SIZES are untouched, so the
    * admission cap deliberately does NOT fire. */
  val hotPart = 1L

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: SynthScale <srcSfDir> <outDir> <copies> [zipf] " +
        "[tables=a,b,..]")
    val (src, out, copies) = (args(0), args(1), args(2).toInt)
    // optional table filter (tables=embeddings,documents): a probe
    // that scales ONE modality three-plus decades (the E118/E214
    // discipline) need not pay a 15 GB lineitem synthesis for a
    // 500 MB embeddings question
    val tablesFilter: Option[Set[String]] = args.drop(3)
      .find(_.startsWith("tables="))
      .map(_.stripPrefix("tables=").split(",").toSet)
    def want(n: String): Boolean = tablesFilter.forall(_.contains(n))
    // zipf mode: ~30% of event rows land on ONE user, ~30% of documents
    // on ONE source/domain with ONE dominant token — the adversarial
    // fixture for the skew-targeted operators (salted token freq,
    // domain caps, replicated skew join, bot-user funnel/transitions).
    // The hot assignment deliberately IGNORES the per-copy offset:
    // skew must be global, or 10 copies would dilute one 30% key into
    // ten 3% keys and measure nothing.
    val zipf = args.length > 3 && args(3) == "zipf"
    val spark = Session()

    def off(c: Column, i: Int): Column = c + lit(i * stride)
    def cp(name: String)(f: (DataFrame, Int) => DataFrame): Unit =
      if (want(name)) {
        val base = spark.read.parquet(s"$src/$name.parquet")
        // batched union + append: a single N-way union is an N-node
        // linear plan whose analysis cost explodes past a few hundred
        // copies (the 1000× probe fixtures) — 50-copy batches keep
        // every plan shallow at identical output
        (0 until copies).grouped(50).zipWithIndex.foreach {
          case (is, bi) =>
            is.map(i => f(base, i)).reduce(_ unionByName _)
              .write.mode(if (bi == 0) "overwrite" else "append")
              .parquet(s"$out/$name.parquet")
        }
      }

    Seq("region", "nation").filter(want).foreach { n => // shared dims
      spark.read.parquet(s"$src/$n.parquet")
        .write.mode("overwrite").parquet(s"$out/$n.parquet")
    }
    cp("customer")((d, i) =>
      d.withColumn("c_custkey", off(col("c_custkey"), i)))
    cp("supplier")((d, i) =>
      d.withColumn("s_suppkey", off(col("s_suppkey"), i)))
    cp("part")((d, i) =>
      d.withColumn("p_partkey", off(col("p_partkey"), i)))
    cp("orders")((d, i) => d
      .withColumn("o_orderkey", off(col("o_orderkey"), i))
      .withColumn("o_custkey", off(col("o_custkey"), i)))
    cp("lineitem")((d, i) => {
      val rekeyed = d
        .withColumn("l_orderkey", off(col("l_orderkey"), i))
        .withColumn("l_partkey", off(col("l_partkey"), i))
        .withColumn("l_suppkey", off(col("l_suppkey"), i))
      if (!zipf) rekeyed
      else rekeyed.withColumn("l_partkey",
        when(pmod(col("l_orderkey") + col("l_linenumber"), lit(10)) < 3,
          lit(hotPart)).otherwise(col("l_partkey")))
    })
    cp("events")((d, i) => {
      val rekeyed = d
        .withColumn("event_id", off(col("event_id"), i))
        .withColumn("user_id", off(col("user_id"), i))
      if (!zipf) rekeyed
      else rekeyed.withColumn("user_id",
        when(col("event_id") % 10 < 3, lit(hotUser))
          .otherwise(col("user_id")))
    })
    val alpha = "abcdefghijklmnopqrstuvwxyz"
    cp("documents")((d, i) => {
      // per-copy SEEDED PERMUTATION, not rotation: a rotation cipher
      // repeats every 26 copies, so a ≥27-copy fixture would hold
      // verbatim cross-copy duplicates and the near-dup operators'
      // pair counts would grow quadratically in copies/26 — a fixture
      // artifact, not an engine property. Copy 0 stays the identity.
      val rot =
        if (i == 0) alpha
        else new scala.util.Random(i * 2654435761L + 12345)
          .shuffle(alpha.toList).mkString
      val ciphered = d.withColumn("doc_id", off(col("doc_id"), i))
        .withColumn("text", translate(col("text"), alpha, rot))
      if (!zipf) ciphered
      else ciphered
        // the hot 30%: one source (→ one domain for the cap/url ops)
        // and a text that is one token repeated to ~the original
        // length (→ one token carries ~30% of global token mass)
        .withColumn("source",
          when(col("doc_id") % 10 < 3, lit("hotsource"))
            .otherwise(col("source")))
        .withColumn("text",
          when(col("doc_id") % 10 < 3,
            rtrim(repeat(lit("zipfhot "),
              greatest(lit(1), (col("n_chars") / 8).cast("int")))))
            .otherwise(col("text")))
        // the rewrite changed text length (n/8 tokens of 8 chars, the
        // last one trimmed) — keep the stats column honest so fixture
        // checks relying on n_chars ≈ length(text) don't skew, and no
        // trailing space means no empty token in the hot docs
        .withColumn("n_chars",
          when(col("doc_id") % 10 < 3, length(col("text")).cast("long"))
            .otherwise(col("n_chars")))
    })
    // per-copy epsilon BOUNDED at 0.1 total shift regardless of copy
    // count (the E206 fixture-entropy class, vector edition): the
    // fixed /1000 denominator was sized for ≤100 copies — at 1000
    // copies the highest-index copies gained ~1.0 on component 0,
    // dragging DISTINCT bases toward a shared axis and fabricating
    // ~6× extra cross-base cos ≥ 0.4 "near-dups" (measured: 324.9M
    // audit rows where the copy trend predicts ~40M). Denominator
    // max(1000, copies·10) keeps every existing ≤100-copy fixture
    // byte-identical and caps the shift at 0.1 at ANY copy count.
    val epsDen = math.max(1000.0, copies * 10.0)
    cp("embeddings")((d, i) => d
      .withColumn("vec_id", off(col("vec_id"), i))
      .withColumn("embedding",
        transform(col("embedding"), (x, j) =>
          x + when(j === 0, lit(i / epsDen)).otherwise(lit(0.0)))
          .cast("array<float>")))
    spark.stop()
  }
}
