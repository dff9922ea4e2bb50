package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import graft.Tables
import graft.observe.{ArtifactSpec, Decomp, IndexStore}

/** Lexical + hybrid retrieval over the document corpus — the search
  * face of the LLM-data toolbox (SURVEY §2.12 extensions). The
  * reference delegates all search to its warehouse
  * (`table_discovery.py:24-40` issues raw SQL); here the ranking
  * itself is the operator.
  *
  * Scale design, 100 TB edition:
  *
  *  - the corpus is tokenized ONCE per query into a `(doc, term, tf)`
  *    relation (one hash-agg shuffle keyed by doc×term — map-side
  *    combinable, the same shape a distributed inverted-index build
  *    emits);
  *  - document-frequency and corpus stats are vocabulary- and
  *    scalar-sized → BROADCAST to the posting side, never the
  *    reverse;
  *  - the query set is tiny → BROADCAST onto postings, so scoring is
  *    a map-side join over the tf relation: no shuffle grows with
  *    the corpus except the per-(query,doc) score agg, whose width
  *    is bounded by |queries| × |matching docs|;
  *  - final ranking uses the bounded-heap top-k aggregator
  *    ([[graft.functions.TopK.topKAggOf]]), shuffling k rows per
  *    query instead of sorting every scored doc.
  *
  * Oracle parity: scores are summed as integer micro-units —
  * `round(idf₆ · w · 10⁶)` per term BEFORE the sum — so the
  * per-(query,doc) total is order-independent and bit-identical in
  * both engines (the q96 PQ-LUT trick); `idf` itself is rounded to
  * 6 dp first so a last-ulp `ln` difference between libm and
  * `Math.log` cannot reach the micro-unit boundary.
  */
object Retrieval {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.load(s, dir, "documents")

  /** BM25 hyper-parameters — the textbook defaults. The oracle writes
    * them in e-notation (`1.2e0`) because BOTH engines parse a bare
    * `1.2` as DECIMAL, whose exact-decimal arithmetic diverges from
    * the IEEE-double path Spark's `lit(1.2)` takes (e.g. decimal
    * `tf*2.2` re-rounds, double multiply doesn't). `k1 + 1` is spelled
    * `2.2` on both sides rather than trusting constant folding. */
  private val k1 = 1.2
  private val k1Plus1 = 2.2
  private val b = 0.75
  private val oneMinusB = 0.25
  private val rrfK = 60

  /** The fixed probe query set, shared verbatim by Spark and the
    * oracle. Terms come from the corpus vocabulary so every query
    * has matches at every scale factor. */
  private val querySet: Seq[(Int, String)] = Seq(
    1 -> "spark join window",
    2 -> "hash table scan",
    3 -> "stream batch data",
    4 -> "filter sort merge")

  private def queryTerms(s: SparkSession): DataFrame = {
    import s.implicits._
    querySet.toDF("query_id", "qtext")
      .select(col("query_id"), explode(split(col("qtext"), " ")).as("term"))
      .distinct() // query-term SET semantics (mirrored in the oracle)
  }

  private def docsSrc(dir: String): String = s"$dir/documents.parquet"

  /** Per-(doc, term) postings of a document slice: `(doc_id, term, tf,
    * dl)` with the doc length CARRIED on every row, so scoring needs no
    * tf⋈dl join at read time. Build-side only (two shuffles: the
    * doc×term hash-agg and the per-doc length window); readers get a
    * plain parquet scan. */
  private def postingsOf(d: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("doc_id"))
    d.select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("dl", sum(col("tf")).over(w))
  }

  /** The inverted index as a persisted [[graft.observe.IndexStore]]
    * artifact — at 100 TB a retriever that re-tokenizes the corpus per
    * query is not an index, it is a full scan with extra steps. The
    * postings relation is FILE-DECOMPOSABLE (per-(doc, term) rows with
    * the doc length carried in-row — a document never spans source
    * files), so it rides the SEGMENTED store (E157): a pure append
    * indexes only the added files into a chained delta segment, and a
    * takedown EXCISES only the touched segments instead of
    * re-tokenizing the corpus (previously any deletion full-rebuilt).
    * Document-frequency and corpus totals are NOT persisted — they
    * are vocabulary-sized aggregations of the chain computed at read,
    * so neither an append nor an excision can stale them. */
  private[graft] val bm25PostingsSpec: ArtifactSpec = ArtifactSpec(
    "bm25_postings", 1, "documents", Decomp.Segmented((s, _) =>
      files => postingsOf(Tables.scan(s, files)
        .repartition(s.sparkContext.defaultParallelism))))

  private[graft] def bm25Postings(s: SparkSession, dir: String): DataFrame =
    IndexStore.read(s, bm25PostingsSpec, dir)

  /** Per-(query, doc) BM25 score in integer micro-units, plus the
    * doc's matched-term stats — the shared scoring core of
    * [[bm25TopK]] and [[hybridRrf]]. Reads [[bm25Postings]]; the only
    * per-query corpus-sized work is one scan of the postings chain. */
  private def bm25Scores(s: SparkSession, dir: String): DataFrame = {
    val tf = bm25Postings(s, dir)
    // document frequency restricted to the QUERY TERMS before the
    // broadcast: the full df relation is VOCABULARY-sized (Heaps' law
    // — not broadcastable at 100 TB), but scoring only ever needs the
    // df of terms some query contains, and postings rows are unique
    // per (doc, term), so counting the restricted postings IS the df
    // of those terms. The restriction itself is a broadcast semi-join
    // of the tiny term set onto the postings scan — O(query terms)
    // rows reach the driver, never the vocabulary.
    val dfr = tf
      .join(broadcast(queryTerms(s).select(col("term")).distinct()), "term")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    // n_docs via the parquet-metadata count (footer-only, as the oracle's
    // count(*)); n_toks from the index itself (Σtf ≡ token count).
    val stat = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      .crossJoin(tf.agg(sum(col("tf")).as("n_toks")))
    // idf rounded to 6 dp: ln(1 + (N - df + 0.5)/(df + 0.5))
    val idf = round(
      log(lit(1) + (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5))),
      6)
    val avgdl = col("n_toks").cast("double") / col("n_docs")
    val w = col("tf") * lit(k1Plus1) /
      (col("tf") + lit(k1) * (lit(oneMinusB) + lit(b) * col("dl") / avgdl))
    broadcast(queryTerms(s))
      .join(tf, "term")
      .join(broadcast(dfr), "term")
      .crossJoin(broadcast(stat))
      .select(col("query_id"), col("doc_id"),
        round(idf * w * lit(1000000.0), 0).cast("bigint").as("contrib_micro"))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("contrib_micro")).as("score_micro"))
  }

  /** Heap-rank `scored` per query_id: top `depth` by
    * (`scoreCol` desc, doc_id asc), emitted as (query_id, rank, doc_id,
    * scoreCol). The scores passed in are integer-valued (micro-units),
    * so the double heap key is exact. */
  private def heapRanked(scored: DataFrame, scoreCol: String, depth: Int): DataFrame = {
    val topk = udaf(graft.functions.TopK.topKAggOf(depth),
      ExpressionEncoder[graft.functions.TopK.Item]())
    scored
      .groupBy(col("query_id"))
      .agg(topk(col(scoreCol).cast("double"), col("doc_id")).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("r", "item")))
      .select(col("query_id"), (col("r") + 1).cast("bigint").as("rank"),
        col("item._2").as("doc_id"),
        col("item._1").cast("bigint").as(scoreCol))
  }

  /** q108: BM25 top-10 per probe query. One corpus tokenize, broadcast
    * df/stats/queries, bounded-heap ranking — see the object doc for
    * the 100 TB layout. */
  def bm25TopK(s: SparkSession, dir: String): DataFrame =
    heapRanked(bm25Scores(s, dir), "score_micro", 10)
      .orderBy(col("query_id"), col("rank"))

  /** Per-(query, doc) character-trigram Jaccard in integer micro-units
    * — the typo-robust lexical companion ranking fused by
    * [[hybridRrf]]. Trigram sets are distinct 3-char substrings; the
    * corpus side is one explode + distinct (linear in text size), the
    * query side is broadcast. */
  private def trigramScores(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // The whole leg is MAP-ONLY before the heap: the 4 query trigram
    // SETS broadcast onto the corpus and the overlap is an in-row
    // `array_intersect` — no (doc, trigram) explode (an earlier draft
    // exploded 700 k interpreted-Generate rows and paid 2 s at sf0.1
    // for it), no shuffle that grows with the corpus. Per-doc trigram
    // sets are built in-row by the [[graft.functions.CharTrigrams]]
    // expression (one pass, element-identical to the
    // array_distinct∘transform∘substring formulation — equivalence
    // spec'd in RetrievalSpec). The scan is spread (`loadSpread`):
    // trigram construction is per-row CPU, so a row-group-bound scan
    // would serialize it.
    val tgCol = graft.functions.GraftFx.charTrigrams(col("text"))
    val dts = Tables.loadSpread(s, dir, "documents")
      .select(col("doc_id"), tgCol.as("tgs"))
    val qts = querySet.toDF("query_id", "qtext")
      .select(col("query_id"), col("qtext").as("text"))
      .select(col("query_id"), tgCol.as("qtgs"))
    dts.crossJoin(broadcast(qts))
      .select(col("query_id"), col("doc_id"),
        graft.functions.GraftFx.intersectCount(
          col("tgs"), col("qtgs")).as("common"),
        size(col("tgs")).as("n_doc"), size(col("qtgs")).as("n_q"))
      .filter(col("common") > 0)
      .select(col("query_id"), col("doc_id"),
        round(col("common") * lit(1000000.0) /
          (col("n_doc") + col("n_q") - col("common")), 0)
          .cast("bigint").as("jac_micro"))
  }

  /** Candidate-list depth for rank fusion — fusing full corpus
    * rankings would make every retriever shuffle O(corpus); standard
    * RRF fuses bounded candidate lists. */
  private val rrfDepth = 100

  /** q109: hybrid retrieval — reciprocal-rank fusion (Cormack et al.,
    * SIGIR'09: `score(d) = Σ_lists 1/(60 + rank_d)`) of the BM25
    * ranking and the character-trigram Jaccard ranking, each truncated
    * to a depth-100 candidate list by the bounded heap. The fusion
    * join is candidate-list-sized (O(queries × depth)) regardless of
    * corpus size — the part that scales is exactly the two retrievers,
    * which are scored map-side like [[bm25Scores]].
    *
    * Parity: ranks are integers, so `1/(60+rank)` is the identical
    * double in both engines and the 2-term sum is order-free; the
    * fused score is emitted in 1e8-units. */
  def hybridRrf(s: SparkSession, dir: String): DataFrame = {
    val bm = heapRanked(bm25Scores(s, dir), "score_micro", rrfDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_bm25"))
    val tri = heapRanked(trigramScores(s, dir), "jac_micro", rrfDepth)
      .select(col("query_id"), col("doc_id"), col("rank").as("rank_tri"))
    val fused = bm.join(tri, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf_e8",
        round((coalesce(lit(1.0) / (lit(rrfK) + col("rank_bm25")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(rrfK) + col("rank_tri")), lit(0.0))) *
          lit(100000000.0), 0).cast("bigint"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("rrf_e8").desc, col("doc_id"))
    fused
      .withColumn("rank", row_number().over(w).cast("bigint"))
      .filter(col("rank") <= 10)
      .select(col("query_id"), col("rank"), col("doc_id"), col("rrf_e8"),
        col("rank_bm25"), col("rank_tri"))
      .orderBy(col("query_id"), col("rank"))
  }

  // ---------------------------------------------------------------- oracles

  private val duckQueries =
    querySet.map { case (id, t) => s"($id, '$t')" }.mkString(", ")

  /** The BM25 scoring pipeline as a DuckDB CTE chain ending in
    * `sc(query_id, doc_id, score_micro)` — every arithmetic step is
    * written in the same order as [[bm25Scores]]. */
  private val duckBm25: String =
    s"""toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
       |  FROM documents),
       |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
       |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
       |dfr AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
       |stat AS (SELECT (SELECT count(*) FROM documents) AS n_docs,
       |  (SELECT count(*) FROM toks) AS n_toks),
       |q AS (SELECT * FROM (VALUES $duckQueries) AS t(query_id, qtext)),
       |qt AS (SELECT DISTINCT query_id, term FROM
       |  (SELECT query_id, unnest(string_split(qtext, ' ')) AS term FROM q)),
       |sc AS (SELECT query_id, doc_id,
       |    CAST(sum(CAST(round(
       |      round(ln(1 + (n_docs - df + 0.5e0) / (df + 0.5e0)), 6)
       |      * (tf * ${k1Plus1}e0
       |         / (tf + ${k1}e0 * (${oneMinusB}e0 + ${b}e0 * dl / (n_toks * 1.0 / n_docs))))
       |      * 1000000.0) AS BIGINT)) AS BIGINT) AS score_micro
       |  FROM qt JOIN tf USING (term) JOIN dl USING (doc_id)
       |  JOIN dfr USING (term) CROSS JOIN stat GROUP BY 1, 2)""".stripMargin

  /** The trigram-Jaccard pipeline as a CTE chain ending in
    * `tj(query_id, doc_id, jac_micro)`. */
  private val duckTrigram: String =
    s"""dts AS (SELECT doc_id, list_distinct([text[i : i+2]
       |    for i in generate_series(1, greatest(length(text) - 2, 1))]) AS tgs
       |  FROM documents),
       |qts AS (SELECT query_id, list_distinct([qtext[i : i+2]
       |    for i in generate_series(1, greatest(length(qtext) - 2, 1))]) AS qtgs
       |  FROM q),
       |tj AS (SELECT query_id, doc_id,
       |    CAST(round(common * 1000000.0 / (n_doc + n_q - common))
       |      AS BIGINT) AS jac_micro
       |  FROM (SELECT query_id, doc_id,
       |        len(list_intersect(tgs, qtgs)) AS common,
       |        len(tgs) AS n_doc, len(qtgs) AS n_q
       |        FROM dts CROSS JOIN qts)
       |  WHERE common > 0)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q108_bm25_topk" -> bm25TopK,
    "q109_hybrid_rrf" -> hybridRrf)

  val oracles: Map[String, String] = Map(
    "q108_bm25_topk" ->
      s"""WITH $duckBm25,
         |r AS (SELECT query_id, doc_id, score_micro, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_micro DESC, doc_id) AS rank
         |  FROM sc)
         |SELECT query_id, rank, doc_id, score_micro FROM r
         |WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin,
    "q109_hybrid_rrf" ->
      s"""WITH $duckBm25,
         |$duckTrigram,
         |bmr AS (SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY score_micro DESC, doc_id)
         |    AS rank_bm25 FROM sc),
         |trr AS (SELECT query_id, doc_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY jac_micro DESC, doc_id)
         |    AS rank_tri FROM tj),
         |fused AS (SELECT query_id, doc_id, rank_bm25, rank_tri,
         |    CAST(round((coalesce(1.0 / ($rrfK + rank_bm25), 0.0)
         |      + coalesce(1.0 / ($rrfK + rank_tri), 0.0)) * 100000000.0)
         |      AS BIGINT) AS rrf_e8
         |  FROM (SELECT * FROM bmr WHERE rank_bm25 <= $rrfDepth) b
         |  FULL OUTER JOIN (SELECT * FROM trr WHERE rank_tri <= $rrfDepth) t
         |  USING (query_id, doc_id)),
         |rk AS (SELECT query_id, doc_id, rrf_e8, rank_bm25, rank_tri,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf_e8 DESC, doc_id) AS rank
         |  FROM fused)
         |SELECT query_id, rank, doc_id, rrf_e8, rank_bm25, rank_tri
         |FROM rk WHERE rank <= 10 ORDER BY query_id, rank""".stripMargin)
}
