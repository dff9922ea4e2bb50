package graft

import graft.ops.{Llm, Retrieval}

/** Retrieval-operator invariants beyond the DuckDB oracle: ranking
  * shape, cross-operator consistency of the fused lists, and the
  * representative-selection policy. */
class RetrievalSpec extends SparkSuite {

  test("bm25: every probe query returns a full top-10, ordered by " +
    "(score desc, doc_id asc)") {
    val rows = Retrieval.bm25TopK(spark, sf).collect()
    val byQ = rows.groupBy(_.getInt(0))
    assert(byQ.keySet === Set(1, 2, 3, 4))
    byQ.values.foreach { rs =>
      assert(rs.length === 10)
      rs.sortBy(_.getLong(1)).sliding(2).foreach { w =>
        val (a, b) = (w(0), w(1))
        val (sa, sb) = (a.getLong(3), b.getLong(3))
        assert(sa > sb || (sa == sb && a.getLong(2) < b.getLong(2)),
          s"rank order violates (score desc, doc_id asc): $a then $b")
      }
    }
  }

  test("hybrid RRF: fused score is exactly 1/(60+r_bm25)+1/(60+r_tri) " +
    "and the BM25 leg agrees with the standalone q108 ranking") {
    val bm = Retrieval.bm25TopK(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(2)) -> r.getLong(1)).toMap
    val fused = Retrieval.hybridRrf(spark, sf).collect()
    assert(fused.nonEmpty)
    fused.foreach { r =>
      val rb = if (r.isNullAt(4)) None else Some(r.getLong(4))
      val rt = if (r.isNullAt(5)) None else Some(r.getLong(5))
      assert(rb.isDefined || rt.isDefined)
      val expected = math.round((rb.map(x => 1.0 / (60 + x)).getOrElse(0.0) +
        rt.map(x => 1.0 / (60 + x)).getOrElse(0.0)) * 1e8)
      assert(r.getLong(3) === expected)
      // where the fused BM25 rank is within q108's visible top-10, the
      // two operators must have ranked identically
      rb.filter(_ <= 10).foreach { rbv =>
        assert(bm((r.getInt(0), r.getLong(2))) === rbv)
      }
    }
  }

  test("CharTrigrams expression ≡ array_distinct∘transform∘substring, " +
    "elements AND order (incl. empty, short, multi-byte rows)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val edge = Seq((9001L, ""), (9002L, "ab"), (9003L, "abc"),
      (9004L, "aaaa"), (9005L, "héllo wörld"), (9006L, "日本語のテキスト"))
      .toDF("doc_id", "text")
    val d = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "text").union(edge)
    val hof = expr("array_distinct(transform(sequence(1, " +
      "greatest(length(text) - 2, 1)), i -> substring(text, i, 3)))")
    val bad = d.select(col("doc_id"),
        graft.functions.GraftFx.charTrigrams(col("text")).as("got"),
        hof.as("want"))
      .filter(col("got") =!= col("want"))
    assert(bad.count() === 0L)
  }

  test("incremental BM25 index: rankings after a corpus append equal a " +
    "full rebuild, via a chained postings delta") {
    val s = spark
    import org.apache.spark.sql.functions.col
    val dir = tempDir("graft_bm25").toString
    val all = graft.Tables.loadSpread(spark, sf, "documents")
    val tbl = s"$dir/documents.parquet"
    all.filter(col("doc_id") % 5 =!= 0)
      .coalesce(1).write.mode("append").parquet(tbl)
    def rank() = Retrieval.bm25TopK(spark, dir).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    rank() // builds the base artifact
    Thread.sleep(5)
    all.filter(col("doc_id") % 5 === 0)
      .coalesce(1).write.mode("append").parquet(tbl)
    val incr = rank()
    // the delta path must actually have been taken
    val fp = graft.observe.IndexStore.fingerprint(spark, tbl, 1)
    val root = sys.props("java.io.tmpdir").stripSuffix("/") + "/graft-index"
    assert(new java.io.File(s"$root/bm25_postings/fp=$fp/_PARENT").exists(),
      "append must extend the postings chain, not rebuild")
    // correctness: incremental ranking == full rebuild (df/stats are
    // derived from the chain at read, so the delta cannot stale them)
    graft.observe.IndexStore.invalidate(spark, "bm25_postings")
    assert(rank() === incr)
  }

  test("cluster representatives: one rep per q63 cluster, the rep is " +
    "the longest member (ties -> lowest id), chars_dropped adds up") {
    val nChars = spark.read.parquet(s"$sf/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val clusters = Llm.dupClusters(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getString(2).split(",").map(_.toLong).toSeq)
      .toMap
    val reps = Llm.clusterRepresentatives(spark, sf).collect()
    assert(reps.nonEmpty)
    assert(reps.map(_.getLong(0)).toSet === clusters.keySet)
    reps.foreach { r =>
      val members = clusters(r.getLong(0))
      assert(r.getLong(1) === members.size.toLong)
      val expectedRep = members.maxBy(id => (nChars(id), -id))
      assert(r.getLong(2) === expectedRep)
      assert(r.getLong(3) === nChars(expectedRep))
      assert(r.getLong(4) === members.map(nChars).sum - nChars(expectedRep))
    }
  }
}
