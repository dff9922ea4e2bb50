package graft

import java.sql.Timestamp

import org.scalacheck.{Gen, Prop, Test => SCTest}

import graft.ops.Relational
import graft.stream.Sensors
import graft.stream.Sensors.UpdateEvent

/** Operator-family goldens + the rising-edge fold oracle (SURVEY §5.2). */
class RelationalSpec extends SparkSuite {

  test("every declared query returns rows with stable schema at sf0.001") {
    val qs = SparkEntry.queries
    assert(qs.nonEmpty)
    qs.foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = df.count()
      assert(n > 0, s"$name returned 0 rows")
      assert(df.columns.nonEmpty, s"$name has no columns")
    }
  }

  test("every query has an oracle or a documented test-only gate") {
    // Streaming ops are the only intentionally oracle-less operators;
    // everything in SparkEntry.queries must carry oracle SQL.
    val missing = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    assert(missing.isEmpty, s"queries without oracle: $missing")
  }

  test("q66 staleness scope: an append to a REFERENCED table is " +
    "visible on the next call; the cached views are keyed per-table, " +
    "not on a warehouse-wide listing") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_q66").toString
    Seq("customer", "orders", "lineitem").foreach { t =>
      Tables.load(s, sf, t).write.parquet(s"$dir/$t.parquet")
    }
    val r1 = Relational.sqlSurface(s, dir).collect()
    assert(r1.nonEmpty)
    val marker = s.conf.get("graft.sqlSurface.viewsState")
    // an unchanged warehouse re-serves the cached views: same marker
    Relational.sqlSurface(s, dir).collect()
    assert(s.conf.get("graft.sqlSurface.viewsState") === marker)
    // append a jackpot line item for the current top order — if the
    // cached view pinned its file-index snapshot, the next call would
    // serve pre-append data (the IndexStore staleness class)
    val topKey = r1.head.getLong(0)
    Thread.sleep(5)
    s.read.parquet(s"$dir/lineitem.parquet")
      .limit(1)
      .withColumn("l_orderkey", lit(topKey))
      .withColumn("l_extendedprice", lit(9.9e8))
      .withColumn("l_discount", lit(0.0))
      .write.mode("append").parquet(s"$dir/lineitem.parquet")
    val r2 = Relational.sqlSurface(s, dir).collect()
    assert(s.conf.get("graft.sqlSurface.viewsState") !== marker,
      "a referenced-table append must move the staleness key")
    val rev1 = r1.find(_.getLong(0) == topKey).get.getDouble(1)
    val rev2 = r2.find(_.getLong(0) == topKey).get.getDouble(1)
    assert(rev2 > rev1 + 9.0e8,
      s"the appended line item must be visible: $rev1 -> $rev2")
  }

  test("flagship golden: only NATION_1 customers, ordered by key") {
    val rows = Relational.flagship(spark, sf).collect()
    assert(rows.nonEmpty)
    assert(rows.forall(_.getString(3) == "NATION_1"))
    val keys = rows.map(_.getLong(0)).toSeq
    assert(keys == keys.sorted)
  }

  test("pricing summary totals equal full-table count") {
    val total = Relational.pricingSummary(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("count_order")).head().getLong(0)
    assert(total === Tables.load(spark, sf, "lineitem").count())
  }

  test("property: batch rising edge == fold oracle on random sequences") {
    val s = spark
    import s.implicits._
    // random per-key event sequences; states from the sensor vocabulary
    val stateGen = Gen.oneOf("RUNNING", "PENDING", "COMPLETED", "FAILED", "CANCELED")
    val evGen = for {
      ent <- Gen.choose(0L, 2L)
      upd <- Gen.choose(0L, 2L)
      st <- stateGen
      t <- Gen.choose(0L, 9999L)
    } yield UpdateEvent(ent, upd, st, new Timestamp(t * 1000))
    val seqGen = Gen.choose(0, 25).flatMap(n => Gen.listOfN(n, evGen))

    def foldOracle(evs: Seq[UpdateEvent]): Set[(Long, Long, String)] =
      evs.groupBy(e => (e.entityId, e.updateId)).flatMap { case ((en, up), g) =>
        g.sortBy(e => (e.ts.getTime, e.state))
          .find(e => Sensors.terminal(e.state))
          .map(e => (en, up, e.state))
      }.toSet

    val prop = Prop.forAllNoShrink(seqGen) { evs =>
      // batch execution of the streaming function: state starts empty,
      // each group processed once — semantically the one-batch run
      val got = Sensors.risingEdge(s.createDataset(evs))
        .collect().map(e => (e.entityId, e.updateId, e.state)).toSet
      got == foldOracle(evs)
    }
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(10), prop)
    assert(res.passed, res.status.toString)
  }

  test("price histogram partitions the table: bucket counts sum to row " +
    "count and min/max stay inside bucket bounds") {
    val rows = Relational.priceHistogram(spark, sf).collect()
    val total = rows.map(_.getLong(2)).sum
    val flags = Tables.load(spark, sf, "lineitem").count()
    assert(total === flags)
    rows.foreach { r =>
      val bucket = r.getLong(1)
      val lo = bucket * 5000.0
      assert(r.getDouble(3) >= lo && r.getDouble(3) < lo + 5000.0)
      assert(r.getDouble(4) >= r.getDouble(3) && r.getDouble(4) < lo + 5000.0)
    }
  }

  test("rolling 7-day revenue equals an in-memory trailing-window fold") {
    val rows = Relational.rollingRevenue(spark, sf).collect()
      .map(r => (r.getDate(0).toLocalDate, r.getDouble(1), r.getDouble(2)))
    assert(rows.nonEmpty)
    val byDay = rows.map(r => r._1 -> r._2).toMap
    rows.foreach { case (d, _, rolling) =>
      val expect = BigDecimal(
        (0 to 6).flatMap(k => byDay.get(d.minusDays(k.toLong))).sum)
        .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(rolling - expect) < 1e-6, s"day $d: $rolling != $expect")
    }
  }

  test("rollup: grand total row equals corpus size; per-lang subtotals " +
    "sum to it") {
    val rows = Relational.rollupDocCounts(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val grand = rows.collect { case ("ALL", "ALL", n) => n }
    assert(grand.length === 1)
    assert(grand.head === Tables.load(spark, sf, "documents").count())
    val langTotals = rows.collect { case (l, "ALL", n) if l != "ALL" => n }.sum
    assert(langTotals === grand.head)
    val leaves = rows.collect { case (l, s, n) if l != "ALL" && s != "ALL" => n }.sum
    assert(leaves === grand.head)
  }

  test("sliding windows double-count: sum(n) == 2 x events (each event " +
    "in exactly size/slide windows)") {
    val total = Relational.slidingEventStats(spark, sf)
      .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
    assert(total === 2 * Tables.load(spark, sf, "events").count())
  }

  test("exact profile matches SQL NULL semantics on a nullable column") {
    val s = spark
    import s.implicits._
    // 5 rows, one NULL: count(*) = 5, count(DISTINCT c) = 2 (NULL
    // excluded), avg = mean of the 4 non-NULL values only.
    val df = Seq(Some(1.0), Some(1.0), Some(3.0), Some(3.0), None)
      .toDF("c")
    val r = graft.ops.Relational.profileExact(df, Seq("c")).head()
    assert(r.getAs[Long]("n_rows") === 5L)
    assert(r.getAs[Long]("n_distinct") === 2L)
    assert(r.getAs[Double]("avg_v") === 2.0)
    assert(r.getAs[Double]("min_v") === 1.0 && r.getAs[Double]("max_v") === 3.0)
  }

  test("sanitize_name is idempotent (F1)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    val once = Seq("a b-c!", "x__y", "0 9.z").toDF("n")
      .select(regexp_replace(col("n"), "[^a-zA-Z0-9_]+", "_").as("s1"))
      .select(col("s1"), regexp_replace(col("s1"), "[^a-zA-Z0-9_]+", "_").as("s2"))
      .collect()
    once.foreach(r => assert(r.getString(0) === r.getString(1)))
  }

  test("q137 lift/confidence micro-units are exact past BIGINT: the " +
    "decimal cross-multiply equals BigInt arithmetic in the overflow " +
    "regime") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions.expr
    // counts at web-corpus scale: n_uv·N·10⁶ ≈ 10³³ — a plain BIGINT
    // multiply wraps silently here; the DECIMAL(38,0) form must not
    val cases = Seq(
      (912345678901L, 1987654321098L, 2345678901L, 3456789012L),
      (1L, 9007199254740993L, 97L, 101L), // > 2^53: double math would drift
      (500000000000L, 800000000000L, 123456789L, 987654321L))
    val got = cases.toDF("n_uv", "n_baskets", "n_u", "n_w")
      .select(
        expr("""cast(cast(n_uv as decimal(38,0)) * n_baskets * 1000000
               |  div (cast(n_u as decimal(38,0)) * n_w) as bigint)"""
          .stripMargin).as("lift"),
        expr("cast(cast(n_uv as decimal(38,0)) * 1000000 div n_u as bigint)")
          .as("conf"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val want = cases.map { case (uv, nb, u, w) =>
      ((BigInt(uv) * nb * 1000000 / (BigInt(u) * w)).toLong,
        (BigInt(uv) * 1000000 / u).toLong)
    }
    assert(got.toSeq === want)
  }

  test("q134/q137 basket admission: a planted mega-basket is excluded, " +
    "no admitted basket exceeds the derived cap, normals untouched") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_megabasket").toString
    // 300 normal 2-item baskets + one 200-item bot/bulk basket.
    // cap = max(64, 8*floor(log2(301))) = 64, so the bot basket (200)
    // is excluded BEFORE any array is collected and every admitted
    // basket is provably ≤ cap items wide.
    val normal = (1 to 300).flatMap(ok =>
      Seq((ok.toLong, (ok % 50).toLong), (ok.toLong, (ok % 50 + 50).toLong)))
    val mega = (1 to 200).map(p => (9999L, p.toLong))
    (normal ++ mega).toDF("l_orderkey", "l_partkey")
      .write.mode("overwrite").parquet(s"$dir/lineitem.parquet")
    val baskets = Relational.admittedBaskets(spark, dir).collect()
    assert(!baskets.exists(_.getLong(0) == 9999L),
      "the mega-basket must be excluded by the admission cap")
    assert(baskets.length === 300)
    assert(baskets.forall(_.getSeq[Long](1).size <= 64),
      "an admitted basket exceeds the derived cap")
    // and q137 over the same dir never sees a mega-basket pair: parts
    // 51..200 appear ONLY in the bot basket, so no result pair touches
    // them
    val pairs = Relational.associationRules(spark, dir).collect()
    assert(pairs.nonEmpty)
    assert(pairs.forall(r => r.getLong(0) <= 100 && r.getLong(1) <= 100))
  }

  test("q136 funnel: a planted bot user truncates at the bounded heap " +
    "and is flagged in n_truncated; normal users fold unchanged") {
    val s = spark
    import s.implicits._
    val dir = tempDir("graft_botuser").toString
    val base = 1700000000000000L // epoch micros
    def ts(us: Long) = new Timestamp(us / 1000)
    // bot: 2000 relevant view events (cap floor = 1024 > 32*log2(n));
    // funnel user: view -> click(+1h) -> purchase(+2h) = stage 3;
    // error-only user: no relevant events = stage 0 via the left join
    val bot = (1 to 2000).map(i =>
      (1L, ts(base + i * 1000000L), i.toLong, "view"))
    val funnel = Seq(
      (2L, ts(base), 10001L, "view"),
      (2L, ts(base + 3600L * 1000000), 10002L, "click"),
      (2L, ts(base + 7200L * 1000000), 10003L, "purchase"))
    val errOnly = Seq((3L, ts(base), 10004L, "error"))
    (bot ++ funnel ++ errOnly)
      .toDF("user_id", "ts", "event_id", "event_type")
      .selectExpr("*", "0.0 AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val rows = Relational.funnelStages(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(rows(0L) === ((1L, 0L)), "error-only user must be stage 0")
    assert(rows(1L) === ((1L, 1L)),
      "bot user must reach stage 1 (views only) AND be flagged truncated")
    assert(rows(3L) === ((1L, 0L)), "funnel user must complete stage 3")
  }

  test("q138 day-fold ≡ global adjacent pairs (window-lead reference, " +
    "midnight boundaries and same-ts ties planted)") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val dir = tempDir("graft_dayfold").toString
    val day = 86400000000L
    val base = (1700000000000000L / day) * day // exact UTC midnight
    def ts(us: Long) = new Timestamp(us / 1000)
    val rows = Seq(
      // user 1: events straddling three days, incl. one event exactly
      // AT midnight (first of its day) and a same-ts tie broken by id
      (1L, ts(base + 100), 1L, "view"),
      (1L, ts(base + 200), 2L, "click"),
      (1L, ts(base + day), 3L, "view"), // exactly midnight day 2
      (1L, ts(base + day + 50), 4L, "purchase"),
      (1L, ts(base + 2 * day + 9), 5L, "error"),
      (1L, ts(base + 2 * day + 9), 6L, "view"), // tie with id 5
      // user 2: single-day stream (no boundary pairs at all)
      (2L, ts(base + 7), 7L, "click"),
      (2L, ts(base + 8), 8L, "click"),
      // user 3: one event per day (ONLY boundary pairs)
      (3L, ts(base + 1), 9L, "view"),
      (3L, ts(base + day + 1), 10L, "click"),
      (3L, ts(base + 3 * day + 1), 11L, "purchase"))
    rows.toDF("user_id", "ts", "event_id", "event_type")
      .selectExpr("*", "0.0 AS value", "'{}' AS props")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = Relational.eventTransitions(spark, dir).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val ref = Tables.load(spark, dir, "events")
      .withColumn("nxt", lead(col("event_type"), 1).over(
        Window.partitionBy(col("user_id"))
          .orderBy(col("ts"), col("event_id"))))
      .filter(col("nxt").isNotNull)
      .groupBy(col("event_type"), col("nxt")).count().collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === ref)
  }
}
