package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite
import graft.util.Manifest

class CandlesSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private val trades = Seq(
    // window 10:00: BTC open=100 (earliest), close=103 (latest), high=105, low=99
    (1L, ts("2026-01-01 10:00:05"), "BTC", 100.0),
    (2L, ts("2026-01-01 10:00:20"), "BTC", 105.0),
    (3L, ts("2026-01-01 10:00:30"), "BTC", 99.0),
    (4L, ts("2026-01-01 10:00:50"), "BTC", 103.0),
    // window 10:01: single trade
    (5L, ts("2026-01-01 10:01:10"), "BTC", 110.0),
    // other symbol same window
    (6L, ts("2026-01-01 10:00:15"), "ETH", 10.0)
  ).toDF("event_id", "ts", "event_type", "value")

  test("ohlcv: exact open/high/low/close/count per (window, symbol)") {
    val c = Candles.ohlcv(trades).orderBy("symbol", "window_start")
      .select("symbol", "open", "high", "low", "close", "trade_count")
      .as[(String, Double, Double, Double, Double, Long)].collect()
    c(0) shouldBe (("BTC", 100.0, 105.0, 99.0, 103.0, 4L))
    c(1) shouldBe (("BTC", 110.0, 110.0, 110.0, 110.0, 1L))
    c(2) shouldBe (("ETH", 10.0, 10.0, 10.0, 10.0, 1L))
  }

  test("ohlcv invariants hold on real data (FIXTURES.md §4)") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val c = Candles.ohlcv(ev)
    c.filter(col("high") < greatest(col("open"), col("close"))).count() shouldBe 0
    c.filter(col("low") > least(col("open"), col("close"))).count() shouldBe 0
    c.filter(col("window_end") =!= col("window_start") + expr("INTERVAL 1 MINUTE"))
      .count() shouldBe 0
    // exactly one row per (window_start, symbol)
    c.groupBy("window_start", "symbol").count().filter(col("count") > 1).count() shouldBe 0
    // trade_count conservation
    c.agg(sum("trade_count")).as[Long].head() shouldBe ev.count()
  }

  test("ohlcv is invariant under input row order") {
    val shuffled = trades.orderBy(rand(7))
    val a = Candles.ohlcv(trades).orderBy("symbol", "window_start").collect()
    val b = Candles.ohlcv(shuffled).orderBy("symbol", "window_start").collect()
    a shouldBe b
  }

  test("sliding candles: each trade lands in windowDur/slideDur windows") {
    val c = Candles.ohlcvSliding(trades, "2 minutes", "1 minute", tieCol = Some("event_id"))
    c.agg(sum("trade_count")).as[Long].head() shouldBe trades.count() * 2
    // the 10:00-10:02 window sees both the 10:00 and 10:01 BTC trades
    val w = c.filter(col("window_start") === ts("2026-01-01 10:00:00") &&
      col("symbol") === "BTC").head()
    w.getAs[Long]("trade_count") shouldBe 5L
    w.getAs[Double]("close") shouldBe 110.0
  }

  test("sessions merge events within the gap and split on it") {
    val ev = Seq(
      (1L, ts("2026-01-01 10:00:00"), 7L, 1.0),
      (2L, ts("2026-01-01 10:20:00"), 7L, 2.0), // 20min gap: same session
      (3L, ts("2026-01-01 11:00:00"), 7L, 3.0), // 40min gap: new session
      (4L, ts("2026-01-01 10:00:00"), 8L, 4.0)  // other user
    ).toDF("event_id", "ts", "user_id", "value")
    val s = Candles.sessions(ev, "30 minutes").orderBy("user_id", "session_start")
      .select("user_id", "n_events", "sum_value")
      .as[(Long, Long, Double)].collect()
    s shouldBe Array((7L, 2L, 3.0), (7L, 1L, 3.0), (8L, 1L, 4.0))
  }

  test("typed VWAP Aggregator matches the built-in sum/sum formulation") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
      .withColumn("vol", get_json_object(col("props"), "$.k").cast("double"))
      .filter(col("vol") > 0)
    val vwap = udaf(VwapAggregator)
    val typed = ev.groupBy("event_type")
      .agg(round(vwap(col("value"), col("vol")), 6).as("v"))
    val builtin = ev.groupBy("event_type")
      .agg(round(sum(col("value") * col("vol")) / sum(col("vol")), 6).as("v"))
    typed.orderBy("event_type").collect() shouldBe builtin.orderBy("event_type").collect()
  }

  // ── incremental candle store ──────────────────────────────────────

  private def sortedCandles(df: org.apache.spark.sql.DataFrame) =
    df.withColumn("vwap", round(col("vwap"), 6))
      .orderBy("symbol", "window_start").collect()

  test("partials merged over any split finalize to the full recompute") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val full = Candles.ohlcv(ev, tieCol = Some("event_id"))
    for (m <- Seq(2, 3)) {
      val parts = (0 until m).map(i =>
        Candles.candlePartials(ev.filter(pmod(col("event_id"), lit(m)) === i)))
      val merged = parts.reduce(Candles.mergeCandlePartials)
      sortedCandles(Candles.finalizeCandles(merged)) shouldBe sortedCandles(full)
    }
  }

  test("store lifecycle: build + in-place update equals full recompute") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("candle-store").toString
    Candles.buildCandleStore(ev.filter(pmod(col("event_id"), lit(3)) === 1), store)
    Candles.updateCandleStore(ev.filter(pmod(col("event_id"), lit(3)) === 2), store)
    val t12 = ev.filter(pmod(col("event_id"), lit(3)) =!= 0)
    sortedCandles(Candles.candlesFromStore(spark, store)) shouldBe
      sortedCandles(Candles.ohlcv(t12, tieCol = Some("event_id")))
    // the read-only merge view folds the last tranche in without a write
    sortedCandles(Candles.candlesWithShard(spark, store,
      ev.filter(pmod(col("event_id"), lit(3)) === 0))) shouldBe
      sortedCandles(Candles.ohlcv(ev, tieCol = Some("event_id")))
  }

  test("updateCandleStore rewrites only the shard's date partitions") {
    val day1 = Seq(
      (1L, ts("2026-01-01 10:00:05"), "BTC", 100.0),
      (2L, ts("2026-01-01 10:00:20"), "BTC", 105.0))
    val day2 = Seq(
      (3L, ts("2026-01-02 09:00:00"), "BTC", 99.0),
      (4L, ts("2026-01-02 09:00:30"), "ETH", 10.0))
    val store = graft.util.Scratch.dir("candle-part").toString
    Candles.buildCandleStore((day1 ++ day2)
      .toDF("event_id", "ts", "event_type", "value"), store)
    // a date's live files in the newest committed manifest
    // (data/p_date=D/...); an update must never rewrite an untouched
    // date's files
    def files(date: String): Set[String] =
      Manifest.snapshot(spark, store).files
        .filter(_.startsWith(s"data/p_date=$date/")).toSet
    val day1Before = files("2026-01-01")
    val day2Before = files("2026-01-02")
    day1Before should not be empty
    day2Before should not be empty
    // shard touches only day 2
    Candles.updateCandleStore(Seq((5L, ts("2026-01-02 09:00:45"), "BTC", 101.0))
      .toDF("event_id", "ts", "event_type", "value"), store)
    Manifest.snapshot(spark, store).gen shouldBe 1
    files("2026-01-01") shouldBe day1Before // untouched date NOT rewritten
    files("2026-01-02") should not be empty // touched date rewritten...
    files("2026-01-02") intersect day2Before shouldBe empty // ...replacing its files
    // the untouched files are the same files on disk, never rewritten
    day1Before.foreach(f => new java.io.File(s"$store/$f").exists() shouldBe true)
    val d2 = Candles.candlesFromStore(spark, store)
      .filter(col("symbol") === "BTC" && col("window_start") === ts("2026-01-02 09:00:00"))
      .select("open", "close", "trade_count")
      .as[(Double, Double, Long)].head()
    d2 shouldBe ((99.0, 101.0, 2L))
  }

  test("updateCandleStore with a shardId is idempotent under re-application") {
    val store = graft.util.Scratch.dir("candle-ledger").toString
    Candles.buildCandleStore(Seq(
      (1L, ts("2026-01-01 10:00:05"), "BTC", 100.0))
      .toDF("event_id", "ts", "event_type", "value"), store)
    val shard = Seq((2L, ts("2026-01-01 10:00:20"), "BTC", 105.0))
      .toDF("event_id", "ts", "event_type", "value")
    Candles.updateCandleStore(shard, store, shardId = Some("shard-2"))
    val once = Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect()
    // a retry re-delivers the SAME shard — the ledger makes it a no-op
    // instead of double-counting the additive partials
    Candles.updateCandleStore(shard, store, shardId = Some("shard-2"))
    Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect() shouldBe once
    once.map(_.getAs[Long]("trade_count")).sum shouldBe 2L
  }

  test("compactCandleStore: N update generations collapse to one; answers, " +
      "time travel, and the shard ledger survive") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("candle-compact").toString
    val t = pmod(col("event_id"), lit(4))
    Candles.buildCandleStore(ev.filter(t === 0), store)
    Candles.updateCandleStore(ev.filter(t === 1), store,
      shardId = Some("s1"), retainGenerations = 4)
    Candles.updateCandleStore(ev.filter(t === 2), store,
      shardId = Some("s2"), retainGenerations = 4)
    Candles.updateCandleStore(ev.filter(t === 3), store,
      shardId = Some("s3"), retainGenerations = 4)
    // one live file set accreted per update: the build and the three
    // updates are four retained generations with four distinct sets
    val gensBefore = Manifest.generations(spark, store)
    gensBefore shouldBe Seq(0, 1, 2, 3)
    gensBefore.map(g => Manifest.snapshot(spark, store, Some(g)).files.toSet)
      .distinct.size shouldBe 4
    // live files per date (`data/p_date=D/...`) in the newest manifest
    def perDate(): Map[String, Int] = Manifest.snapshot(spark, store).files
      .groupBy(_.split("/")(1)).view.mapValues(_.size).toMap
    val datesBefore = perDate()
    val filesBefore = Manifest.snapshot(spark, store).files.toSet
    val before = Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect()

    Candles.compactCandleStore(spark, store, retainGenerations = 2)

    // one new generation holds EVERY live date, exactly one file each,
    // all of them the compaction's own writes...
    val newest = Manifest.generations(spark, store).max
    newest shouldBe gensBefore.max + 1
    val compacted = perDate()
    compacted.keySet shouldBe datesBefore.keySet
    all(compacted.values) shouldBe 1
    Manifest.snapshot(spark, store).files.toSet intersect filesBefore shouldBe empty
    // ...and answers are unchanged, byte for byte
    Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect() shouldBe before
    // the pre-compaction generation stays resolvable (time travel)
    Candles.candlesFromStore(spark, store, asOf = Some(gensBefore.max))
      .orderBy("window_start", "symbol").collect() shouldBe before
    // the applied-shard ledger rode along: a retried old shard is
    // still a no-op after compaction
    Candles.updateCandleStore(ev.filter(t === 2), store, shardId = Some("s2"))
    Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect() shouldBe before
  }

  test("updateCandleStore with an empty shard is a no-op") {
    val store = graft.util.Scratch.dir("candle-empty").toString
    Candles.buildCandleStore(Seq(
      (1L, ts("2026-01-01 10:00:05"), "BTC", 100.0))
      .toDF("event_id", "ts", "event_type", "value"), store)
    val before = Candles.candlesFromStore(spark, store).collect()
    Candles.updateCandleStore(
      Seq.empty[(Long, java.sql.Timestamp, String, Double)]
        .toDF("event_id", "ts", "event_type", "value"), store)
    Candles.candlesFromStore(spark, store).collect() shouldBe before
  }

  test("readers resolve a committed generation: a snapshot taken before " +
      "an update still reads consistently after it commits") {
    val store = graft.util.Scratch.dir("candle-snap").toString
    Candles.buildCandleStore(Seq(
      (1L, ts("2026-01-01 10:00:05"), "BTC", 100.0),
      (2L, ts("2026-01-02 09:00:00"), "BTC", 99.0))
      .toDF("event_id", "ts", "event_type", "value"), store)
    // resolve the reader's plan (manifest + leaf paths) BEFORE the
    // update — but collect only AFTER it commits
    val snapshot = Candles.candlesFromStore(spark, store)
    val expected = snapshot.collect().sortBy(_.toString)
    Candles.updateCandleStore(Seq(
      (3L, ts("2026-01-02 09:00:30"), "BTC", 101.0))
      .toDF("event_id", "ts", "event_type", "value"), store)
    // the previous generation's leaves are retained through one commit,
    // so the in-flight reader still sees its complete old snapshot —
    // never a mixed or missing-partition state
    snapshot.collect().sortBy(_.toString) shouldBe expected
    // a NEW reader resolves the merged generation
    Candles.candlesFromStore(spark, store)
      .filter(col("window_start") === ts("2026-01-02 09:00:00"))
      .select("trade_count").as[Long].head() shouldBe 2L
  }

  test("candlesFromStore asOf reads retained generations (time travel) " +
      "and the retention horizon bounds it") {
    val store = graft.util.Scratch.dir("candle-tt").toString
    def shard(id: Long, t: String, price: Double) =
      Seq((id, ts(t), "BTC", price)).toDF("event_id", "ts", "event_type", "value")
    Candles.buildCandleStore(shard(1, "2026-01-01 10:00:05", 100.0), store)
    val gen0 = Candles.candlesFromStore(spark, store).collect()
    Candles.updateCandleStore(shard(2, "2026-01-01 10:00:20", 105.0), store,
      retainGenerations = 3)
    Candles.updateCandleStore(shard(3, "2026-01-01 10:00:40", 95.0), store,
      retainGenerations = 3)
    Manifest.generations(spark, store) shouldBe Seq(0, 1, 2)
    // each retained generation replays its historical answer exactly
    Candles.candlesFromStore(spark, store, asOf = Some(0)).collect() shouldBe gen0
    Candles.candlesFromStore(spark, store, asOf = Some(1))
      .select("trade_count").as[Long].head() shouldBe 2L
    Candles.candlesFromStore(spark, store)
      .select("trade_count").as[Long].head() shouldBe 3L
    // default retention (2) retires generations beyond the horizon
    Candles.updateCandleStore(shard(4, "2026-01-01 10:00:50", 98.0), store)
    Manifest.generations(spark, store) shouldBe Seq(2, 3)
    an[IllegalArgumentException] should be thrownBy
      Candles.candlesFromStore(spark, store, asOf = Some(0)).collect()
  }

  test("candleStoreChanges: typed insert/update feed between generations; " +
      "reverse diff flips inserts to deletes; unchanged keys drop out") {
    val store = graft.util.Scratch.dir("candle-cdf").toString
    def shard(rows: (Long, String, String, Double)*) =
      rows.map { case (id, t, sym, p) => (id, ts(t), sym, p) }
        .toDF("event_id", "ts", "event_type", "value")
    // gen 0: BTC 10:00 and ETH 10:00
    Candles.buildCandleStore(shard(
      (1L, "2026-01-01 10:00:05", "BTC", 100.0),
      (2L, "2026-01-01 10:00:15", "ETH", 10.0)), store)
    // gen 1: touches BTC 10:00 (update) and creates BTC 10:01 (insert);
    // ETH untouched — must NOT appear in the feed
    Candles.updateCandleStore(shard(
      (3L, "2026-01-01 10:00:40", "BTC", 104.0),
      (4L, "2026-01-01 10:01:10", "BTC", 110.0)), store)
    val feed = Candles.candleStoreChanges(spark, store, fromGen = 0)
      .select("symbol", "window_start", "change_type",
        "before_trade_count", "after_trade_count")
      .as[(String, java.sql.Timestamp, String, Option[Long], Option[Long])]
      .collect().sortBy(r => (r._1, r._2.getTime)).toSeq
    feed.map(r => (r._1, r._3, r._4, r._5)) shouldBe Seq(
      ("BTC", "update", Some(1L), Some(2L)),
      ("BTC", "insert", None, Some(1L)))
    // rollback direction: the reverse feed mirrors the forward one
    val rev = Candles.candleStoreChanges(spark, store, fromGen = 1, toGen = Some(0))
      .select("change_type").as[String].collect().sorted.toSeq
    rev shouldBe Seq("delete", "update")
  }

  test("vwapTrue weights by volume") {
    val df = Seq(
      (ts("2026-01-01 10:00:05"), "BTC", 100.0, 1.0),
      (ts("2026-01-01 10:00:10"), "BTC", 200.0, 3.0)
    ).toDF("ts", "event_type", "value", "vol")
    val v = Candles.vwapTrue(df, col("vol"))
      .select("vwap").as[Double].head()
    v shouldBe (100.0 * 1 + 200.0 * 3) / 4.0 +- 1e-9
  }

  test("rollupCandles: 5m candles from 1m partials == direct 5m aggregation") {
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val rolled = Candles.rollupCandles(
      Candles.candlePartials(events), toDurSec = 300L)
    val direct = Candles.ohlcv(events, windowDur = "5 minutes",
      tieCol = Some("event_id"))
    rolled.count() shouldBe direct.count()
    rolled.exceptAll(direct.select(rolled.columns.map(col): _*))
      .count() shouldBe 0
    direct.select(rolled.columns.map(col): _*).exceptAll(rolled)
      .count() shouldBe 0
  }
}
