package graft.streaming

import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite
import graft.operators.{Candles, Silver, TextOps}

/** Streaming-semantics tests (SURVEY.md §5.2): controlled event-time
  * advancement through MemoryStream — no wall-clock dependence.
  */
class StreamingSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def tmp(prefix: String): String =
    graft.util.Scratch.dir(prefix).getAbsolutePath

  /** Reference form of [[Medallion.streamSpreadBucketed]]: the same
    * watermarked band join keyed on the base asset alone, so every
    * arriving row scans its base's whole join state. The bucketed join
    * must emit exactly its pairs at a bounded state cost.
    */
  private def streamSpread(silverA: DataFrame, silverB: DataFrame,
                           watermarkDelay: String = "10 minutes",
                           bandSeconds: Int = 60,
                           joinType: String = "inner"): DataFrame = {
    val a = silverA
      .withWatermark("trade_timestamp", watermarkDelay)
      .select(substring_index(col("symbol"), "-", 1).as("base"),
        col("symbol").as("symbol_a"), col("trade_timestamp").as("ts_a"),
        col("price").as("price_a"))
    val b = silverB
      .withWatermark("trade_timestamp", watermarkDelay)
      .select(substring_index(col("symbol"), "-", 1).as("base_b"),
        col("symbol").as("symbol_b"), col("trade_timestamp").as("ts_b"),
        col("price").as("price_b"))
    a.join(b, col("base") === col("base_b") && expr(
      s"ts_b BETWEEN ts_a - INTERVAL $bandSeconds SECONDS AND ts_a"), joinType)
      .select(col("base"), col("ts_a"), col("symbol_a"), col("price_a"),
        col("ts_b"), col("symbol_b"), col("price_b"),
        (col("price_a") - col("price_b")).as("spread"))
  }

  private def ticker(symbol: String, price: String, time: String,
                     tradeId: Long, tpe: String = "ticker"): String =
    s"""{"type":"$tpe","product_id":"$symbol","price":"$price","volume_24h":"1",
       |"time":"$time","trade_id":"$tradeId","side":"buy","last_size":"0.5"}"""
      .stripMargin.replace("\n", "")

  test("gold append mode: window emitted exactly once, after watermark passes; late rows dropped") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(Timestamp, String, java.math.BigDecimal)]
    val silverShaped = in.toDF()
      .toDF("trade_timestamp", "symbol", "price")
      .withColumn("price", col("price").cast("decimal(18,8)"))
    val gold = Medallion.goldCandles(silverShaped, watermarkDelay = "10 minutes")
    val q = gold.writeStream.format("memory").queryName("gold_test")
      .outputMode("append").start()
    def emitted() = spark.table("gold_test")

    def ts(s: String) = Timestamp.valueOf(s)
    def dec(s: String) = new java.math.BigDecimal(s)

    // batch 0: two trades in window 10:00
    in.addData((ts("2026-01-01 10:00:10"), "BTC", dec("100")),
      (ts("2026-01-01 10:00:40"), "BTC", dec("102")))
    q.processAllAvailable()
    emitted().count() shouldBe 0 // watermark still at epoch; nothing finalized

    // batch 1: event time jumps 20 min -> watermark = 10:20-10m = 10:10,
    // closes window [10:00,10:01)
    in.addData((ts("2026-01-01 10:20:00"), "BTC", dec("110")))
    q.processAllAvailable()
    val rows = emitted().select("window_start", "symbol", "open", "close", "trade_count").collect()
    rows.length shouldBe 1
    rows(0).getTimestamp(0) shouldBe ts("2026-01-01 10:00:00")
    rows(0).getDecimal(2) shouldBe dec("100.00000000")
    rows(0).getDecimal(3) shouldBe dec("102.00000000")
    rows(0).getLong(4) shouldBe 2L

    // batch 2: a row 30 min late (before the 10:10 watermark) is dropped,
    // and the already-emitted window is NOT re-emitted
    in.addData((ts("2026-01-01 10:00:55"), "BTC", dec("999")),
      (ts("2026-01-01 10:40:00"), "BTC", dec("120")))
    q.processAllAvailable()
    val after = emitted()
    after.filter(col("window_start") === ts("2026-01-01 10:00:00")).count() shouldBe 1
    after.filter(col("open") === dec("999")).count() shouldBe 0
    // the 10:20 window finalized by the 10:30 watermark
    after.filter(col("window_start") === ts("2026-01-01 10:20:00")).count() shouldBe 1
    q.stop()
  }

  test("silver dropDuplicatesWithinWatermark removes identity dups within the horizon") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[String]
    val bronzeShaped = in.toDF().toDF("json_payload")
    val silver = Medallion.silverTrades(bronzeShaped, dedupDelay = Some("10 minutes"))
    val q = silver.writeStream.format("memory").queryName("silver_dedup_test")
      .outputMode("append").start()

    in.addData(
      ticker("BTC-USD", "100", "2026-01-01T10:00:00.000000Z", 1L),
      ticker("BTC-USD", "100", "2026-01-01T10:00:00.000000Z", 1L), // dup same batch
      ticker("BTC-USD", "101", "2026-01-01T10:00:30.000000Z", 2L))
    q.processAllAvailable()
    in.addData(ticker("BTC-USD", "100", "2026-01-01T10:01:00.000000Z", 1L)) // dup later batch
    q.processAllAvailable()
    val out = spark.table("silver_dedup_test")
    out.count() shouldBe 2
    out.select("trade_id").as[Long].collect().sorted shouldBe Array(1L, 2L)
    q.stop()
  }

  test("gold aggregation runs on the RocksDB state store provider") {
    // the at-scale state backend (T4): state spills off-heap to local
    // RocksDB instead of living in JVM maps - same query, same results
    implicit val sqlCtx = spark.sqlContext
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val in = MemoryStream[(Timestamp, String, java.math.BigDecimal)]
      val silverShaped = in.toDF().toDF("trade_timestamp", "symbol", "price")
        .withColumn("price", col("price").cast("decimal(18,8)"))
      val q = Medallion.goldCandles(silverShaped).writeStream.format("memory")
        .queryName("gold_rocksdb_test").outputMode("append").start()
      def ts(s: String) = Timestamp.valueOf(s)
      def dec(s: String) = new java.math.BigDecimal(s)
      in.addData((ts("2026-01-01 10:00:10"), "BTC", dec("100")))
      q.processAllAvailable()
      in.addData((ts("2026-01-01 10:30:00"), "BTC", dec("110")))
      q.processAllAvailable()
      val rows = spark.table("gold_rocksdb_test")
      rows.count() shouldBe 1
      rows.head().getAs[java.math.BigDecimal]("open") shouldBe dec("100.00000000")
      q.stop()
    } finally spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
  }

  test("flagship stateful gates replay byte-identical under RocksDB: " +
      "stateful agg, stream-stream join, session windows") {
    // T4's scale path, exercised on the REAL gate queries (not a toy
    // stream): the same chronological replay that the driver verifies
    // on the default HDFS provider must produce the identical row
    // multiset with state in RocksDB — provider choice is an
    // operational knob, never a semantic one.
    val dir = "/root/testdata/sf0.001"
    val key = "spark.sql.streaming.stateStore.providerClass"
    val rocks = "org.apache.spark.sql.execution.streaming.state." +
      "RocksDBStateStoreProvider"
    Seq("stream_gold_candles_1m", "stream_spread_join", "stream_sessions")
      .foreach { gate =>
        val fn = graft.SparkEntry.queries(gate)
        val base = fn(spark, dir).collect().map(_.toString).sorted
        spark.conf.set(key, rocks)
        val got =
          try fn(spark, dir).collect().map(_.toString).sorted
          finally spark.conf.unset(key)
        withClue(s"$gate under RocksDB: ") {
          got.length shouldBe base.length
          got shouldBe base
        }
      }
  }

  test("stream-stream spread join pairs trades within the time band") {
    implicit val sqlCtx = spark.sqlContext
    val inA = MemoryStream[(Timestamp, String, Double)]
    val inB = MemoryStream[(Timestamp, String, Double)]
    def silverShaped(m: MemoryStream[(Timestamp, String, Double)]) =
      m.toDF().toDF("trade_timestamp", "symbol", "price")
    val joined = streamSpread(
      silverShaped(inA), silverShaped(inB), bandSeconds = 60)
    val q = joined.writeStream.format("memory").queryName("spread_test")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)

    inA.addData((ts("2026-01-01 10:01:00"), "BTC-COINBASE", 100.0))
    inB.addData(
      (ts("2026-01-01 10:00:30"), "BTC-BINANCE", 98.0),  // within band
      (ts("2026-01-01 10:01:00"), "BTC-BINANCE", 99.0),  // boundary inclusive
      (ts("2026-01-01 09:59:00"), "BTC-BINANCE", 97.0),  // too old
      (ts("2026-01-01 10:02:00"), "BTC-BINANCE", 96.0))  // after a
    q.processAllAvailable()
    val rows = spark.table("spread_test")
      .select("price_b", "spread").as[(Double, Double)].collect().sorted
    rows shouldBe Array((98.0, 2.0), (99.0, 1.0))
    q.stop()
  }

  test("streamSpreadBucketed emits the same pairs as streamSpread") {
    implicit val sqlCtx = spark.sqlContext
    val inA = MemoryStream[(Timestamp, String, Double)]
    val inB = MemoryStream[(Timestamp, String, Double)]
    def silverShaped(m: MemoryStream[(Timestamp, String, Double)]) =
      m.toDF().toDF("trade_timestamp", "symbol", "price")
    val joined = Medallion.streamSpreadBucketed(
      silverShaped(inA), silverShaped(inB), bandSeconds = 60)
    val q = joined.writeStream.format("memory").queryName("spread_bucketed_test")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    inA.addData(
      (ts("2026-01-01 10:01:00"), "BTC-COINBASE", 100.0),
      // same-bucket and cross-bucket matches both land (B explodes into
      // its own and the next bucket)
      (ts("2026-01-01 10:00:59"), "BTC-COINBASE", 101.0))
    inB.addData(
      (ts("2026-01-01 10:00:30"), "BTC-BINANCE", 98.0),  // within band
      (ts("2026-01-01 10:01:00"), "BTC-BINANCE", 99.0),  // boundary inclusive
      (ts("2026-01-01 09:59:00"), "BTC-BINANCE", 97.0),  // too old
      (ts("2026-01-01 10:02:00"), "BTC-BINANCE", 96.0))  // after both a
    q.processAllAvailable()
    val rows = spark.table("spread_bucketed_test")
      .orderBy("ts_a", "price_b")
      .select("ts_a", "price_b", "spread").as[(Timestamp, Double, Double)]
      .collect()
    rows shouldBe Array(
      (ts("2026-01-01 10:00:59"), 98.0, 3.0),
      (ts("2026-01-01 10:01:00"), 98.0, 2.0),
      (ts("2026-01-01 10:01:00"), 99.0, 1.0))
    q.stop()
  }

  test("left-outer bucketed spread: matches emit live; an unmatched A-trade " +
      "emits null-extended only once the watermark proves no B can band-match") {
    implicit val sqlCtx = spark.sqlContext
    val inA = MemoryStream[(Timestamp, String, Double)]
    val inB = MemoryStream[(Timestamp, String, Double)]
    def silverShaped(m: MemoryStream[(Timestamp, String, Double)]) =
      m.toDF().toDF("trade_timestamp", "symbol", "price")
    val joined = Medallion.streamSpreadBucketed(
      silverShaped(inA), silverShaped(inB), bandSeconds = 60,
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("spread_left_spec")
      .outputMode("append").start()
    def ts(s: String) = Timestamp.valueOf(s)
    inA.addData(
      (ts("2026-01-01 10:01:00"), "BTC-COINBASE", 100.0), // pairs with B
      (ts("2026-01-01 10:05:00"), "ETH-COINBASE", 50.0))  // no B in band
    inB.addData((ts("2026-01-01 10:00:30"), "BTC-BINANCE", 98.0))
    q.processAllAvailable()
    // the unmatched row must NOT null-emit while a band-matching B is
    // still possible (watermark below ts_a)
    spark.table("spread_left_spec")
      .filter(col("symbol_b").isNull).count() shouldBe 0
    // far-future sentinels on BOTH sides advance the watermark past all
    // real rows; their bases (ZZA/ZZB) can never pair with anything
    inA.addData((ts("2030-01-01 00:00:00"), "ZZA-X", 0.0))
    inB.addData((ts("2030-01-01 00:00:00"), "ZZB-X", 0.0))
    q.processAllAvailable()
    inB.addData((ts("2030-01-01 00:00:10"), "ZZB-X", 0.0))
    q.processAllAvailable()
    val real = spark.table("spread_left_spec")
      .filter(!col("base").startsWith("ZZ"))
      .select("base", "symbol_b", "price_b").as[(String, String, Option[Double])]
      .collect().sortBy(_._1)
    real.map(_._1).toSeq shouldBe Seq("BTC", "ETH")
    real(0)._2 shouldBe "BTC-BINANCE"
    real(1)._2 shouldBe null      // the proved-unmatched null extension
    real(1)._3 shouldBe None
    q.stop()
  }

  test("bucketed spread shards join state by (base, bucket) at a bounded " +
      "~2x row cost over the plain-key variant") {
    implicit val sqlCtx = spark.sqlContext
    def ts(i: Int) = new Timestamp(Timestamp.valueOf("2026-01-01 10:00:00")
      .getTime + i * 1000L)
    val rowsA = (0 until 100).map(i => (ts(i), "BTC-COINBASE", 100.0 + i))
    val rowsB = (0 until 100).map(i => (ts(i), "BTC-BINANCE", 90.0 + i))
    def run(bucketed: Boolean): (Long, Long, String) = {
      val inA = MemoryStream[(Timestamp, String, Double)]
      val inB = MemoryStream[(Timestamp, String, Double)]
      def shaped(m: MemoryStream[(Timestamp, String, Double)]) =
        m.toDF().toDF("trade_timestamp", "symbol", "price")
      val joined =
        if (bucketed) Medallion.streamSpreadBucketed(shaped(inA), shaped(inB),
          bandSeconds = 60, joinType = "left_outer")
        else streamSpread(shaped(inA), shaped(inB),
          bandSeconds = 60, joinType = "left_outer")
      val name = if (bucketed) "spread_state_b" else "spread_state_p"
      val q = joined.writeStream.format("memory").queryName(name)
        .outputMode("append").start()
      inA.addData(rowsA: _*); inB.addData(rowsB: _*)
      q.processAllAvailable()
      val state = q.recentProgress.flatMap(_.stateOperators)
        .map(_.numRowsTotal).max
      val emitted = spark.table(name).count()
      q.stop()
      (state, emitted, joined.queryExecution.analyzed.toString)
    }
    val (statePlain, emittedPlain, planPlain) = run(bucketed = false)
    val (stateBucketed, emittedBucketed, planBucketed) = run(bucketed = true)
    // identical emitted pair set (the equivalence the bucketing claims)
    emittedBucketed shouldBe emittedPlain
    // the sharding claim: the bucketed join's equi-key includes the
    // time bucket — state hash-distributes over (base, bucket) instead
    // of piling every row of a base onto one state key
    planBucketed should include("bucket")
    (planPlain should not).include("bucket")
    // the cost claim: the B side doubles (own + next bucket), nothing
    // else grows — total state stays within ~2x of the plain key's
    statePlain should be > 0L
    stateBucketed should be <= (2 * statePlain)
  }

  test("replayJoin: streamed band-join emitted set == batch band join") {
    // the stream_spread_join gate's claim: inner stream-stream join
    // emission is not watermark-gated and the chronological replay
    // makes nothing late, so the append output equals the batch join
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    def typed(df: org.apache.spark.sql.DataFrame, parity: Int) = df
      .filter(col("event_type").isin("click", "purchase", "view") &&
        pmod(col("event_id"), lit(2)) === parity)
      .select(col("event_type").as("symbol"),
        col("value").cast(org.apache.spark.sql.types.DecimalType(18, 8))
          .cast("double").as("price"),
        col("ts").as("trade_timestamp"))
    // 600s band: sf0.001's events are too sparse for the gate's 60s
    // band to pair anything (0 matches); the harness-equivalence claim
    // is band-independent
    val streamed = StreamedBatch.replayJoin(spark, events, "ts", "event_id",
      (ra, rb) => Medallion.streamSpreadBucketed(typed(ra, 0), typed(rb, 1),
        bandSeconds = 600))
    val a = typed(events, 0).select(col("symbol").as("base"),
      col("trade_timestamp").as("ts_a"), col("symbol").as("symbol_a"),
      col("price").as("price_a"))
    val b = typed(events, 1).select(col("symbol").as("base_b"),
      col("trade_timestamp").as("ts_b"), col("symbol").as("symbol_b"),
      col("price").as("price_b"))
    val batch = a.join(b, col("base") === col("base_b") &&
        col("ts_b").between(col("ts_a") - expr("INTERVAL 600 SECONDS"), col("ts_a")))
      .select(col("base"), col("ts_a"), col("symbol_a"), col("price_a"),
        col("ts_b"), col("symbol_b"), col("price_b"),
        (col("price_a") - col("price_b")).as("spread"))
    streamed.count() should be > 0L
    streamed.exceptAll(batch).count() shouldBe 0
    batch.exceptAll(streamed).count() shouldBe 0
  }

  test("replayIntoMergeTable: streamed CDC upsert == global latest row per key, " +
      "and the manifest tracked one generation per micro-batch") {
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("stream-merge").toString
    StreamedBatch.replayIntoStore(spark, events, "ts", "event_id",
      graft.util.Lake.mergeStore(store, Seq("user_id"), Seq("ts", "event_id")),
      chunks = 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val want = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    // align by name: physical column order on the store is not contractual
    val got = graft.util.Lake.mergeRead(spark, store)
      .select(want.columns.map(col): _*)
    got.count() shouldBe want.count()
    got.exceptAll(want).count() shouldBe 0
    want.exceptAll(got).count() shouldBe 0
    // 4 chunks → init (gen 0, its batch id ledgered too so a resumed
    // replay can prove the build happened) + 3 ledgered merges
    graft.util.Manifest.applied(spark, store) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
  }

  test("replayIntoMergeTable resume: a second replay of the same input " +
      "re-delivers every batch into ledgered no-ops (same table, same " +
      "generation), and auto-OPTIMIZE bounds the sink's live file count") {
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("stream-merge-resume").toString
    def replay(): Unit = StreamedBatch.replayIntoStore(spark, events,
      "ts", "event_id",
      graft.util.Lake.mergeStore(store, Seq("user_id"), Seq("ts", "event_id")),
      chunks = 6, stageKey = Some("resume-spec"), resume = true,
      autoCompact = 4)
    replay()
    val gen1 = graft.util.Manifest.snapshot(spark, store).gen
    val rows1 = graft.util.Lake.mergeRead(spark, store).collect().toSet
    // auto-OPTIMIZE: 6 chunks × ≥1 file each would exceed 4 without
    // the policy; the compacted sink stays at or under the threshold
    val liveFiles = graft.util.Manifest.snapshot(spark, store).files
      .count(_.startsWith("data/"))
    liveFiles should be <= 4
    // second replay: batch 0 skips the re-init (ledger proves the
    // build), batches 1+ are ledgered no-ops — nothing recomputes, no
    // generation lands, rows identical
    replay()
    graft.util.Manifest.snapshot(spark, store).gen shouldBe gen1
    graft.util.Lake.mergeRead(spark, store).collect().toSet shouldBe rows1
    // and the streamed result still equals the batch oracle
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy(col("ts").desc, col("event_id").desc)
    val want = events.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
    val got = graft.util.Lake.mergeRead(spark, store)
      .select(want.columns.map(col): _*)
    got.exceptAll(want).count() shouldBe 0
    want.exceptAll(got).count() shouldBe 0
  }

  test("generalized store resume: a second replayIntoVocab of the same " +
      "input is all ledgered no-ops — same generation, same scores") {
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("stream-vocab-resume").toString
    def replay(): Unit = StreamedBatch.replayIntoStore(spark, docs,
      "doc_id", "doc_id", TextOps.vocabStore(store), chunks = 4,
      stageKey = Some("vocab-resume-spec"), resume = true)
    replay()
    val gen1 = graft.util.Manifest.snapshot(spark, store).gen
    // batch 0's build is stamped into the ledger alongside the extends
    graft.util.Manifest.applied(spark, store) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
    val scores1 = TextOps.scoreAgainstVocab(docs, store).collect().toSet
    replay()
    graft.util.Manifest.snapshot(spark, store).gen shouldBe gen1
    TextOps.scoreAgainstVocab(docs, store).collect().toSet shouldBe scores1
    // and the streamed store still equals from-scratch training
    val oneShot = graft.util.Scratch.dir("vocab-oneshot").toString
    TextOps.vocabStore(oneShot).build(docs)
    TextOps.scoreAgainstVocab(docs, oneShot).collect().toSet shouldBe scores1
  }

  test("replayIntoContainmentIndex: streamed store's probe == from-scratch " +
      "cross-set containment; resume replays into ledgered no-ops") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val corpus = docs.filter(col("doc_id") % 3 =!= 0)
    val probes = docs.filter(col("doc_id") % 3 === 0)
    val store = graft.util.Scratch.dir("stream-cont-resume").toString
    def replay(): Unit = StreamedBatch.replayIntoStore(spark,
      corpus, "doc_id", "doc_id", graft.operators.Dedup.containmentStore(store),
      chunks = 4,
      stageKey = Some("cont-resume-spec"), resume = true)
    replay()
    val gen1 = graft.util.Manifest.snapshot(spark, store).gen
    val got1 = graft.operators.Dedup
      .containmentAcrossIndexed(probes, store, 2, 0.5)
      .orderBy("doc_id", "probe_id").collect()
    // exact vs the from-scratch cross-set form, across batch boundaries
    got1 shouldBe graft.operators.Dedup
      .ngramContainmentAcross(corpus, probes, 2, 0.5)
      .orderBy("doc_id", "probe_id").collect()
    got1.length should be > 0
    // a second replay of the same input is all ledgered no-ops
    replay()
    graft.util.Manifest.snapshot(spark, store).gen shouldBe gen1
    graft.operators.Dedup.containmentAcrossIndexed(probes, store, 2, 0.5)
      .orderBy("doc_id", "probe_id").collect() shouldBe got1
  }

  test("flat-store auto-compaction bounds the streamed gram store's files; answers and time travel unchanged") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val reference = docs.filter(col("doc_id") % 3 =!= 0)
    val target = docs.filter(col("doc_id") % 3 === 0)
    val store = graft.util.Scratch.dir("stream-gram-compact").toString
    StreamedBatch.replayIntoStore(spark, reference, "doc_id", "doc_id",
      TextOps.gramStore(store, n = 2), chunks = 6,
      stageKey = Some("gram-compact-spec"), autoCompact = 2)
    def liveGramFiles(asOf: Option[Int] = None): Int =
      graft.util.Manifest.snapshot(spark, store, asOf)
        .files.count(_.startsWith("grams/"))
    // without the policy, 6 chunks leave ≥ 6 shard files; the policy
    // holds the live count at the threshold + at most one fresh shard
    liveGramFiles() should be <= 3
    // compaction rewrote layout, never rows: the streamed store still
    // equals from-scratch novelty over everything streamed
    TextOps.noveltyAgainstStore(target, store).orderBy("doc_id").collect() shouldBe
      TextOps.noveltyScore(target, reference, n = 2).orderBy("doc_id").collect()
    // and a retained pre-compaction generation still serves its own
    // (bigger) layout — compaction retires beyond its retain window,
    // so probe only generations that survived
    val snap = graft.util.Manifest.snapshot(spark, store)
    val head = liveGramFiles()
    val retained = (0 until snap.gen).filter { g =>
      try { graft.util.Manifest.snapshot(spark, store, Some(g)); true }
      catch { case _: IllegalArgumentException => false }
    }
    retained.map(g => liveGramFiles(Some(g))).max should be > head
  }

  test("edit-index auto-compaction bounds strs/segs files; probe answers unchanged") {
    import org.apache.spark.sql.functions.{col, substring}
    val keyed = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), substring(col("text"), 1, 32).as("k"))
    val corpus = keyed.filter(col("doc_id") % 3 =!= 0)
    val probes = keyed.filter(col("doc_id") % 3 === 0)
    val store = graft.util.Scratch.dir("stream-edit-compact").toString
    StreamedBatch.replayIntoStore(spark, corpus, "doc_id", "doc_id",
      graft.operators.Dedup.editStore(store, "k"), chunks = 6,
      stageKey = Some("edit-compact-spec"), autoCompact = 2)
    val snap = graft.util.Manifest.snapshot(spark, store)
    snap.files.count(_.startsWith("strs/")) should be <= 3
    snap.files.count(_.startsWith("segs/")) should be <= 3
    graft.operators.Dedup.editAcrossIndexed(probes, "k", store)
      .orderBy("doc_id", "probe_id").collect() shouldBe
      graft.operators.Dedup.editDistanceJoinAcross(corpus, probes, "k", maxDist = 2)
        .orderBy("doc_id", "probe_id").collect()
  }

  test("replayIntoSpanIndex: streamed seen-span store == batch lifecycle; " +
      "resume replays into ledgered no-ops") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val mx = docs.agg(org.apache.spark.sql.functions.max("doc_id"))
      .head().getLong(0)
    val ref = docs.filter(col("doc_id") <= mx * 2 / 3)
    val tranche = docs.filter(col("doc_id") > mx * 2 / 3)
    val store = graft.util.Scratch.dir("stream-span-resume").toString
    def replay(): Unit = StreamedBatch.replayIntoStore(spark,
      ref, "doc_id", "doc_id", graft.operators.Dedup.spanStore(store), chunks = 4,
      stageKey = Some("span-resume-spec"), resume = true)
    replay()
    val gen1 = graft.util.Manifest.snapshot(spark, store).gen
    val got1 = graft.operators.Dedup.dedupSpansIncremental(tranche, store)
      .orderBy("doc_id").collect()
    // equals the from-scratch election over everything, restricted to
    // the tranche — the batch-lifecycle contract through the stream
    got1 shouldBe graft.operators.Dedup.dedupSpans(docs)
      .join(tranche.select("doc_id"), Seq("doc_id"), "left_semi")
      .orderBy("doc_id").collect()
    got1.length should be > 0
    replay()
    graft.util.Manifest.snapshot(spark, store).gen shouldBe gen1
    graft.operators.Dedup.dedupSpansIncremental(tranche, store)
      .orderBy("doc_id").collect() shouldBe got1
  }

  test("replayIntoGramStore: streamed store's novelty == from-scratch " +
      "noveltyScore; resume replays into ledgered no-ops") {
    import org.apache.spark.sql.functions.col
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val reference = docs.filter(col("doc_id") % 3 =!= 0)
    val target = docs.filter(col("doc_id") % 3 === 0)
    val store = graft.util.Scratch.dir("stream-gram-resume").toString
    def replay(): Unit = StreamedBatch.replayIntoStore(spark,
      reference, "doc_id", "doc_id", TextOps.gramStore(store, n = 2), chunks = 4,
      stageKey = Some("gram-resume-spec"), resume = true)
    replay()
    val gen1 = graft.util.Manifest.snapshot(spark, store).gen
    val got1 = TextOps.noveltyAgainstStore(target, store)
      .orderBy("doc_id").collect()
    // exact vs the from-scratch form, across batch boundaries
    got1 shouldBe TextOps.noveltyScore(target, reference, n = 2)
      .orderBy("doc_id").collect()
    got1.length should be > 0
    // a second replay of the same input is all ledgered no-ops
    replay()
    graft.util.Manifest.snapshot(spark, store).gen shouldBe gen1
    TextOps.noveltyAgainstStore(target, store)
      .orderBy("doc_id").collect() shouldBe got1
  }

  test("replayIntoEditIndex: streamed store's probe == from-scratch " +
      "cross-set edit join; resume replays into ledgered no-ops") {
    import org.apache.spark.sql.functions.{col, substring}
    val keyed = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), substring(col("text"), 1, 32).as("k"))
    val corpus = keyed.filter(col("doc_id") % 3 =!= 0)
    val probes = keyed.filter(col("doc_id") % 3 === 0)
    val store = graft.util.Scratch.dir("stream-edit-resume").toString
    def replay(): Unit = StreamedBatch.replayIntoStore(spark,
      corpus, "doc_id", "doc_id", graft.operators.Dedup.editStore(store, "k"),
      chunks = 4,
      stageKey = Some("edit-resume-spec"), resume = true)
    replay()
    val gen1 = graft.util.Manifest.snapshot(spark, store).gen
    val got1 = graft.operators.Dedup.editAcrossIndexed(probes, "k", store)
      .orderBy("doc_id", "probe_id").collect()
    // exact vs the from-scratch cross-set form, across batch boundaries
    got1 shouldBe graft.operators.Dedup
      .editDistanceJoinAcross(corpus, probes, "k", 2)
      .orderBy("doc_id", "probe_id").collect()
    got1.length should be > 0
    // a second replay of the same input is all ledgered no-ops
    replay()
    graft.util.Manifest.snapshot(spark, store).gen shouldBe gen1
    graft.operators.Dedup.editAcrossIndexed(probes, "k", store)
      .orderBy("doc_id", "probe_id").collect() shouldBe got1
  }

  test("replayUpdate: upsert resolution returns the last update per key == batch agg") {
    // groups whose events span several chunks update in several
    // micro-batches; the change-log resolution must keep only the
    // LAST version of each, which equals the batch aggregation
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val resolved = StreamedBatch.replayUpdate(spark, events, "ts", "event_id",
      st => Candles.ohlcv(st.withWatermark("ts", "10 minutes"),
        tieCol = Some("event_id")),
      keyCols = Seq("window_start", "symbol"), chunks = 4)
    val batch = Candles.ohlcv(events, tieCol = Some("event_id"))
    resolved.count() shouldBe batch.count() // live windows included
    resolved.exceptAll(batch).count() shouldBe 0
    batch.exceptAll(resolved).count() shouldBe 0
  }

  test("replayIntoCandleStore: per-batch store maintenance == batch agg, " +
      "and a re-delivered batch is a ledgered no-op") {
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("stream-store").toString
    StreamedBatch.replayIntoStore(spark, events, "ts", "event_id",
      Candles.candleStore(store), chunks = 4)
    // batch 0 built, batches 1..3 folded in through the ledger
    graft.util.Manifest.applied(spark, store) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
    val served = Candles.candlesFromStore(spark, store)
    val batch = Candles.ohlcv(events, tieCol = Some("event_id"))
    served.exceptAll(batch).count() shouldBe 0
    batch.exceptAll(served).count() shouldBe 0
    // the foreachBatch retry contract: Spark re-runs a failed batch
    // with the SAME id; re-applying any non-initial batch's events
    // under its recorded shard id must not change the store
    val before = Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect()
    Candles.updateCandleStore(events.limit(50), store,
      shardId = Some("replay-batch-1"))
    Candles.candlesFromStore(spark, store)
      .orderBy("window_start", "symbol").collect() shouldBe before
  }

  test("candle store resume: a second replay of the same input does not " +
      "rebuild — every batch is a ledgered no-op, same generations, same " +
      "candles") {
    // 400 trades over three symbols, one every 10 minutes (~3 dates)
    val events = spark.range(0, 400).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 600).as("ts"),
      concat(lit("S"), pmod(col("id"), lit(3)).cast("string")).as("event_type"),
      (pmod(col("id") * 7, lit(31)) + 1).cast("double").as("value"))
    val store = tmp("stream-candle-resume-")
    def replay(): Unit = StreamedBatch.replayIntoStore(spark, events,
      "ts", "event_id", Candles.candleStore(store), chunks = 4,
      stageKey = Some("candle-resume-spec"), resume = true)
    replay()
    val gens1 = graft.util.Manifest.generations(spark, store)
    // a rebuild would reproduce the generation numbers, but never the
    // uniquely named files: the whole head snapshot must be unchanged
    val head1 = graft.util.Manifest.snapshot(spark, store)
    val candles1 = Candles.candlesFromStore(spark, store).collect().toSet
    replay()
    graft.util.Manifest.generations(spark, store) shouldBe gens1
    graft.util.Manifest.snapshot(spark, store) shouldBe head1
    Candles.candlesFromStore(spark, store).collect().toSet shouldBe candles1
    val batch = Candles.ohlcv(events, tieCol = Some("event_id"))
    candles1 shouldBe batch.collect().toSet
  }

  test("a streamed store's build is one commit: batch 0's stamp lands in " +
      "generation 0, and 4 micro-batches with no compaction end at " +
      "generation 3") {
    val events = spark.range(0, 400).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 600).as("ts"),
      concat(lit("S"), pmod(col("id"), lit(3)).cast("string")).as("event_type"),
      (pmod(col("id") * 7, lit(31)) + 1).cast("double").as("value"))
    def replay(store: String, killPoint: Option[(Long, String)]): Unit =
      StreamedBatch.replayIntoStore(spark, events, "ts", "event_id",
        Candles.candleStore(store), chunks = 4, autoCompact = 0,
        killPoint = killPoint)
    // stopped before batch 1: only the build is on disk
    val built = tmp("stream-candle-build-")
    intercept[Exception](replay(built, Some((1L, "before"))))
    graft.util.Manifest.generations(spark, built) shouldBe Seq(0)
    graft.util.Manifest.applied(spark, built) shouldBe Set("replay-batch-0")
    graft.util.ShardedStore.builtOnManifest(spark, built) shouldBe true
    val full = tmp("stream-candle-commits-")
    replay(full, None)
    graft.util.Manifest.snapshot(spark, full).gen shouldBe 3
    graft.util.Manifest.applied(spark, full) shouldBe
      (0 to 3).map(i => s"replay-batch-$i").toSet
    Candles.candlesFromStore(spark, full).collect().toSet shouldBe
      Candles.ohlcv(events, tieCol = Some("event_id")).collect().toSet
  }

  test("replayIntoAnnIndex: streamed build+extends == from-scratch index, " +
      "and a re-delivered batch is a ledgered no-op") {
    import graft.operators.Pq
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val idx = graft.util.Scratch.dir("stream-ann").toString
    StreamedBatch.replayIntoStore(spark, emb, "vec_id", "vec_id",
      Pq.annStore(idx), chunks = 4)
    // batch 0 built, batches 1..3 appended through the ledger
    graft.util.Manifest.applied(spark, idx) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
    // searching the streamed index == recomputing over the whole corpus
    val queries = emb.filter(org.apache.spark.sql.functions.col("vec_id") < 5)
    Pq.annIndexSelfCheck(emb, queries, idx, k = 10)
      .as[Boolean].head() shouldBe true
    // the foreachBatch retry contract: re-applying a batch's embeddings
    // under its recorded shard id must not change the code table
    val codesBefore = spark.read.parquet(s"$idx/codes").count()
    Pq.annStore(idx).extend(emb.limit(50), Some("replay-batch-1"))
    spark.read.parquet(s"$idx/codes").count() shouldBe codesBefore
  }

  test("replayIntoNearDupIndex: streamed build+extends == from-scratch " +
      "minhashLsh, and a re-delivered batch is a ledgered no-op") {
    import graft.operators.Dedup
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val idx = graft.util.Scratch.dir("stream-neardup").toString
    StreamedBatch.replayIntoStore(spark, docs, "doc_id", "doc_id",
      Dedup.nearDupStore(idx), chunks = 4)
    graft.util.Manifest.applied(spark, idx) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
    // per-doc artifacts are deterministic, so the streamed index's
    // stored pairs == one-shot minhashLsh over everything streamed
    val stored = Dedup.indexedPairs(spark, idx)
    val scratch = Dedup.minhashLsh(docs)
    stored.exceptAll(scratch).count() shouldBe 0
    scratch.exceptAll(stored).count() shouldBe 0
    // retry contract: re-applying a batch's docs under its recorded
    // shard id must not change the stored set/bucket/pair tables
    val setsBefore = spark.read.parquet(s"$idx/sets").count()
    Dedup.extendIndex(docs.limit(20), stored.limit(0), idx,
      shardId = Some("replay-batch-2"))
    spark.read.parquet(s"$idx/sets").count() shouldBe setsBefore
  }

  test("replayIntoVocab: streamed vocabulary store scores == from-scratch " +
      "unigramLogprob, and a re-delivered batch is a ledgered no-op") {
    import graft.operators.TextOps
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val store = graft.util.Scratch.dir("stream-vocab").toString
    StreamedBatch.replayIntoStore(spark, docs, "doc_id", "doc_id",
      TextOps.vocabStore(store), chunks = 4)
    graft.util.Manifest.applied(spark, store) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
    // counts merge by summation: streamed store == from-scratch LM
    val served = TextOps.scoreAgainstVocab(docs, store)
    val scratch = TextOps.unigramLogprob(docs)
    served.exceptAll(scratch).count() shouldBe 0
    scratch.exceptAll(served).count() shouldBe 0
    // retry contract: re-applying a batch under its shard id is a no-op
    val rowsBefore = spark.read.parquet(s"$store/vocab").count()
    TextOps.vocabStore(store).extend(docs.limit(20), Some("replay-batch-3"))
    spark.read.parquet(s"$store/vocab").count() shouldBe rowsBefore
  }

  test("replayIntoNbModel: classifying against the streamed model == " +
      "from-scratch naiveBayes, and a re-delivered batch is a no-op") {
    import graft.operators.Classifier
    val docs = graft.util.Tables.documents(spark, "/root/testdata/sf0.001")
    val train = docs.filter(pmod(col("doc_id"), lit(5)) =!= 0)
    val test = docs.filter(pmod(col("doc_id"), lit(5)) === 0)
    val store = graft.util.Scratch.dir("stream-nb").toString
    StreamedBatch.replayIntoStore(spark, train, "doc_id", "doc_id",
      Classifier.nbStore(store, "lang"), chunks = 4)
    graft.util.Manifest.applied(spark, store) shouldBe
      Set("replay-batch-0", "replay-batch-1", "replay-batch-2", "replay-batch-3")
    // per-class counts merge by summation: streamed model == scratch
    val served = Classifier.classifyWithModel(test, store)
    val scratch = Classifier.naiveBayes(test, train, "lang")
    served.exceptAll(scratch).count() shouldBe 0
    scratch.exceptAll(served).count() shouldBe 0
    // retry contract: a re-run micro-batch must not double its counts
    val rowsBefore = spark.read.parquet(s"$store/counts").count()
    Classifier.nbStore(store, "lang").extend(train.limit(20), Some("replay-batch-2"))
    spark.read.parquet(s"$store/counts").count() shouldBe rowsBefore
  }

  test("medallion end-to-end: raw JSON files -> bronze -> silver -> gold parquet") {
    val root = tmp("graft-medallion-")
    val rawDir = tmp("graft-raw-")
    // kafka-shaped JSON lines: key/value/timestamp (FIXTURES.md §1 payloads)
    val payload = Seq(
      ("coinbase", ticker("BTC-USD", "100.5", "2026-01-01T10:00:05.000000Z", 1L)),
      ("coinbase", ticker("BTC-USD", "101.5", "2026-01-01T10:00:45.000000Z", 2L)),
      ("coinbase", ticker("ETH-USD", "10.25", "2026-01-01T10:00:20.000000Z", 3L)),
      ("coinbase", ticker("BTC-USD", "999", "2026-01-01T10:00:50.000000Z", 4L, tpe = "subscriptions")),
      ("coinbase", ticker("BTC-USD", "120", "2026-01-01T10:30:00.000000Z", 5L))
    ).toDF("key", "value")
      .withColumn("timestamp", lit(Timestamp.valueOf("2026-01-01 10:31:00")))
    payload.coalesce(1).write.mode("overwrite").json(rawDir)

    val paths = StreamJobs.MedallionPaths(root)
    val (bq, sq, gq) = StreamJobs.runMedallion(spark, rawDir, paths,
      Schemas.kafkaShaped, dedupDelay = None,
      trigger = Trigger.ProcessingTime(0))
    try {
      bq.processAllAvailable(); sq.processAllAvailable(); gq.processAllAvailable()
      // give silver/gold a second pass over files committed by upstream
      sq.processAllAvailable(); gq.processAllAvailable()

      val bronze = spark.read.schema(Schemas.bronze).parquet(paths.bronze)
      bronze.count() shouldBe 5
      bronze.schema.fieldNames shouldBe Array("key", "json_payload", "kafka_ts", "ingest_ts")

      val silver = spark.read.schema(Schemas.silver).parquet(paths.silver)
      silver.count() shouldBe 4 // subscriptions event filtered
      silver.schema("price").dataType.simpleString shouldBe "decimal(18,8)"

      val gold = spark.read.schema(Schemas.gold).parquet(paths.gold)
      // watermark = 10:30 - 10min = 10:20 -> the 10:00 windows finalized
      gold.count() shouldBe 2
      val btc = gold.filter(col("symbol") === "BTC-USD").head()
      btc.getAs[java.math.BigDecimal]("open") shouldBe new java.math.BigDecimal("100.50000000")
      btc.getAs[java.math.BigDecimal]("close") shouldBe new java.math.BigDecimal("101.50000000")
      btc.getAs[Long]("trade_count") shouldBe 2L
      btc.getAs[java.math.BigDecimal]("vwap") shouldBe new java.math.BigDecimal("101.000000000000")
    } finally {
      bq.stop(); sq.stop(); gq.stop()
    }
  }

  /** `n` kafka-shaped JSON-lines files of 3 tickers each: one
    * micro-batch per file under `maxFilesPerTrigger = 1`.
    */
  private def kafkaFiles(n: Int): String = {
    val dir = tmp("graft-kafka-files-")
    for (i <- 0 until n) {
      val lines = (0 until 3).map { r =>
        val v = ticker("BTC-USD", s"${100 + r}", f"2026-01-01T10:$i%02d:$r%02d.000000Z",
          (3 * i + r).toLong)
        s"""{"key":"coinbase","value":"${v.replace("\"", "\\\"")}",""" +
          s""""timestamp":"2026-01-01T10:31:00.000Z"}"""
      }
      Files.write(java.nio.file.Paths.get(dir, f"part-$i%03d.json"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    dir
  }

  /** The medallion's bronze query, one input file per micro-batch, run
    * to completion from a fresh checkpoint; returns its table path.
    */
  private def bronzeRun(rawDir: String): String = {
    val root = tmp("graft-bronze-run-")
    StreamJobs.parquetAppend(Medallion.bronzeEnvelope(StreamJobs.jsonLinesStream(
      spark, rawDir, Schemas.kafkaShaped, maxFilesPerTrigger = Some(1))),
      s"$root/table", s"$root/ckpt").awaitTermination()
    s"$root/table"
  }

  /** The medallion's silver query (no dedup) over a bronze table, one
    * bronze file per micro-batch, from a fresh checkpoint.
    */
  private def silverRun(bronzeTable: String): String = {
    val root = tmp("graft-silver-run-")
    StreamJobs.parquetAppend(Medallion.silverTrades(StreamJobs.parquetStream(
      spark, bronzeTable, Schemas.bronze, maxFilesPerTrigger = Some(1))),
      s"$root/table", s"$root/ckpt").awaitTermination()
    s"$root/table"
  }

  private def batchesIn(table: String): Long =
    graft.util.Inspect.history(spark, table).select("batch_id").distinct().count()

  test("processing-time stamps stay out of generated code: bronze and " +
      "silver queries compile as often over 8 one-file micro-batches as " +
      "over 2") {
    def compiling[T](body: => T): (T, Long) = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val out = body
      (out, CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before)
    }
    // a one-batch run of each query fills the codegen cache, so the
    // counted runs see only what each micro-batch itself compiles
    silverRun(bronzeRun(kafkaFiles(1)))
    val (raw2, raw8) = (kafkaFiles(2), kafkaFiles(8))
    val (bronze2, bronzeC2) = compiling(bronzeRun(raw2))
    val (bronze8, bronzeC8) = compiling(bronzeRun(raw8))
    val (silver2, silverC2) = compiling(silverRun(bronze2))
    val (silver8, silverC8) = compiling(silverRun(bronze8))
    Seq(bronze2, silver2).map(batchesIn) shouldBe Seq(2L, 2L)
    Seq(bronze8, silver8).map(batchesIn) shouldBe Seq(8L, 8L)
    withClue("bronze compiles, 8 vs 2 batches: ") { bronzeC8 shouldBe bronzeC2 }
    withClue("silver compiles, 8 vs 2 batches: ") { silverC8 shouldBe silverC2 }
  }

  test("processing-time stamps: rows of one committed micro-batch share " +
      "one value, values never go down across batches, and a batch-mode " +
      "query stamps one value") {
    val bronze = bronzeRun(kafkaFiles(4))
    val silver = silverRun(bronze)
    for ((table, stamp) <- Seq(bronze -> "ingest_ts", silver -> "silver_processed_at")) {
      val files = graft.util.Inspect.history(spark, table).select(col("batch_id"),
        element_at(split(col("path"), "/"), -1).as("file"), col("commit_ts"))
      val perBatch = spark.read.parquet(table)
        .select(col(stamp), col("_metadata.file_name").as("file"))
        .join(files, "file")
        .groupBy("batch_id")
        .agg(count_distinct(col(stamp)).as("values"), min(col(stamp)).as("ts"),
          min(col("commit_ts")).as("commit_ts"))
        .orderBy("batch_id").collect()
      withClue(s"$stamp per batch: ${perBatch.mkString(", ")}: ") {
        perBatch.length shouldBe 4
        perBatch.map(_.getAs[Long]("values")).toSeq shouldBe Seq.fill(4)(1L)
        val ts = perBatch.map(_.getAs[Timestamp]("ts"))
        ts.zip(ts.tail).foreach { case (a, b) => a.after(b) shouldBe false }
        // stamped when the batch started, so never after its files exist
        perBatch.foreach(r => r.getAs[Timestamp]("ts").after(
          r.getAs[Timestamp]("commit_ts")) shouldBe false)
      }
    }
    // batch mode: one value for the whole query, across partitions
    val batchSilver = Silver.parseTickers(
      spark.read.schema(Schemas.bronze).parquet(bronze).repartition(4))
    batchSilver.select(count_distinct(col("silver_processed_at"))).head().getLong(0) shouldBe 1L
    batchSilver.count() shouldBe 12
  }

  test("exactly-once file sink: restart from checkpoint does not duplicate") {
    val root = tmp("graft-eos-")
    val inDir = tmp("graft-eos-in-")
    Seq("a", "b").toDF("v").coalesce(1).write.mode("append").json(inDir)
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    def run(): Unit = {
      val q = StreamJobs.parquetAppend(
        StreamJobs.jsonLinesStream(spark, inDir, schema),
        s"$root/out", s"$root/ckpt", Trigger.AvailableNow())
      q.awaitTermination()
    }
    run()
    spark.read.parquet(s"$root/out").count() shouldBe 2
    // restart with no new data: nothing re-emitted
    run()
    spark.read.parquet(s"$root/out").count() shouldBe 2
    // new file appears; only it is processed
    Seq("c").toDF("v").coalesce(1).write.mode("append").json(inDir)
    run()
    spark.read.parquet(s"$root/out").count() shouldBe 3

    // Inspect.history (the Delta history() stand-in, SURVEY §2.9 D1)
    // reconstructs the append timeline from the sink manifest
    val hist = graft.util.Inspect.history(spark, s"$root/out")
    hist.count() shouldBe 2 // two committed files (batch 0 and the new-file batch)
    hist.select("action").distinct().as[String].collect() shouldBe Array("add")
    hist.select("batch_id").distinct().count() shouldBe 2
  }

  test("default-on auto-compaction: N micro-batches leave every streamed " +
      "store family's live file count bounded by the policy") {
    // every store replay defaults autoCompact = 64; here each family
    // runs with a TINY threshold and many chunks so the policy provably
    // fires, and the live per-sub count after the replay sits at/under
    // its bound (the hook runs after each applied batch, so the final
    // state is post-compaction). The merge table's equivalent is
    // covered by the merge-sink resume spec.
    import graft.operators._
    import graft.util.ShardedStore
    val sf = "/root/testdata/sf0.001"
    val events = graft.util.Tables.events(spark, sf)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    val t = 2 // maxFiles per sub
    // the manifest's live files under a sub
    def live(store: String, sub: String): Int =
      graft.util.Manifest.snapshot(spark, store).files
        .count(_.startsWith(s"$sub/"))
    // data/ is p_date-partitioned: the post-compaction floor is one file
    // per live date, however low the threshold
    val candleDates = Candles.candlePartials(events)
      .select(to_date(col("window_start"))).distinct().count().toInt
    case class Family(name: String, store: String => ShardedStore,
                      input: DataFrame, order: String, tie: String,
                      chunks: Int, threshold: Int, subs: Seq[String],
                      bound: Int)
    def byDoc(name: String, store: String => ShardedStore,
              subs: String*): Family =
      Family(name, store, docs, "doc_id", "doc_id", 6, t, subs, t)
    val families = Seq(
      Family("candle", Candles.candleStore(_), events, "ts", "event_id",
        6, 1, Seq("data"), candleDates),
      // codes/ is cell-partitioned: the post-compaction floor is one
      // file per live cell (nlist = 16 default), not the flat
      // threshold — the policy bounds growth at shards × cells → cells
      Family("ann", Pq.annStore(_), emb, "vec_id", "vec_id", 3, t,
        Seq("codes"), 16),
      byDoc("ndup", Dedup.nearDupStore(_), "sets", "buckets", "pairs"),
      byDoc("cont", Dedup.containmentStore(_), "sets", "postings"),
      Family("edit", Dedup.editStore(_, "k"),
        docs.select(col("doc_id"), substring(col("text"), 1, 24).as("k")),
        "doc_id", "doc_id", 6, t, Seq("strs", "segs"), t),
      byDoc("tidx", TextIndex.indexStore, "data"),
      byDoc("vocab", TextOps.vocabStore(_), "vocab"),
      byDoc("span", Dedup.spanStore(_), "spans"),
      byDoc("gram", TextOps.gramStore(_), "grams"),
      byDoc("nb", Classifier.nbStore(_, "lang"), "counts", "totals"),
      Family("mom", Pca.momentStore(_), emb, "vec_id", "vec_id", 6, t,
        Seq("moments"), t),
      Family("q", Quantiles.quantileStore(_, "value"), events, "ts",
        "event_id", 6, t, Seq("summary"), t),
      byDoc("heavy", FreqSketch.heavyStore(_), "sketch"),
      Family("bloom", Bloom.bloomStore(_, "user_id"),
        events.select(col("user_id")).distinct(), "user_id", "user_id",
        6, t, Seq("filter"), t),
      byDoc("dsir", Curation.dsirStore(_), "counts"))
    val paths = families.map { f =>
      val path = tmp(s"ac-${f.name}-")
      StreamedBatch.replayIntoStore(spark, f.input, f.order, f.tie,
        f.store(path), chunks = f.chunks, autoCompact = f.threshold)
      f.subs.foreach { sub =>
        withClue(s"${f.name} sub=$sub: ") { live(path, sub) should be <= f.bound }
      }
      f.name -> path
    }.toMap

    // compaction preserved answers + the ledger on a representative
    // store of the additive-count merge style
    val scored = TextOps.scoreAgainstVocab(docs, paths("vocab"))
    val want = TextOps.unigramLogprob(docs)
    scored.exceptAll(want).count() shouldBe 0
    want.exceptAll(scored).count() shouldBe 0
    graft.util.Manifest.applied(spark, paths("vocab")) should contain("replay-batch-1")
  }

  test("kill-point matrix: an append replay stopped after one committed " +
      "batch resumes on its checkpoint to the uninterrupted output") {
    val events = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    def gold(st: DataFrame): DataFrame =
      Candles.ohlcv(st.withWatermark("ts", "10 minutes"), tieCol = Some("event_id"))
    val want = StreamedBatch.replayAggregate(spark, events, "ts", "event_id",
      gold, chunks = 4)
    // the stopped run and its resume share one staged input: the file
    // source's checkpoint tracks input files by path
    val work = new java.io.File(tmp("kill-append-"))
    def run(stop: Option[Int]): DataFrame =
      StreamedBatch.replayAggregate(spark, events, "ts", "event_id", gold,
        chunks = 4, stageKey = Some("kill-append-spec"),
        stopAfterBatches = stop, workDirOpt = Some(work))
    scala.util.Try(run(Some(1)))
    val got = run(None)
    want.count() should be > 0L
    got.exceptAll(want).count() shouldBe 0
    want.exceptAll(got).count() shouldBe 0
  }

  test("kill-point matrix: a store replay crashed before the apply, after " +
      "the apply, or after the compaction resumes to the uninterrupted " +
      "store — candle store, a Manifest store, the merge table") {
    import graft.operators._
    import graft.util.Manifest
    val sf = "/root/testdata/sf0.001"
    val events = graft.util.Tables.events(spark, sf)
    val docs = graft.util.Tables.documents(spark, sf)
    val emb = spark.read.parquet(s"$sf/embeddings.parquet")
    def injected(e: Throwable): Boolean =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[StreamedBatch.InjectedKill])
    val allPoints = Seq((1L, "before"), (1L, "after-apply"), (2L, "after-compact"))
    // every other store's one point: batch 1 has landed and committed
    // but the micro-batch has not, so its re-delivery must be a ledger
    // no-op. Each reader shows what a doubled shard would change.
    val applied = Seq((1L, "after-apply"))
    // rows per key of one appended sub: a doubled shard doubles counts
    def perKey(sub: String, key: String)(path: String): DataFrame =
      Manifest.read(spark, path, sub).groupBy(key).count()
    // (family, store, replay input, order/tie column, what a reader
    // sees, kill points)
    val families = Seq[(String, String => graft.util.ShardedStore, DataFrame,
        String, String, String => DataFrame, Seq[(Long, String)])](
      ("candle", Candles.candleStore(_), events, "ts", "event_id",
        Candles.candlesFromStore(spark, _), allPoints),
      ("vocab", TextOps.vocabStore(_), docs, "doc_id", "doc_id",
        TextOps.scoreAgainstVocab(docs, _), allPoints),
      ("merge", graft.util.Lake.mergeStore(_, Seq("user_id"),
          Seq("ts", "event_id")), events, "ts", "event_id",
        graft.util.Lake.mergeRead(spark, _), allPoints),
      ("nb", Classifier.nbStore(_, "lang"), docs, "doc_id", "doc_id",
        Classifier.classifyWithModel(docs, _), applied),
      ("dsir", Curation.dsirStore(_), docs, "doc_id", "doc_id",
        Curation.dsirAgainstStore(docs, _), applied),
      ("quantile", Quantiles.quantileStore(_, "value"), events, "ts",
        "event_id", Quantiles.quantilesFromStore(spark, _, Seq(0.1, 0.5, 0.9)),
        applied),
      ("heavy", FreqSketch.heavyStore(_), docs, "doc_id", "doc_id",
        Manifest.read(spark, _, "sketch").groupBy("shard_id")
          .agg(count(lit(1)), sum("cnt"), first("shard_n")), applied),
      ("bloom", Bloom.bloomStore(_, "user_id"),
        events.select(col("user_id")).distinct(), "user_id", "user_id",
        Manifest.read(spark, _, "filter")
          .select(col("shard_id"), col("n_keys"), sha2(col("bits"), 256)),
        applied),
      ("moment", Pca.momentStore(_), emb, "vec_id", "vec_id",
        Manifest.read(spark, _, "moments").select("shard_id", "n", "d"),
        applied),
      ("residual", Pca.residualStore(_), emb, "vec_id", "vec_id",
        Manifest.read(spark, _, "moments").select("shard_id", "cell"),
        applied),
      ("hll", Hll.distinctStore(_, Seq("event_type"), "user_id"), events,
        "ts", "event_id", perKey("data", "event_type"), applied),
      ("ann", Pq.annStore(_), emb, "vec_id", "vec_id",
        perKey("codes", "cell"), applied),
      ("edit", Dedup.editStore(_, "k"),
        docs.select(col("doc_id"), substring(col("text"), 1, 24).as("k")),
        "doc_id", "doc_id", perKey("strs", "doc_id"), applied),
      ("ndup", Dedup.nearDupStore(_), docs, "doc_id", "doc_id",
        perKey("sets", "doc_id"), applied),
      ("cont", Dedup.containmentStore(_), docs, "doc_id", "doc_id",
        perKey("sets", "doc_id"), applied),
      ("span", Dedup.spanStore(_), docs, "doc_id", "doc_id",
        perKey("spans", "h"), applied),
      ("gram", TextOps.gramStore(_), docs, "doc_id", "doc_id",
        perKey("grams", "g"), applied),
      ("tidx", TextIndex.indexStore, docs, "doc_id", "doc_id",
        perKey("doclen", "doc_id"), applied))
    families.foreach { case (name, store, input, order, tie, read, points) =>
      def rows(path: String) = read(path).collect().map(_.toString).sorted
      // a crashed run and its resume MUST share one staged input — the
      // file-source checkpoint tracks input files by path
      def replay(path: String, work: java.io.File, threshold: Int,
                 killPoint: Option[(Long, String)]): Unit =
        StreamedBatch.replayIntoStore(spark, input, order, tie, store(path),
          chunks = 4, stageKey = Some(s"kill-spec-$name"),
          autoCompact = threshold, killPoint = killPoint,
          workDirOpt = Some(work))
      val uninterrupted = tmp(s"kill-$name-ref-")
      replay(uninterrupted, new java.io.File(tmp("kill-work-")), 64, None)
      val want = rows(uninterrupted)
      want.length should be > 0
      for ((batch, phase) <- points) withClue(s"$name ($batch, $phase): ") {
        // the after-compact point must crash after a compaction that
        // actually rewrote the tree — threshold 1 forces one every batch
        val threshold = if (phase == "after-compact") 1 else 64
        val path = tmp(s"kill-$name-")
        val work = new java.io.File(tmp("kill-work-"))
        val e = intercept[Exception](
          replay(path, work, threshold, Some((batch, phase))))
        injected(e) shouldBe true
        // resume on the same checkpoint + store: the crashed batch is
        // re-delivered, and the ledger must make any part of it that
        // already landed a no-op
        replay(path, work, threshold, None)
        rows(path) shouldBe want
      }
    }
  }

  test("a replay with no workDirOpt stages its input and runs its work " +
      "dir under the scratch root") {
    val events = spark.range(0, 40).select(col("id").as("event_id"),
      timestamp_seconds(col("id") * 60).as("ts"))
    val root = graft.util.Scratch.root
    def children() = root.listFiles().map(_.getName).toSet
    val before = children()
    val out = StreamedBatch.replayAggregate(spark, events, "ts", "event_id",
      st => st.withWatermark("ts", "1 minute")
        .groupBy(window(col("ts"), "5 minutes")).count())
    val added = children() -- before
    // one staging dir (`in/` chunks) and one work dir (ckpt + out)
    added.count(_.startsWith("graft-stream-run-")) shouldBe 1
    added.count(n => n.startsWith("graft-stream-") &&
      !n.startsWith("graft-stream-run-")) shouldBe 1
    out.inputFiles should not be empty
    all(out.inputFiles.map(new java.net.URI(_).getPath)) should
      startWith(root.getAbsolutePath + "/graft-stream-run-")
  }
}
