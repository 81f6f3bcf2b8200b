package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.functions.TimeFunctions.batchTimestamp
import graft.operators.Silver

/** The medallion (bronze → silver → gold) transform chain — the
  * reference's entire pipeline surface (reference
  * `src/jobs/ingestion_bronze.py`, `process_silver.py`,
  * `gold_layer.py`), expressed as plain DataFrame→DataFrame functions
  * so the SAME plan runs in batch (oracle-checked) and in Structured
  * Streaming (wired by [[StreamJobs]]).
  *
  * Scale notes: bronze and silver are map-only (scan → project/filter →
  * write, no shuffle — pure split parallelism at any input size); gold
  * is one watermarked streaming aggregation whose only shuffle is on
  * `(window, symbol)`, with map-side partial aggregation and
  * state-store-backed finalization.
  *
  * Processing-time stamps (`ingest_ts`, `silver_processed_at`,
  * `gold_processed_at`) are [[graft.functions.BatchTimestamp]], not
  * `current_timestamp()`: same value (one per micro-batch, one per
  * query in batch mode), but kept out of the generated Java source. A
  * `current_timestamp()` stamp is folded into a new literal every
  * micro-batch, so each batch's whole-stage source differs and misses
  * the codegen cache: after a warm-up run, one-file micro-batches
  * through the bronze query cost 5 Janino compiles over 2 batches and
  * 17 over 8, through the silver query (no dedup) 7 and 19. With the
  * wrapper both queries compile as often over 8 batches as over 2
  * (StreamingSpec "processing-time stamps stay out of generated
  * code").
  */
object Medallion {

  /** Kafka-shaped input → bronze envelope (reference
    * `ingestion_bronze.py:56-57`): CAST key/value to string, rename the
    * broker timestamp, stamp ingest time (the batch's processing time).
    * Works on any DataFrame/stream with `key`, `value`, `timestamp`
    * columns (S1's surface).
    */
  def bronzeEnvelope(kafkaShaped: DataFrame): DataFrame =
    kafkaShaped
      .selectExpr(
        "CAST(key AS STRING) AS key",
        "CAST(value AS STRING) AS json_payload",
        "timestamp AS kafka_ts")
      .withColumn("ingest_ts", batchTimestamp())

  /** bronze → silver: parse/filter/type the ticker JSON
    * (`process_silver.py:98-114` via [[graft.operators.Silver]]), plus
    * the streaming-dedup gap-closure the reference README declares but
    * never built (`README.md:124`): `dropDuplicatesWithinWatermark` on
    * the trade identity `(symbol, trade_id)` bounded by `dedupDelay`
    * of event time.
    */
  def silverTrades(bronze: DataFrame, dedupDelay: Option[String] = None): DataFrame = {
    val parsed = Silver.parseTickers(bronze)
    dedupDelay match {
      case Some(delay) =>
        parsed.withWatermark("trade_timestamp", delay)
          .dropDuplicatesWithinWatermark("symbol", "trade_id")
      case None => parsed
    }
  }

  /** Stream-stream spread join — the cross-feed arbitrage computation
    * the reference's title promises but never builds (SURVEY.md §2.7):
    * two live trade streams joined on an event-time band, emitting
    * every A-trade paired with the B-trades of the preceding `band`.
    * Both sides carry watermarks so the join state is bounded: rows
    * older than watermark + band are evicted, the Spark stream-stream
    * join contract.
    *
    * The stream-stream equi-key is (base, time bucket), not base alone
    * (the plain base-keyed join survives only as the streaming spec's
    * reference form). With a bare base key, Spark's symmetric-hash
    * join scans a key's ENTIRE state for every arriving row —
    * O(N²/bases) compares when bases are few (measured: 33 s vs 3 s at
    * sf0.1 on 3 bases).
    * Bucketing by `floor(epoch / band)` and exploding the B side into
    * its own and the NEXT bucket makes each lookup touch only ~2 band
    * windows of state, and shards the join state across (base, bucket)
    * instead of piling it onto a handful of hot base keys.
    *
    * Exactly-once pairing: a qualifying pair has
    * `floor(u_a/band) ∈ {floor(u_b/band), floor(u_b/band)+1}` (u =
    * truncated epoch seconds; ts_a ∈ [ts_b, ts_b+band] bounds the
    * bucket delta to ≤ 1), and B contributes each bucket once, so every
    * pair matches on exactly A's bucket — no dedup needed. The exact
    * band predicate still applies after the bucket equi-match, and
    * both watermarks still bound state eviction.
    *
    * `joinType` extends the same plan to `left_outer`: an unmatched
    * A-trade emits null-extended exactly when the watermark proves no
    * future B can band-match it (`watermark >= ts_a`, since a match
    * needs `ts_b ∈ [ts_a − band, ts_a]` and future rows have
    * `ts_b > watermark`) — the alerting shape "this trade saw NO
    * counterpart feed inside the band". Bucketing does not disturb
    * outer semantics: B contributes each bucket once, so a truly
    * unmatched A row is unmatched in its own bucket and emits exactly
    * once.
    */
  def streamSpreadBucketed(silverA: DataFrame, silverB: DataFrame,
                           watermarkDelay: String = "10 minutes",
                           bandSeconds: Int = 60,
                           joinType: String = "inner"): DataFrame = {
    val a = silverA
      .withWatermark("trade_timestamp", watermarkDelay)
      .select(substring_index(col("symbol"), "-", 1).as("base"),
        col("symbol").as("symbol_a"), col("trade_timestamp").as("ts_a"),
        col("price").as("price_a"),
        floor(col("trade_timestamp").cast("long") / bandSeconds).as("bucket"))
    val b = silverB
      .withWatermark("trade_timestamp", watermarkDelay)
      .select(substring_index(col("symbol"), "-", 1).as("base_b"),
        col("symbol").as("symbol_b"), col("trade_timestamp").as("ts_b"),
        col("price").as("price_b"))
      .withColumn("bucket_b", explode(array(
        floor(col("ts_b").cast("long") / bandSeconds),
        floor(col("ts_b").cast("long") / bandSeconds) + 1)))
    a.join(b, col("base") === col("base_b") &&
        col("bucket") === col("bucket_b") && expr(
      s"ts_b BETWEEN ts_a - INTERVAL $bandSeconds SECONDS AND ts_a"), joinType)
      .select(col("base"), col("ts_a"), col("symbol_a"), col("price_a"),
        col("ts_b"), col("symbol_b"), col("price_b"),
        (col("price_a") - col("price_b")).as("spread"))
  }

  /** silver → gold: watermarked 1-minute OHLC/VWAP candles
    * (`gold_layer.py:55-80`). Reference-shaped output — including the
    * `avg(price)` "vwap" whose decimal(18,8) input Catalyst widens to
    * decimal(22,12), matching the reference's on-disk gold schema —
    * but with deterministic `min_by`/`max_by` open/close instead of
    * partition-order-dependent `first`/`last`.
    */
  def goldCandles(silver: DataFrame,
                  watermarkDelay: String = "10 minutes",
                  windowDur: String = "1 minute"): DataFrame = {
    val ts = col("trade_timestamp")
    silver
      .withWatermark("trade_timestamp", watermarkDelay)
      .groupBy(window(ts, windowDur).as("w"), col("symbol"))
      .agg(
        min_by(col("price"), ts).as("open"),
        max(col("price")).as("high"),
        min(col("price")).as("low"),
        max_by(col("price"), ts).as("close"),
        count(lit(1)).as("trade_count"),
        avg(col("price")).as("vwap"))
      .select(
        col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("symbol"), col("open"), col("high"), col("low"), col("close"),
        col("trade_count"), col("vwap").cast(DecimalType(22, 12)).as("vwap"),
        batchTimestamp().as("gold_processed_at"))
  }
}
