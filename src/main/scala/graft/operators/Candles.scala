package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.{Manifest, ShardedStore}

/** Gold-layer candle computation — the reference's flagship query
  * (reference `src/jobs/gold_layer.py:55-80`): 1-minute OHLC + VWAP
  * per symbol over an event-time stream.
  *
  * Spark-first notes:
  *  - `open`/`close` use `min_by`/`max_by` keyed on the event timestamp —
  *    deterministic under any partitioning, unlike the reference's
  *    partition-order-dependent `first`/`last` (`gold_layer.py:62,65`).
  *    The reference-faithful variant is kept as [[ohlcFirstLast]].
  *  - One hash-aggregate with map-side partial aggregation; the only
  *    shuffle is on the grouping key `(window, symbol)` — at 100 TB this
  *    is the minimal shuffle any grouped candle computation needs.
  *  - `vwap` in the reference is a plain `avg(price)` (admitted at
  *    `gold_layer.py:67`); [[vwapTrue]] adds the volume-weighted version
  *    the README promises (`README.md:133`).
  */
object Candles {

  /** Batch/streaming-shared candle plan. Works on any DataFrame with an
    * event-time column, a symbol column, and a price column. `tieCol`
    * (e.g. a unique event id) makes open/close deterministic when two
    * trades share a timestamp — without it `min_by`/`max_by` tie-break
    * arbitrarily, which is partition-order dependent.
    */
  def ohlcv(events: DataFrame, windowDur: String = "1 minute",
            tsCol: String = "ts", symbolCol: String = "event_type",
            priceCol: String = "value", tieCol: Option[String] = None): DataFrame = {
    val ts = col(tsCol)
    val ord = tieCol.map(t => struct(ts, col(t))).getOrElse(ts)
    val price = col(priceCol)
    events
      .groupBy(window(ts, windowDur).as("w"), col(symbolCol).as("symbol"))
      .agg(
        min_by(price, ord).as("open"),
        max(price).as("high"),
        min(price).as("low"),
        max_by(price, ord).as("close"),
        count(lit(1)).as("trade_count"),
        round(avg(price), 6).as("vwap"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("symbol"), col("open"), col("high"), col("low"), col("close"),
        col("trade_count"), col("vwap"))
  }

  /** Reference-faithful variant: `first`/`last` within the group
    * (`gold_layer.py:62,65`) — partition-order dependent, kept for parity
    * demonstrations and streaming-state tests, not for oracle comparison.
    */
  def ohlcFirstLast(events: DataFrame, windowDur: String = "1 minute",
                    tsCol: String = "ts", symbolCol: String = "event_type",
                    priceCol: String = "value"): DataFrame = {
    val price = col(priceCol)
    events
      .groupBy(window(col(tsCol), windowDur).as("w"), col(symbolCol).as("symbol"))
      .agg(
        first(price).as("open"), max(price).as("high"),
        min(price).as("low"), last(price).as("close"),
        count(lit(1)).as("trade_count"), avg(price).as("vwap"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("symbol"), col("open"), col("high"), col("low"), col("close"),
        col("trade_count"), col("vwap"))
  }

  /** Sliding-window candles: overlapping windows of `windowDur` every
    * `slideDur` (each event lands in windowDur/slideDur windows).
    * Identical agg shape to [[ohlcv]]; the `window()` expression
    * expands each row to its covering windows before the grouped agg,
    * so the shuffle grows by the overlap factor — the standard cost of
    * sliding aggregation, and the reason slideDur should divide
    * windowDur.
    */
  def ohlcvSliding(events: DataFrame, windowDur: String, slideDur: String,
                   tsCol: String = "ts", symbolCol: String = "event_type",
                   priceCol: String = "value", tieCol: Option[String] = None): DataFrame = {
    val ts = col(tsCol)
    val ord = tieCol.map(t => struct(ts, col(t))).getOrElse(ts)
    val price = col(priceCol)
    events
      .groupBy(window(ts, windowDur, slideDur).as("w"), col(symbolCol).as("symbol"))
      .agg(
        min_by(price, ord).as("open"), max(price).as("high"),
        min(price).as("low"), max_by(price, ord).as("close"),
        count(lit(1)).as("trade_count"), round(avg(price), 6).as("vwap"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("symbol"), col("open"), col("high"), col("low"), col("close"),
        col("trade_count"), col("vwap"))
  }

  /** Session-window activity: events of one key separated by gaps
    * shorter than `gapDur` merge into one session
    * (`session_window` — state-merging in streaming, plain grouped agg
    * in batch). Emits per-session start/end-of-activity, event count,
    * and value sum.
    */
  def sessions(events: DataFrame, gapDur: String,
               tsCol: String = "ts", keyCol: String = "user_id",
               valueCol: String = "value"): DataFrame =
    events
      .groupBy(session_window(col(tsCol), gapDur).as("w"), col(keyCol))
      .agg(
        min(col(tsCol)).as("session_start"),
        max(col(tsCol)).as("session_last"),
        count(lit(1)).as("n_events"),
        round(sum(col(valueCol)), 6).as("sum_value"))
      .select(col(keyCol), col("session_start"), col("session_last"),
        col("n_events"), col("sum_value"))

  // ── Incremental candle maintenance ────────────────────────────────
  //
  // The gold table's daily reality at 100 TB: yesterday's candles are
  // already computed and most of today's shard touches only the most
  // recent windows. Recomputing the whole table per shard is O(history);
  // the standard fix is incremental view maintenance over MERGEABLE
  // partial aggregates. Every [[ohlcv]] measure decomposes:
  // high/low/count/sum are semigroup merges, and open/close become
  // merges once the winning (ts, tie, price) key is carried — argmin
  // over partials is `min(struct(ts, tie, price))` (lexicographic;
  // (ts, tie) is unique so price never arbitrates). vwap is derived at
  // finalize time as sum/count, so it needs no merge rule of its own.
  //
  // Lifecycle (mirrors Dedup's near-dup index): [[buildCandleStore]]
  // writes partials parquet under `data/`, partitioned by
  // `p_date(window_start)`; [[updateCandleStore]] folds a new event
  // shard in by rewriting ONLY the date partitions the shard touches;
  // [[candlesFromStore]] / [[candlesWithShard]] finalize to the exact
  // [[ohlcv]] frame — untouched partitions flow map-only (union side of
  // the plan, no shuffle), only touched partials and the shard pay the
  // merge aggregation.
  //
  // Durability (atomic commits, reader snapshots, the applied-shard
  // ledger, time travel, concurrency) is [[graft.util.Manifest]]'s
  // generation-manifest protocol, the one every persisted store uses.

  /** Mergeable per-(window, symbol) candle partials of `events`.
    * Columns: window bounds, symbol, `open_k`/`close_k` (winning
    * (t, i, p) structs), high, low, trade_count, sum_value.
    */
  def candlePartials(events: DataFrame, windowDur: String = "1 minute",
                     tsCol: String = "ts", symbolCol: String = "event_type",
                     priceCol: String = "value", tieCol: String = "event_id"): DataFrame = {
    val ts = col(tsCol); val price = col(priceCol)
    val key = struct(ts.as("t"), col(tieCol).as("i"), price.as("p"))
    events
      .groupBy(window(ts, windowDur).as("w"), col(symbolCol).as("symbol"))
      .agg(
        min(key).as("open_k"), max(price).as("high"), min(price).as("low"),
        max(key).as("close_k"), count(lit(1)).as("trade_count"),
        sum(price).as("sum_value"))
      .select(col("w.start").as("window_start"), col("w.end").as("window_end"),
        col("symbol"), col("open_k"), col("high"), col("low"), col("close_k"),
        col("trade_count"), col("sum_value"))
  }

  /** Merge two partial frames — associative + commutative, so any
    * shard/union order yields the same candles after [[finalizeCandles]].
    */
  def mergeCandlePartials(a: DataFrame, b: DataFrame): DataFrame =
    combinePartials(a.unionByName(b))

  /** The associative combine over partial rows, shared by the store
    * merge and the rollup. The re-summed `sum_value` keeps the partials'
    * own type: Spark widens a decimal sum by 10 digits of precision,
    * so after one merge a decimal(28,8) sum would become decimal(38,8),
    * and [[finalizeCandles]]' division at that precision keeps only
    * scale 8 — rounding vwap once before its 6-dp round and diverging
    * from [[ohlcv]].
    */
  private def combinePartials(partials: DataFrame): DataFrame =
    partials.groupBy("window_start", "window_end", "symbol")
      .agg(
        min(col("open_k")).as("open_k"), max(col("high")).as("high"),
        min(col("low")).as("low"), max(col("close_k")).as("close_k"),
        sum(col("trade_count")).as("trade_count"),
        sum(col("sum_value")).cast(partials.schema("sum_value").dataType)
          .as("sum_value"))

  /** Hierarchical re-aggregation: roll fine-grained candle PARTIALS up
    * to a coarser window (1m → 5m/15m/1h dashboards) without touching
    * the events again — re-key each partial to its coarse bucket and
    * merge with the same associative combine the incremental store
    * uses. Because partials carry raw sums (not the rounded vwap),
    * the rolled-up candles equal a direct coarse aggregation of the
    * events exactly — the invariant that makes serving multiple
    * granularities from ONE stored partial table sound.
    */
  def rollupCandles(partials: DataFrame, toDurSec: Long = 300L): DataFrame = {
    val rekeyed = partials
      .withColumn("__b",
        floor(unix_timestamp(col("window_start")) / toDurSec) * toDurSec)
      .withColumn("window_start", timestamp_seconds(col("__b")))
      .withColumn("window_end", timestamp_seconds(col("__b") + toDurSec))
      .drop("__b")
    finalizeCandles(combinePartials(rekeyed))
  }

  /** Partials → the exact [[ohlcv]] output frame (map-only). */
  def finalizeCandles(partials: DataFrame): DataFrame =
    partials.select(col("window_start"), col("window_end"), col("symbol"),
      col("open_k.p").as("open"), col("high"), col("low"),
      col("close_k.p").as("close"), col("trade_count"),
      round(col("sum_value") / col("trade_count"), 6).as("vwap"))

  private def withPDate(partials: DataFrame): DataFrame =
    partials.withColumn("p_date", to_date(col("window_start")))

  /** The root-relative partial files `files` as one frame with its
    * `p_date` partition column, or zero rows of `schemaFrom`'s shape
    * when there are none (a shard can touch only new dates).
    */
  private def readPartials(spark: SparkSession, path: String,
                           files: Seq[String], schemaFrom: DataFrame): DataFrame =
    if (files.isEmpty) schemaFrom.filter(lit(false))
    else spark.read.option("basePath", s"$path/data")
      .parquet(files.map(f => s"$path/$f"): _*)

  /** Initialize the candle store: partials of `events`, partitioned by
    * `p_date`, committed as generation 0 ([[Manifest.init]] clears any
    * previous store at `path` first, its ledger included).
    */
  def buildCandleStore(events: DataFrame, path: String,
                       windowDur: String = "1 minute",
                       applied: Set[String] = Set.empty): Unit =
    Manifest.init(events.sparkSession, path, applied) {
      withPDate(candlePartials(events, windowDur))
        .write.partitionBy("p_date").parquet(s"$path/data")
    }

  /** Fold a new event shard into the store, rewriting ONLY the date
    * partitions the shard's windows land in: the touched dates' live
    * files are read, merged with the shard's partials, and swapped for
    * the merged files in one [[Manifest.rewriteFiles]] commit. Cost is
    * O(shard + touched partitions) — history outside the shard's date
    * range is never read or written. `shardId` (when given) is checked
    * against and recorded in the manifest ledger, making re-application
    * after a retry a no-op instead of a double count. An EMPTY shard
    * commits nothing. `retainGenerations` (≥ 2) sets how many committed
    * generations survive each update — the time-travel horizon for
    * [[candlesFromStore]]'s `asOf` reads.
    */
  def updateCandleStore(newEvents: DataFrame, path: String,
                        windowDur: String = "1 minute",
                        shardId: Option[String] = None,
                        retainGenerations: Int = 2): Unit = {
    val spark = newEvents.sparkSession
    val snap = Manifest.snapshot(spark, path)
    if (shardId.exists(snap.applied)) return
    val delta = withPDate(candlePartials(newEvents, windowDur))
    // the touched dates select the live files to rewrite — a bounded
    // driver-side list (a shard spans few dates), same contract as the
    // probed-cell collect in Pq.annTopK
    val dates = delta.select("p_date").distinct()
      .collect().map(_.getDate(0).toString).toSet
    if (dates.isEmpty) return
    val touched = snap.files.filter(f =>
      dates.exists(d => f.startsWith(s"data/p_date=$d/")))
    val merged = mergeCandlePartials(
      readPartials(spark, path, touched, delta).drop("p_date"), delta.drop("p_date"))
    // baseGen pins the conflict check to the snapshot the touched files
    // came from: a commit landing in between refuses instead of being
    // silently overwritten
    Manifest.rewriteFiles(spark, path, touched.toSet, shardId,
        retain = retainGenerations, baseGen = Some(snap.gen)) { stage =>
      withPDate(merged).write.partitionBy("p_date").parquet(s"$stage/data")
    }
  }

  /** Compact the store into ONE new generation holding one file per
    * live date ([[Manifest.compactSub]] on `data`, which keeps the
    * `p_date` dirs). Updates leave each touched date with as many
    * files as the merge had write tasks; compaction resets that, same
    * role as [[graft.util.Lake.mergeCompact]] for merge tables.
    * Answers, the applied-shard ledger and the retained generations'
    * `asOf` reads survive.
    */
  def compactCandleStore(spark: SparkSession, path: String,
                         retainGenerations: Int = 2): Unit = {
    Manifest.compactSub(spark, path, "data", retain = retainGenerations); ()
  }

  /** The candle store as a streamed [[graft.util.ShardedStore]] — the
    * incremental-view-maintenance alternative to a stateful streaming
    * aggregation: the store's mergeable partials ARE the state, updated
    * per batch with O(batch + touched dates) work and served by readers
    * at any moment through a committed generation. Batch 0 initializes
    * ([[buildCandleStore]]); later batches fold in through
    * [[updateCandleStore]] with the batch id as the ledgered shard id.
    * Compaction is the file-count policy on `data`
    * ([[Manifest.autoCompactSub]]); the ledger carries through it.
    */
  def candleStore(path: String, windowDur: String = "1 minute"): ShardedStore =
    ShardedStore.onManifest(path, "data")(
      buildCandleStore(_, path, windowDur, _),
      updateCandleStore(_, path, windowDur, _))

  /** The store's candles — exactly [[ohlcv]] over everything built +
    * updated in, resolved through one committed manifest generation:
    * the newest, or (`asOf`) any still-retained older one — the Delta
    * `VERSION AS OF` time-travel analog. [[Manifest.generations]] lists
    * the available points.
    */
  def candlesFromStore(spark: SparkSession, path: String,
                       asOf: Option[Int] = None): DataFrame =
    finalizeCandles(Manifest.read(spark, path, "data", asOf).drop("p_date"))

  /** Change data feed between two committed store generations — the
    * Delta `table_changes()` analog on the manifest-generation store:
    * one row per (window_start, symbol) whose candle DIFFERS between
    * `fromGen` and `toGen` (newest when None), typed
    * insert/update/delete with flattened before/after values. A
    * downstream consumer replays exactly the deltas instead of
    * re-reading the table — the incremental-consumption contract CDC
    * exists for.
    *
    * Plan shape: two generation reads (each resolved through its
    * manifest), one full-outer join on the candle key, a null-safe
    * field comparison — no window, no collect. Unchanged keys drop
    * out; `fromGen` newer than `toGen` yields the reverse feed
    * (inserts become deletes), which is what a rollback replays.
    */
  def candleStoreChanges(spark: SparkSession,
                         path: String, fromGen: Int,
                         toGen: Option[Int] = None): DataFrame = {
    val vals = Seq("open", "high", "low", "close", "trade_count", "vwap")
    def side(g: Option[Int], p: String) =
      candlesFromStore(spark, path, g).select(
        Seq(col("window_start"), col("symbol")) ++
          vals.map(c => col(c).as(s"${p}_$c")): _*)
    val joined = side(Some(fromGen), "before")
      .join(side(toGen, "after"), Seq("window_start", "symbol"), "full_outer")
    val changed = vals.map(c =>
      not(col(s"before_$c") <=> col(s"after_$c"))).reduce(_ || _)
    joined.withColumn("change_type",
        when(col("before_trade_count").isNull, lit("insert"))
          .when(col("after_trade_count").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
  }

  /** Read-only merge view: candles over store ∪ an unapplied shard —
    * what a serving query returns between shard arrivals and store
    * updates. Untouched dates stream map-only through finalize (union
    * branch, no shuffle); only the shard's dates pay the merge agg.
    */
  def candlesWithShard(spark: SparkSession, path: String,
                       newEvents: DataFrame,
                       windowDur: String = "1 minute"): DataFrame = {
    val delta = withPDate(candlePartials(newEvents, windowDur))
    val dates = delta.select("p_date").distinct()
    val stored = Manifest.read(spark, path, "data", schemaFrom = Some(delta))
    val touched = stored.join(broadcast(dates), Seq("p_date"), "left_semi")
    val untouched = stored.join(broadcast(dates), Seq("p_date"), "left_anti")
    finalizeCandles(
      mergeCandlePartials(touched.drop("p_date"), delta.drop("p_date"))
        .unionByName(untouched.drop("p_date")))
  }

  /** True volume-weighted average price: sum(price*vol)/sum(vol) —
    * closes the reference's declared-but-unimplemented VWAP gap
    * (`README.md:133` vs `gold_layer.py:67`). Volume is any numeric col.
    */
  def vwapTrue(events: DataFrame, volCol: Column, windowDur: String = "1 minute",
               tsCol: String = "ts", symbolCol: String = "event_type",
               priceCol: String = "value"): DataFrame = {
    val price = col(priceCol)
    events
      .groupBy(window(col(tsCol), windowDur).as("w"), col(symbolCol).as("symbol"))
      .agg(
        round(sum(price * volCol) / sum(volCol), 6).as("vwap"),
        round(sum(volCol), 6).as("volume"),
        count(lit(1)).as("trade_count"))
      .select(col("w.start").as("window_start"), col("symbol"),
        col("vwap"), col("volume"), col("trade_count"))
  }
}
