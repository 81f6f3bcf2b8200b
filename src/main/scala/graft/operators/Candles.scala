package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

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
  // writes partials parquet partitioned by `p_date(window_start)`;
  // [[updateCandleStore]] folds a new event shard in by writing ONLY
  // the date partitions the shard touches; [[candlesFromStore]] /
  // [[candlesWithShard]] finalize to the exact [[ohlcv]] frame —
  // untouched partitions flow map-only (union side of the plan, no
  // shuffle), only touched partials and the shard pay the merge
  // aggregation.
  //
  // Durability model (the Delta-_delta_log analog on plain parquet):
  // data lives in immutable `data/ver=N/p_date=D/` leaf dirs — an
  // update never rewrites an existing file — and a store GENERATION is
  // a manifest (`_meta/manifest-N/`, a tiny parquet table) mapping each
  // date to the version dir that currently owns it, plus the ledger of
  // applied shard ids. The newest manifest with a `_SUCCESS` marker IS
  // the store state:
  //  * atomic visibility — readers resolve date→dir through one
  //    committed manifest, so they see a complete generation, never a
  //    mid-update mix (the previous generation's leaves are retained
  //    until the NEXT commit, so an in-flight reader holding manifest
  //    N survives the commit of N+1);
  //  * crash safety — a failure before the manifest commit leaves only
  //    orphaned `ver=N+1` leaves and a _SUCCESS-less manifest dir,
  //    both ignored by readers and overwritten by the retry;
  //  * idempotent retries — an update carrying a `shardId` is a no-op
  //    when the ledger already lists it (the Delta `txn` action's
  //    dedup; counts/sums are additive, so WITHOUT the ledger a
  //    re-applied shard would double-count).
  // Single WRITER at a time remains the caller's contract (as with
  // [[graft.util.Lake.compact]]); readers are unrestricted.

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

  private def dataPath(path: String) = s"$path/data"
  private def metaPath(path: String) = s"$path/_meta"

  /** A committed store generation: manifest number, date → owning
    * version dir, applied shard ids.
    */
  private case class StoreState(n: Int, dates: Map[String, Int],
                                applied: Set[String])

  private def fsOf(spark: org.apache.spark.sql.SparkSession,
                   p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation numbers of every COMMITTED manifest (`_SUCCESS`
    * present — a crashed manifest write is invisible), ascending.
    * These are the store's time-travel points: how many survive is the
    * updater's `retainGenerations`.
    */
  def storeGenerations(spark: org.apache.spark.sql.SparkSession,
                       path: String): Seq[Int] = {
    val fs = fsOf(spark, path)
    fs.listStatus(new org.apache.hadoop.fs.Path(metaPath(path)))
      .filter(_.isDirectory)
      .map(_.getPath)
      .filter(p => p.getName.startsWith("manifest-") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName.stripPrefix("manifest-").toInt)
      .sorted.toSeq
  }

  /** Resolve one committed store generation — the newest when `asOf`
    * is None. Driver-side work is one directory listing plus a tiny
    * parquet read.
    */
  private def readState(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        asOf: Option[Int] = None): StoreState = {
    val gens = storeGenerations(spark, path)
    require(gens.nonEmpty, s"no committed candle-store manifest under $path")
    val n = asOf match {
      case None => gens.max
      case Some(g) =>
        require(gens.contains(g),
          s"candle-store generation $g not retained under $path " +
            s"(available: ${gens.mkString(",")})")
        g
    }
    val rows = spark.read.parquet(s"${metaPath(path)}/manifest-$n").collect()
    StoreState(n,
      rows.filter(!_.isNullAt(0)).map(r => r.getString(0) -> r.getInt(1)).toMap,
      rows.filter(_.isNullAt(0)).map(_.getString(2)).toSet)
  }

  /** Write + commit manifest `n` (Spark's `_SUCCESS` marker is the
    * commit point; Overwrite mode makes a crashed attempt retryable).
    */
  private def writeState(spark: org.apache.spark.sql.SparkSession, path: String,
                         n: Int, dates: Map[String, Int],
                         applied: Set[String]): Unit = {
    import spark.implicits._
    val rows =
      dates.toSeq.map { case (d, v) => (Option(d), Option(v), Option.empty[String]) } ++
        applied.toSeq.map(s => (Option.empty[String], Option.empty[Int], Option(s)))
    rows.toDF("p_date", "ver", "shard_id")
      .coalesce(1)
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${metaPath(path)}/manifest-$n")
  }

  /** The store's partial-aggregate frame for `wanted` dates (all when
    * None), resolved through one committed manifest: each date reads
    * exactly its owning `ver=/p_date=` leaf dir — file listing is
    * bounded by the dates asked for, and a concurrent update commit
    * cannot mix generations into the scan.
    */
  private def storedPartials(spark: org.apache.spark.sql.SparkSession,
                             path: String, st: StoreState,
                             wanted: Option[Set[String]]): DataFrame = {
    val sel = wanted.map(w => st.dates.view.filterKeys(w).toMap).getOrElse(st.dates)
    val leaves = sel.toSeq.sortBy(_._1)
      .map { case (d, v) => s"${dataPath(path)}/ver=$v/p_date=$d" }
    if (leaves.isEmpty)
      // schema-stable empty frame (a shard can touch only new dates)
      spark.read.option("basePath", dataPath(path))
        .parquet(dataPath(path)).filter(lit(false)).drop("ver")
    else
      spark.read.option("basePath", dataPath(path))
        .parquet(leaves: _*).drop("ver")
  }

  /** Drop manifests (and the data versions only they reference) older
    * than the newest `retain` generations. The retained window is both
    * the in-flight-reader grace period AND the time-travel horizon —
    * a reader that resolved any retained manifest keeps every leaf it
    * needs; anything older is unreachable garbage.
    */
  private def retire(spark: org.apache.spark.sql.SparkSession, path: String,
                     current: Int, retain: Int): Unit = {
    val fs = fsOf(spark, path)
    val floor = current - (retain - 1)
    val kept = storeGenerations(spark, path).filter(_ >= floor)
    val live = kept
      .flatMap(g => readState(spark, path, Some(g)).dates.values).toSet
    fs.listStatus(new org.apache.hadoop.fs.Path(dataPath(path)))
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("ver=") &&
        !live(p.getName.stripPrefix("ver=").toInt))
      .foreach(fs.delete(_, true))
    fs.listStatus(new org.apache.hadoop.fs.Path(metaPath(path)))
      .filter(_.isDirectory).map(_.getPath)
      .filter { p =>
        val name = p.getName
        !name.startsWith("manifest-") ||
          name.stripPrefix("manifest-").toInt < floor
      }
      .foreach(fs.delete(_, true))
  }

  /** Initialize the candle store: partials of `events` land as
    * generation 0 (`data/ver=0/p_date=…` + manifest-0). A re-build
    * over a previously used path clears the old `_meta`/`data` trees
    * FIRST — without that, a surviving manifest with a higher
    * generation number than 0 would stay the newest committed one and
    * [[readState]] would silently resolve the stale pre-rebuild store
    * (and its applied-shard ledger), ignoring the rebuild entirely.
    */
  def buildCandleStore(events: DataFrame, path: String,
                       windowDur: String = "1 minute"): Unit = {
    val spark = events.sparkSession
    val fs0 = fsOf(spark, path)
    Seq(metaPath(path), dataPath(path)).foreach { p =>
      fs0.delete(new org.apache.hadoop.fs.Path(p), true)
    }
    withPDate(candlePartials(events, windowDur))
      .write.partitionBy("p_date")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${dataPath(path)}/ver=0")
    val fs = fsOf(spark, path)
    val dates = fs.listStatus(
        new org.apache.hadoop.fs.Path(s"${dataPath(path)}/ver=0"))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("p_date="))
      .map(_.stripPrefix("p_date=") -> 0).toMap
    writeState(spark, path, 0, dates, Set.empty)
  }

  /** Fold a new event shard into the store, writing ONLY the date
    * partitions the shard's windows land in (one new `ver=` dir), then
    * committing the next manifest generation. Cost is
    * O(shard + touched partitions) — history outside the shard's date
    * range is never read or written. `shardId` (when given) is checked
    * against and recorded in the manifest ledger, making re-application
    * after a retry a no-op instead of a double count. An EMPTY shard
    * returns immediately. Crash at any point leaves the committed
    * generation untouched (see the durability model above).
    * `retainGenerations` (≥ 2) sets how many committed generations
    * survive each update — the time-travel horizon for
    * [[candlesFromStore]]'s `asOf` reads.
    */
  def updateCandleStore(newEvents: DataFrame, path: String,
                        windowDur: String = "1 minute",
                        shardId: Option[String] = None,
                        retainGenerations: Int = 2): Unit = {
    require(retainGenerations >= 2,
      "retainGenerations must be >= 2 (current + the in-flight-reader grace generation)")
    val spark = newEvents.sparkSession
    val st = readState(spark, path)
    if (shardId.exists(st.applied)) return
    val delta = withPDate(candlePartials(newEvents, windowDur))
    // the touched dates drive leaf selection and the new manifest — a
    // bounded driver-side list (a shard spans few dates), same contract
    // as the probed-cell collect in Pq.annTopK
    val dates = delta.select("p_date").distinct()
      .collect().map(_.getDate(0).toString).toSet
    if (dates.isEmpty) return
    val touched = storedPartials(spark, path, st, Some(dates))
    val merged = withPDate(
      mergeCandlePartials(touched.drop("p_date"), delta.drop("p_date")))
    val next = st.n + 1
    merged.write.partitionBy("p_date")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${dataPath(path)}/ver=$next")
    writeState(spark, path, next,
      st.dates ++ dates.map(_ -> next),
      st.applied ++ shardId)
    retire(spark, path, next, retainGenerations)
  }

  /** Compact the store into ONE new generation: every live leaf
    * rewrites into `ver=n+1` (one file per date — the write
    * repartitions by `p_date`, rows clustered by (window_start,
    * symbol) within each leaf for scan locality), and manifest `n+1`
    * maps every date to it, carrying the applied-shard ledger forward
    * unchanged so retried shards stay no-ops across the compaction.
    *
    * Why it exists: each [[updateCandleStore]] adds one `ver=` dir
    * owning just the dates it touched; after a year of daily shards
    * the live tree spans ~365 version dirs, and the per-read leaf
    * listing (and every filesystem's directory metadata) scales with
    * update COUNT instead of date count. Compaction resets that to one
    * dir — the maintenance op that keeps the accretion bounded, same
    * role as [[graft.util.Lake.compact]] for flat dirs.
    *
    * Protocol-honoring: the new generation commits through the same
    * `_SUCCESS`-marked manifest (readers see old or new, never a mix),
    * prior retained generations stay resolvable for `asOf` time travel
    * (their leaves survive [[retire]] until they age out), and the
    * single-writer contract is the caller's, as with updates. Cost is
    * one read+write of the LIVE data only — history never re-merges
    * (partials are already one row per (window, symbol) per date).
    */
  def compactCandleStore(spark: org.apache.spark.sql.SparkSession, path: String,
                         retainGenerations: Int = 2): Unit = {
    require(retainGenerations >= 2,
      "retainGenerations must be >= 2 (current + the in-flight-reader grace generation)")
    val st = readState(spark, path)
    val next = st.n + 1
    storedPartials(spark, path, st, None)
      .repartition(col("p_date"))
      .sortWithinPartitions(col("p_date"), col("window_start"), col("symbol"))
      .write.partitionBy("p_date")
      .mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(s"${dataPath(path)}/ver=$next")
    writeState(spark, path, next,
      st.dates.keys.map(_ -> next).toMap, st.applied)
    retire(spark, path, next, retainGenerations)
  }

  /** File-count policy form of [[compactCandleStore]]: compact only
    * when the live tree spans more than `maxVersions` owning `ver=`
    * dirs (the quantity that grows one per update and degrades leaf
    * listing). Returns whether a compaction ran — the streamed sink's
    * default-on maintenance hook, same shape as
    * [[graft.util.Manifest.autoCompactSub]].
    */
  def autoCompactCandleStore(spark: org.apache.spark.sql.SparkSession,
                             path: String, maxVersions: Int,
                             retainGenerations: Int = 2): Boolean = {
    require(maxVersions >= 1, s"maxVersions must be ≥ 1, got $maxVersions")
    liveVersionCount(spark, path) > maxVersions && {
      compactCandleStore(spark, path, retainGenerations); true
    }
  }

  /** Number of DISTINCT `ver=` dirs the current manifest references —
    * the live-tree width [[autoCompactCandleStore]] bounds (retired
    * generations' dirs may linger for time travel; they are not live).
    */
  def liveVersionCount(spark: org.apache.spark.sql.SparkSession,
                       path: String): Int =
    readState(spark, path).dates.values.toSet.size

  /** The candle store as a streamed [[graft.util.ShardedStore]] — the
    * incremental-view-maintenance alternative to a stateful streaming
    * aggregation: the store's mergeable partials ARE the state, updated
    * per batch with O(batch + touched dates) work and served by readers
    * at any moment through a committed generation. Batch 0 initializes
    * ([[buildCandleStore]]); later batches fold in through
    * [[updateCandleStore]] with the batch id as the ledgered shard id.
    * Compaction bounds the live `ver=` dirs
    * ([[autoCompactCandleStore]]); the ledger carries through it.
    *
    * The store keeps its own manifest dialect (`p_date, ver, shard_id`
    * rows under `_meta/manifest-N`, the same path
    * [[graft.util.Manifest]] uses), and its build records no ledger
    * stamp, so `built` is always false: a resumed replay rebuilds.
    */
  def candleStore(path: String,
                  windowDur: String = "1 minute"): graft.util.ShardedStore =
    graft.util.ShardedStore(path,
      build = buildCandleStore(_, path, windowDur),
      extend = (b, id) => updateCandleStore(b, path, windowDur, Some(id)),
      compact = (spark, maxVersions) =>
        autoCompactCandleStore(spark, path, maxVersions),
      built = _ => false)

  /** The store's candles — exactly [[ohlcv]] over everything built +
    * updated in, resolved through one committed manifest generation:
    * the newest, or (`asOf`) any still-retained older one — the Delta
    * `VERSION AS OF` time-travel analog, for free from the generation
    * layout. [[storeGenerations]] lists the available points.
    */
  def candlesFromStore(spark: org.apache.spark.sql.SparkSession,
                       path: String,
                       asOf: Option[Int] = None): DataFrame =
    finalizeCandles(
      storedPartials(spark, path, readState(spark, path, asOf), None).drop("p_date"))

  /** Change data feed between two committed store generations — the
    * Delta `table_changes()` analog on the manifest-generation store:
    * one row per (window_start, symbol) whose candle DIFFERS between
    * `fromGen` and `toGen` (newest when None), typed
    * insert/update/delete with flattened before/after values. A
    * downstream consumer replays exactly the deltas instead of
    * re-reading the table — the incremental-consumption contract CDC
    * exists for.
    *
    * Plan shape: two generation reads (each partition-pruned by its
    * manifest), one full-outer join on the candle key, a null-safe
    * field comparison — no window, no collect. Unchanged keys drop
    * out; `fromGen` newer than `toGen` yields the reverse feed
    * (inserts become deletes), which is what a rollback replays.
    */
  def candleStoreChanges(spark: org.apache.spark.sql.SparkSession,
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
  def candlesWithShard(spark: org.apache.spark.sql.SparkSession, path: String,
                       newEvents: DataFrame,
                       windowDur: String = "1 minute"): DataFrame = {
    val delta = withPDate(candlePartials(newEvents, windowDur))
    val dates = delta.select("p_date").distinct()
    val stored = storedPartials(spark, path, readState(spark, path), None)
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
