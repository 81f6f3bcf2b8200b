package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Stateful threshold alerting — "tell me when the price has moved
  * ≥ `minMove` since the last alert" — the monitoring feature the
  * reference approximates client-side with its per-refresh prev-close
  * delta metric (`src/dashboard/app.py:73-79`), upgraded from "delta
  * since the previous candle" to a true reference-reset alert process.
  *
  * Semantics (per key, rows in (ts, tie) order): the first row seeds a
  * reference price and emits nothing; each later row whose absolute
  * move from the current reference reaches `minMove` emits an alert
  * and RESETS the reference to its own price. This is a sequential
  * recurrence — the reference after row i depends on every prior
  * alert decision — so no window function expresses it; it is the
  * textbook case for per-key custom state.
  *
  * Two executions of the same recurrence:
  *  - [[thresholdAlerts]] (batch): secondary sort — one hash exchange
  *    on the key, a per-partition spillable sort on (key, ts, tie),
  *    then a streaming `mapPartitions` scan that never buffers a
  *    group. Keys run in parallel; each key's scan is inherently
  *    sequential (that IS the semantics).
  *  - [[thresholdAlertsStream]] (streaming): the same recurrence as a
  *    `flatMapGroupsWithState` operator, the reference price carried
  *    in `GroupState` across micro-batches.
  *
  * Scale notes: state per key is ONE double — a billion keys is 8 GB
  * spread over the cluster's state stores. The batch shape's unit of
  * parallelism is the key, so a single pathologically hot key (one
  * symbol holding a whole 100 TB table) serializes; cut such a key
  * into time slices and stitch at the boundaries by re-seeding each
  * slice with the previous slice's final reference (the recurrence is
  * resumable from (ref) alone, which is also why the streaming twin
  * needs only `RefState`). Ordering contract for streaming: rows are
  * sorted WITHIN a micro-batch, but state has already advanced past
  * earlier batches — cross-batch order must come from the source
  * (a topic partitioned by key, or the chronological replay harness),
  * the same per-key-order contract every Kafka stateful consumer
  * relies on.
  */
object Alerts {

  /** Input row for the typed streaming path. */
  case class Trade(symbol: String, ts: Timestamp, tie: Long, price: Double)

  /** Emitted alert: `ref_price` is the reference the move was measured
    * against (the price of the previous alert, or the seed row).
    */
  case class Alert(symbol: String, trade_timestamp: Timestamp, trade_id: Long,
                   price: Double, ref_price: Double, move: Double)

  /** All the state the recurrence needs: the current reference price. */
  case class RefState(ref: Double)

  /** `move` is emitted RAW (`price - ref`, exact IEEE semantics both
    * here and in any SQL oracle); round at the presentation edge, not
    * inside the recurrence.
    */
  private def alertsFor(t: Trade, ref: Double, minMove: Double): Option[Alert] =
    if (math.abs(t.price - ref) >= minMove)
      Some(Alert(t.symbol, t.ts, t.tie, t.price, ref, t.price - ref))
    else None

  /** Project an arbitrary frame to the typed [[Trade]] shape. */
  def trades(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
             priceCol: String): Dataset[Trade] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.filter(col(keyCol).isNotNull && col(tsCol).isNotNull &&
        col(priceCol).isNotNull)
      .select(col(keyCol).cast("string").as("symbol"),
        col(tsCol).cast("timestamp").as("ts"),
        col(tieCol).cast("long").as("tie"),
        col(priceCol).cast("double").as("price"))
      .as[Trade]
  }

  /** Batch execution: hash-exchange on symbol, per-partition sort on
    * (symbol, ts, tie), one sequential scan per partition with the
    * reference reset at every symbol boundary. The scan is lazy over
    * the sorted iterator — nothing is materialized per group.
    */
  def thresholdAlerts(df: DataFrame, keyCol: String, tsCol: String,
                      tieCol: String, priceCol: String,
                      minMove: Double): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    trades(df, keyCol, tsCol, tieCol, priceCol)
      .repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("ts"), col("tie"))
      .mapPartitions { it =>
        var cur: String = null
        var ref = 0.0
        it.flatMap { t =>
          if (t.symbol != cur) { cur = t.symbol; ref = t.price; Iterator.empty }
          else {
            val out = alertsFor(t, ref, minMove)
            out.foreach(a => ref = a.price)
            out.iterator
          }
        }
      }
      .toDF()
  }

  // ── hot-key time slicing ──────────────────────────────────────────
  //
  // The batch shape's unit of parallelism is the key, so one
  // pathologically hot key (a symbol owning a whole table) serializes
  // its sort AND its scan in a single task. [[thresholdAlertsSliced]]
  // executes the identical recurrence with the slice-and-stitch plan
  // this file's scaladoc has prescribed since r12:
  //
  //  1. each key's rows cut into `slices` CONTIGUOUS time ranges
  //     (per-key ts quantiles — an agg, never a window sort);
  //  2. ONE fully parallel job sorts every (key, slice) group and runs
  //     the recurrence FRESH-SEEDED per slice (seed = the slice's own
  //     first row), emitting the slice's fresh alerts plus an O(1)
  //     summary: first price, fresh ref-out, slice max/min, the prefix
  //     max/min strictly before the first fresh alert, and that
  //     alert's price;
  //  3. a driver stitch walks slices in order carrying each key's true
  //     incoming reference r and classifies every (key, slice) from
  //     the summary scalars alone:
  //       PASS  — no row can alert vs r (sliceMax < r+m ∧ sliceMin >
  //               r−m): alerts ∅, ref passes through; the slice's rows
  //               are never touched again;
  //       ADOPT — the first passage vs r lands exactly on the fresh
  //               chain's first alert row (prefixMax/Min before it
  //               stay inside (r−m, r+m) and |p_jF − r| ≥ m): by
  //               COALESCENCE the two chains are identical from that
  //               row on (both reset ref to p_jF), so the fresh alerts
  //               are the true alerts verbatim except the first one's
  //               (ref_price, move), patched to (r, p_jF − r);
  //       RESCAN — the chains genuinely diverge: re-run the seeded
  //               scan over just that slice's rows (one small batched
  //               job per slice index that has any divergence).
  //
  // Exactness: PASS and ADOPT are theorems of the recurrence (the
  // reference changes only on an alert, and after a shared alert row
  // the state is the row's own price); RESCAN is the recurrence
  // itself. The spec pins sliced == unsliced on fixtures engineered to
  // exercise all three classes. Scale: the heavy work (shuffle, sort,
  // scan, alert emission) happens once in step 2 at `slices`-way
  // parallelism per key; the stitch reads keys × slices SCALARS
  // (guarded by `maxStitchRows` — the bounded-driver convention), and
  // divergence is rare on real data because most slices either can't
  // alert against any nearby reference or alert first at the same row.

  // Both row classes are public: declared `private`, the generated Java
  // of their encoders fails to compile ("No applicable constructor/
  // method found for zero actual parameters; candidates are: public int
  // graft.operators.Alerts$P1.kind()") and those stages run interpreted.
  case class SliceSummary(symbol: String, slice: Int,
                          firstPrice: Double, refOut: Double,
                          sMax: Double, sMin: Double,
                          preMax: Double, preMin: Double,
                          pJf: Double, hasFresh: Boolean)

  /** Phase-1 row: kind 0 = fresh alert, kind 1 = group summary. */
  case class P1(kind: Int, symbol: String, slice: Int,
                ts: Timestamp, tie: Long, price: Double,
                ref_price: Double, move: Double, alert_idx: Long,
                first_price: Double, ref_out: Double,
                s_max: Double, s_min: Double,
                pre_max: Double, pre_min: Double,
                p_jf: Double, has_fresh: Boolean)

  /** Scan one (symbol, slice) group. `refIn` = None → fresh semantics
    * (first row seeds, emits nothing); Some(r) → the row stream is a
    * continuation (row 1 may itself alert vs r).
    */
  private def scanGroup(symbol: String, slice: Int,
                        rows: Iterator[(Timestamp, Long, Double)],
                        refIn: Option[Double], minMove: Double): Iterator[P1] = {
    var ref = 0.0
    var seeded = false
    var firstPrice = 0.0
    var sMax = Double.NegativeInfinity
    var sMin = Double.PositiveInfinity
    var preMax = Double.NegativeInfinity
    var preMin = Double.PositiveInfinity
    var pJf = 0.0
    var hasFresh = false
    var alertIdx = 0L
    val out = Seq.newBuilder[P1]
    var first = true
    rows.foreach { case (ts, tie, p) =>
      sMax = math.max(sMax, p); sMin = math.min(sMin, p)
      if (first) {
        first = false
        firstPrice = p
        refIn match {
          case Some(r) => ref = r; seeded = true
          case None    => ref = p; seeded = true
        }
        if (refIn.isEmpty) {
          // fresh seed row: contributes to the pre-alert prefix, no alert
          preMax = math.max(preMax, p); preMin = math.min(preMin, p)
        } else if (math.abs(p - ref) >= minMove) {
          alertIdx += 1; hasFresh = true; pJf = p
          out += P1(0, symbol, slice, ts, tie, p, ref, p - ref, alertIdx,
            0, 0, 0, 0, 0, 0, 0, has_fresh = false)
          ref = p
        } else { preMax = math.max(preMax, p); preMin = math.min(preMin, p) }
      } else {
        if (math.abs(p - ref) >= minMove) {
          if (!hasFresh) { hasFresh = true; pJf = p }
          alertIdx += 1
          out += P1(0, symbol, slice, ts, tie, p, ref, p - ref, alertIdx,
            0, 0, 0, 0, 0, 0, 0, has_fresh = false)
          ref = p
        } else if (!hasFresh) {
          preMax = math.max(preMax, p); preMin = math.min(preMin, p)
        }
      }
    }
    out += P1(1, symbol, slice, new Timestamp(0), 0L, 0.0, 0.0, 0.0, 0L,
      firstPrice, ref, sMax, sMin, preMax, preMin, pJf, hasFresh)
    out.result().iterator
  }

  /** Group a sorted (symbol, slice, ts, tie, price) iterator and scan
    * each group — the shared mapPartitions kernel of phase 1 (fresh)
    * and the rescan jobs (seeded via `refs`).
    */
  private def scanPartition(it: Iterator[(String, Int, Timestamp, Long, Double)],
                            refs: Map[(String, Int), Double],
                            fresh: Boolean, minMove: Double): Iterator[P1] = {
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Timestamp, Long, Double)]
    var curKey: (String, Int) = null
    val out = scala.collection.mutable.ArrayBuffer.empty[P1]
    def flush(): Unit = if (curKey != null && buf.nonEmpty) {
      val refIn = if (fresh) None else refs.get(curKey)
      out ++= scanGroup(curKey._1, curKey._2, buf.iterator, refIn, minMove)
      buf.clear()
    }
    it.foreach { case (sym, sl, ts, tie, p) =>
      val k = (sym, sl)
      if (k != curKey) { flush(); curKey = k }
      buf += ((ts, tie, p))
    }
    flush()
    out.iterator
  }

  /** [[thresholdAlerts]] semantics, executed with the hot-key
    * slice-and-stitch plan documented above. Output equals
    * [[thresholdAlerts]] row-for-row (spec-pinned); the win is that
    * the per-key sort/scan — a single task in the batch shape —
    * parallelizes `slices`-way in one job, with the sequential stitch
    * reduced to per-slice scalars plus rare divergence rescans.
    */
  def thresholdAlertsSliced(df: DataFrame, keyCol: String, tsCol: String,
                            tieCol: String, priceCol: String,
                            minMove: Double, slices: Int = 16,
                            maxStitchRows: Long = 1000000L): DataFrame = {
    require(slices >= 1, s"slices must be >= 1, got $slices")
    if (slices == 1)
      return thresholdAlerts(df, keyCol, tsCol, tieCol, priceCol, minMove)
    val spark = df.sparkSession
    import spark.implicits._
    val t = trades(df, keyCol, tsCol, tieCol, priceCol)
    // per-key contiguous time ranges from ts quantiles: an aggregation
    // (map-side combined sketch), never a per-key window sort. Rows
    // with equal ts always share a slice (boundary test is strict-<),
    // so slice boundaries respect the (ts, tie) scan order.
    val probs = (1 until slices).map(_.toDouble / slices)
    val bounds = t.groupBy(col("symbol"))
      .agg(percentile_approx(col("ts").cast("double"),
        typedLit(probs), lit(10000)).as("bnds"))
    val sliced = t.toDF()
      .join(broadcast(bounds), "symbol")
      .withColumn("slice",
        size(filter(col("bnds"), b => b < col("ts").cast("double"))))
      .drop("bnds")
      .select(col("symbol"), col("slice").cast("int").as("slice"),
        col("ts"), col("tie"), col("price"))
    val slicedDs = sliced.as[(String, Int, Timestamp, Long, Double)]
    // phase 1: every (key, slice) group sorted + fresh-scanned in ONE
    // parallel job, materialized once (alerts and summaries both read it)
    val p1 = graft.operators.Dedup.materialize(
      slicedDs.repartition(col("symbol"), col("slice"))
        .sortWithinPartitions(col("symbol"), col("slice"), col("ts"), col("tie"))
        .mapPartitions(it => scanPartition(it, Map.empty, fresh = true, minMove))
        .toDF())
    val nSumm = p1.filter(col("kind") === 1).count()
    require(nSumm <= maxStitchRows, s"thresholdAlertsSliced: $nSumm " +
      s"(key, slice) summaries exceed the driver-stitch bound " +
      s"$maxStitchRows — raise the bound, reduce `slices`, or slice " +
      "only the hot keys and run thresholdAlerts for the rest")
    val summaries = p1.filter(col("kind") === 1)
      .select("symbol", "slice", "first_price", "ref_out", "s_max",
        "s_min", "pre_max", "pre_min", "p_jf", "has_fresh")
      .as[(String, Int, Double, Double, Double, Double, Double, Double, Double, Boolean)]
      .collect()
      .map(r => SliceSummary(r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10))
    // driver stitch: walk slices in order carrying each key's true ref
    val byKey = summaries.groupBy(_.symbol)
      .map { case (k, v) => k -> v.sortBy(_.slice) }
    val refs = scala.collection.mutable.Map.empty[String, Double]
    val keep = Seq.newBuilder[(String, Int)]                 // FRESH verbatim
    val adopt = Seq.newBuilder[(String, Int, Double)]        // ADOPT + r_in
    val maxSlice = if (summaries.isEmpty) -1 else summaries.map(_.slice).max
    var alertFrames = List.empty[DataFrame]
    var nRescan = 0
    for (s <- 0 to maxSlice) {
      val rescan = Seq.newBuilder[(String, Int, Double)]
      byKey.foreach { case (key, ss) =>
        ss.find(_.slice == s).foreach { g =>
          refs.get(key) match {
            case None =>
              // the key's first populated slice: fresh semantics IS
              // the true recurrence
              keep += ((key, s)); refs(key) = g.refOut
            case Some(r) =>
              // exactness: the guards evaluate abs(p − r) with the
              // recurrence's own IEEE ops at the slice extremes —
              // fl(p − r) is monotone in p, so the extreme rows bound
              // every row's test exactly (comparing p against r ± m
              // instead could disagree with the engine by one ulp)
              def passes(p: Double) = math.abs(p - r) >= minMove
              if (!passes(g.sMax) && !passes(g.sMin)) {
                // PASS: nothing can alert vs r; ref unchanged
              } else if (g.hasFresh && passes(g.pJf) &&
                  !passes(g.preMax) && !passes(g.preMin)) {
                adopt += ((key, s, r)); refs(key) = g.refOut
              } else {
                rescan += ((key, s, r))
              }
          }
        }
      }
      val todo = rescan.result()
      nRescan += todo.size
      if (todo.nonEmpty) {
        // batched divergence rescan for slice index s: the seeded scan
        // over just those groups' rows (exact recurrence, tiny input)
        val refMap = todo.map { case (k, sl, r) => (k, sl) -> r }.toMap
        val keysDf = todo.map { case (k, sl, _) => (k, sl) }.toDF("symbol", "slice")
        // persist, not snap: the rescan part is tiny (diverged groups
        // only) and is read exactly twice in quick succession (ref-out
        // collect + alert union) — a disk write-through would double
        // the per-batch job latency the stitch loop pays S times
        val part = slicedDs.toDF().join(broadcast(keysDf), Seq("symbol", "slice"))
          .as[(String, Int, Timestamp, Long, Double)]
          .repartition(col("symbol"), col("slice"))
          .sortWithinPartitions(col("symbol"), col("slice"), col("ts"), col("tie"))
          .mapPartitions(it => scanPartition(it, refMap, fresh = false, minMove))
          .toDF()
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        part.filter(col("kind") === 1).select("symbol", "ref_out")
          .as[(String, Double)].collect()
          .foreach { case (k, r) => refs(k) = r }
        alertFrames ::= part.filter(col("kind") === 0)
          .select(col("symbol"), col("ts").as("trade_timestamp"),
            col("tie").as("trade_id"), col("price"), col("ref_price"),
            col("move"))
      }
    }
    if (sys.env.contains("GRAFT_PROBE")) {
      val nKeep = keep.result().size
      val nAdopt = adopt.result().size
      println(s"[probe]   thresholdAlertsSliced: groups=$nSumm " +
        s"fresh=$nKeep adopt=$nAdopt rescan=$nRescan " +
        s"rescanJobs=${alertFrames.size} " +
        s"pass=${nSumm - nKeep - nAdopt - nRescan}")
    }
    val keepDf = keep.result().toDF("symbol", "slice")
      .withColumn("act", lit(0)).withColumn("r_in", lit(0.0))
    val adoptDf = adopt.result().toDF("symbol", "slice", "r_in")
      .withColumn("act", lit(1))
    val actions = keepDf.select("symbol", "slice", "act", "r_in")
      .unionByName(adoptDf.select("symbol", "slice", "act", "r_in"))
    val freshKept = p1.filter(col("kind") === 0)
      .join(broadcast(actions), Seq("symbol", "slice"))
      .select(col("symbol"), col("ts").as("trade_timestamp"),
        col("tie").as("trade_id"), col("price"),
        when(col("act") === 1 && col("alert_idx") === 1, col("r_in"))
          .otherwise(col("ref_price")).as("ref_price"),
        when(col("act") === 1 && col("alert_idx") === 1,
          col("price") - col("r_in"))
          .otherwise(col("move")).as("move"))
    alertFrames.foldLeft(freshKept)(_ unionByName _)
  }

  /** One EWMA output row per input trade. */
  case class EwmaRow(symbol: String, ts: Timestamp, tie: Long,
                     price: Double, ewma: Double)

  /** Exponentially weighted moving average per key — the standard
    * live-dashboard smoothing indicator (the EMA under MACD/signal
    * lines) the reference's plotly panel would compute client-side,
    * here as an engine operator over the full history.
    *
    * Per key in (ts, tie) order: `e_1 = p_1`;
    * `e_i = p_i * alpha + e_{i-1} * (1 - alpha)`. Like the alert
    * process this is a sequential recurrence (every row depends on the
    * whole prefix), NOT a window aggregate — an exponential window
    * frame does not exist in SQL engines — so it runs on the same
    * secondary-sort skeleton as [[thresholdAlerts]]: one hash exchange
    * on the key, spillable per-partition sort, lazy scan carrying one
    * double per key. The raw IEEE recurrence is emitted (rounding
    * inside the recurrence would compound); `1 - alpha` is computed,
    * not a literal, so an oracle writing `(1 - a)` reproduces the
    * bits. Resumable from `(ewma)` alone — the hot-key time-slice
    * stitch described above applies unchanged.
    */
  def ewma(df: DataFrame, keyCol: String, tsCol: String, tieCol: String,
           priceCol: String, alpha: Double): DataFrame = {
    require(alpha > 0 && alpha <= 1, s"ewma: alpha out of (0,1]: $alpha")
    val spark = df.sparkSession
    import spark.implicits._
    trades(df, keyCol, tsCol, tieCol, priceCol)
      .repartition(col("symbol"))
      .sortWithinPartitions(col("symbol"), col("ts"), col("tie"))
      .mapPartitions { it =>
        var cur: String = null
        var e = 0.0
        it.map { t =>
          e = if (t.symbol != cur) { cur = t.symbol; t.price }
              else t.price * alpha + e * (1 - alpha)
          EwmaRow(t.symbol, t.ts, t.tie, t.price, e)
        }
      }
      .toDF()
  }

  /** Streaming execution of the same recurrence via
    * `flatMapGroupsWithState` (SURVEY §2.8's custom-state tool): the
    * reference price lives in `GroupState[RefState]` and survives
    * micro-batch boundaries; each batch's rows for a key are sorted
    * (ts, tie) before the scan, so the output is batch-identical
    * whenever the source preserves per-key chronological order across
    * batches. Append output mode: alerts are immutable facts, emitted
    * in the micro-batch that observes them. The per-(key, batch) sort
    * buffers one key's micro-batch slice — bounded by the trigger, not
    * by history.
    */
  def thresholdAlertsStream(input: Dataset[Trade],
                            minMove: Double): Dataset[Alert] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.groupByKey(_.symbol)
      .flatMapGroupsWithState[RefState, Alert](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rows: Iterator[Trade], state: GroupState[RefState]) =>
          val sorted = rows.toIndexedSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            if (c != 0) c < 0 else a.tie < b.tie
          }
          val out = Seq.newBuilder[Alert]
          var ref = state.getOption.map(_.ref)
          sorted.foreach { t =>
            ref match {
              case None => ref = Some(t.price)
              case Some(r) =>
                val a = alertsFor(t, r, minMove)
                a.foreach(out += _)
                a.foreach(x => ref = Some(x.price))
            }
          }
          ref.foreach(r => state.update(RefState(r)))
          out.result().iterator
      }
  }

  /** Streaming twin of [[ewma]]: the smoothed value lives in
    * `GroupState` (one double per key) and the recurrence resumes
    * across micro-batches — `e` after a batch is all the state the
    * process needs (same resumability that powers the hot-key stitch).
    * Emits one row per input trade in the observing batch (append
    * mode; EWMA rows are immutable facts). Same cross-batch per-key
    * ordering contract as [[thresholdAlertsStream]].
    */
  def ewmaStream(input: Dataset[Trade], alpha: Double): Dataset[EwmaRow] = {
    val spark = input.sparkSession
    import spark.implicits._
    input.groupByKey(_.symbol)
      .flatMapGroupsWithState[RefState, EwmaRow](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (sym: String, rows: Iterator[Trade], state: GroupState[RefState]) =>
          val sorted = rows.toIndexedSeq.sortWith { (a, b) =>
            val c = a.ts.compareTo(b.ts)
            if (c != 0) c < 0 else a.tie < b.tie
          }
          val out = Seq.newBuilder[EwmaRow]
          var e = state.getOption.map(_.ref)
          sorted.foreach { t =>
            val next = e match {
              case None    => t.price
              case Some(p) => t.price * alpha + p * (1 - alpha)
            }
            e = Some(next)
            out += EwmaRow(sym, t.ts, t.tie, t.price, next)
          }
          e.foreach(v => state.update(RefState(v)))
          out.result().iterator
      }
  }
}
