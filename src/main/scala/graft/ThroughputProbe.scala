package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming THROUGHPUT-ceiling probe (r15 VERDICT task 6): the
  * LatencyProbe showed rate-invariant latencies up to 2000 ev/s —
  * i.e. the ceiling was never reached. This probe RAMPS the live input
  * rate until micro-batch duration exceeds the trigger interval (the
  * saturation knee: past it, batches queue behind the trigger and
  * visible latency grows without bound) and reports, per rate and
  * query, the measured batch-duration percentiles and the processed
  * rows/s — the engine-side capacity number that replaces the
  * reference's ~7.2 rows/s live evidence as a throughput claim.
  *
  * Sections:
  *  - `medallion`: the 3-query bronze→silver→gold chain (the gate
  *    wiring) on ProcessingTime(1s), 5 s candles / 2 s watermark /
  *    10 s dedup — the LatencyProbe geometry, so knee rows/s and
  *    latency numbers share one configuration;
  *  - `spread`: the state-heavy stream-stream band join
  *    ([[graft.streaming.Medallion.streamSpreadBucketed]]) over two
  *    live feeds sharing base assets;
  *  - `sessions`: the state-MERGING session aggregation
  *    ([[graft.operators.Candles.sessions]]) over the live feed;
  *  - `rocksdb`: re-runs the chosen section's topology with the
  *    RocksDB state-store provider at the same rates, so the
  *    HDFS-vs-RocksDB comparison lands at the knee, not a toy rate.
  *
  * The appender is measured, not assumed: each line reports
  * `appended_rows_per_sec` (what the generator actually landed) next
  * to `rows_per_sec` (what the query processed); saturation is
  * `p50 batch > trigger` — the queueing criterion, independent of
  * generator shortfall. Not part of the gate surface — a measurement
  * tool like Bench/ScaleProbe; results land in BENCH_NOTES.
  */
object ThroughputProbe {
  def main(args: Array[String]): Unit = {
    val rates = args.headOption.filter(_.nonEmpty)
      .map(_.split(",").map(_.toInt).toSeq)
      .getOrElse(Seq(2000, 10000, 50000, 100000, 200000))
    val runSecs = args.lift(1).map(_.toInt).getOrElse(30)
    val sections = args.lift(2).map(_.split(",").toSet)
      .getOrElse(Set("medallion"))
    val spark = SparkEntry.session()

    // per-run micro-batch durations and input-row counts
    case class Prog(durMs: Long, rows: Long)
    val progress = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, scala.collection.mutable.ArrayBuffer[Prog]]()
    spark.streams.addListener(
      new org.apache.spark.sql.streaming.StreamingQueryListener {
        import org.apache.spark.sql.streaming.StreamingQueryListener._
        override def onQueryStarted(e: QueryStartedEvent): Unit = ()
        override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
        override def onQueryProgress(e: QueryProgressEvent): Unit = {
          val d = e.progress.durationMs.getOrDefault("triggerExecution", -1L)
          if (d >= 0)
            progress.computeIfAbsent(e.progress.runId,
              _ => scala.collection.mutable.ArrayBuffer.empty[Prog]) +=
              Prog(d, e.progress.numInputRows)
        }
      })
    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) Double.NaN
      else xs.sorted.apply(math.min(xs.size - 1,
        math.max(0, math.ceil(p * xs.size).toInt - 1)))

    /** Live JSON-lines appender at a nominal rate: one file per 500 ms
      * (write-then-rename so the file source never reads a torn file).
      * Returns (thread, stop flag, appended-count getter).
      */
    def appender(rawDir: String, rate: Int, symbols: Array[String]):
        (Thread, java.util.concurrent.atomic.AtomicBoolean, () => Long) = {
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      val count = new java.util.concurrent.atomic.AtomicLong(0L)
      val t = new Thread(() => {
        val perFile = math.max(1, rate / 2)
        var fileNo = 0
        var tradeId = 0L
        while (!stop.get()) {
          val target = System.nanoTime() + 500L * 1000 * 1000
          val nowIso = java.time.Instant.now().toString
          val sb = new StringBuilder(perFile * 220)
          var i = 0
          while (i < perFile) {
            val sym = symbols((tradeId % symbols.length).toInt)
            val px = 100.0 + (tradeId % 977) * 0.01
            sb.append(s"""{"key":"$sym","value":"{\\"type\\":\\"ticker\\",""" +
              s"""\\"product_id\\":\\"$sym\\",\\"price\\":\\"$px\\",""" +
              s"""\\"time\\":\\"$nowIso\\",\\"trade_id\\":$tradeId,""" +
              s"""\\"side\\":\\"buy\\",\\"last_size\\":\\"0.01\\"}",""" +
              s""""timestamp":"$nowIso"}\n""")
            tradeId += 1
            i += 1
          }
          val tmp = java.nio.file.Paths.get(s"$rawDir/.f$fileNo.tmp")
          java.nio.file.Files.writeString(tmp, sb.toString)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(s"$rawDir/f$fileNo.json"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          count.addAndGet(perFile)
          fileNo += 1
          val sleepMs = (target - System.nanoTime()) / 1000000L
          if (sleepMs > 0) Thread.sleep(sleepMs)
        }
      })
      (t, stop, () => count.get())
    }

    def report(section: String, rate: Int, appended: Long, wall: Double,
               queries: Seq[(String, org.apache.spark.sql.streaming.StreamingQuery)]): Unit =
      for ((name, q) <- queries) {
        val ps = Option(progress.get(q.runId)).map(_.toSeq).getOrElse(Seq.empty)
        val ds = ps.map(_.durMs.toDouble)
        val rows = ps.map(_.rows).sum
        val p50 = pct(ds, 0.50); val p95 = pct(ds, 0.95)
        println(f"""{"probe":"throughput","section":"$section","rate":$rate,"query":"$name","batches":${ds.size},"p50_ms":$p50%.0f,"p95_ms":$p95%.0f,"rows_per_sec":${rows / wall}%.0f,"appended_rows_per_sec":${appended / wall}%.0f,"saturated":${p50 > 1000}}""")
      }

    val symbols = Array("BTC-USD", "ETH-USD", "SOL-USD", "ADA-USD")
    // the band join's OUTPUT is rate²-shaped at a fixed symbol
    // universe (every A row matches all same-base B rows within the
    // band: at 5000 ev/s over 4 symbols that is ~12k partners per
    // row — the first probe run produced no completed batch at any
    // rate ≥ 50k because the join was output-bound, not state-bound).
    // A real feed grows by adding SYMBOLS, not by ticking one symbol
    // 25,000×/s (the reference's live feed ran ~7 rows/s TOTAL — i.e.
    // ~2 ev/s per symbol, the default here), so the spread section
    // scales the universe to a constant per-symbol rate: band
    // occupancy — and the ~10-partner per-row output — stays fixed
    // while the rate, and the join/state machinery under test, scales.
    def symbolsFor(rate: Int, perSymbolRate: Int = 2): Array[String] =
      (0 until math.max(4, rate / perSymbolRate))
        .map(i => f"S$i%05d-USD").toArray

    def runRate(section: String, rate: Int,
                syms: Array[String] = symbols)(
        start: String => Seq[(String, org.apache.spark.sql.streaming.StreamingQuery)]): Unit = {
      val root = graft.util.Scratch.dir(s"tput-$section-$rate-").toString
      val rawDir = s"$root/raw"
      new java.io.File(rawDir).mkdirs()
      val queries = start(root)
      val (t, stop, appended) = appender(rawDir, rate, syms)
      val t0 = System.currentTimeMillis()
      t.start()
      Thread.sleep(runSecs * 1000L)
      stop.set(true)
      t.join()
      // short drain only: the knee criterion is batch duration vs
      // trigger while input flows, not tail finalization
      Thread.sleep(3000L)
      val wall = (System.currentTimeMillis() - t0) / 1000.0
      queries.foreach(_._2.stop())
      report(section, rate, appended(), wall, queries)
    }

    if (sections("medallion")) rates.foreach { rate =>
      runRate("medallion", rate) { root =>
        val paths = graft.streaming.StreamJobs.MedallionPaths(root)
        val (bq, sq, gq) = graft.streaming.StreamJobs.runMedallion(
          spark, s"$root/raw", paths, graft.streaming.Schemas.kafkaShaped,
          dedupDelay = Some("10 seconds"), watermarkDelay = "2 seconds",
          windowDur = "5 seconds",
          trigger = Trigger.ProcessingTime("1 second"))
        Seq("bronze" -> bq, "silver" -> sq, "gold" -> gq)
      }
    }

    // the state-heavy stream-stream band join: feed A is the live raw
    // dir, feed B the same symbols re-keyed to a second quote currency
    // (same base asset — every A row finds band partners)
    def silverOf(root: String, sub: String = "raw"): DataFrame =
      graft.streaming.Medallion.silverTrades(
        graft.streaming.Medallion.bronzeEnvelope(
          graft.streaming.StreamJobs.jsonLinesStream(spark, s"$root/$sub",
            graft.streaming.Schemas.kafkaShaped)),
        dedupDelay = None)

    if (sections("spread")) rates.foreach { rate =>
      runRate("spread", rate, symbolsFor(rate)) { root =>
        val a = silverOf(root)
        val b = silverOf(root).withColumn("symbol",
          concat(substring_index(col("symbol"), "-", 1), lit("-EUR")))
        val q = graft.streaming.StreamJobs.parquetAppend(
          graft.streaming.Medallion.streamSpreadBucketed(a, b,
            watermarkDelay = "2 seconds", bandSeconds = 5),
          s"$root/out", s"$root/ckpt", Trigger.ProcessingTime("1 second"))
        Seq("spread" -> q)
      }
    }

    if (sections("sessions")) rates.foreach { rate =>
      runRate("sessions", rate) { root =>
        val q = graft.streaming.StreamJobs.parquetAppend(
          graft.operators.Candles.sessions(
            silverOf(root).withWatermark("trade_timestamp", "2 seconds"),
            "5 seconds", tsCol = "trade_timestamp", keyCol = "symbol",
            valueCol = "price"),
          s"$root/out", s"$root/ckpt", Trigger.ProcessingTime("1 second"))
        Seq("sessions" -> q)
      }
    }

    // same medallion topology on the RocksDB provider (set before query
    // start — the provider is a query-start config), so the state-store
    // comparison is measured at the knee rates, not a toy rate
    if (sections("rocksdb")) {
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      rates.foreach { rate =>
        runRate("medallion_rocksdb", rate) { root =>
          val paths = graft.streaming.StreamJobs.MedallionPaths(root)
          val (bq, sq, gq) = graft.streaming.StreamJobs.runMedallion(
            spark, s"$root/raw", paths, graft.streaming.Schemas.kafkaShaped,
            dedupDelay = Some("10 seconds"), watermarkDelay = "2 seconds",
            windowDur = "5 seconds",
            trigger = Trigger.ProcessingTime("1 second"))
          Seq("bronze" -> bq, "silver" -> sq, "gold" -> gq)
        }
      }
    }
    spark.stop()
  }
}
