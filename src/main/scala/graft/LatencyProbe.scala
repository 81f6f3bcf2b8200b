package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** End-to-end streaming LATENCY probe (r14 VERDICT task 6): every
  * streaming gate runs the replay harness (`Trigger.AvailableNow` over
  * a staged corpus), which verifies semantics but never measures the
  * reference's one real runtime characteristic — its ~2.1-2.3 s/batch
  * live cadence (BASELINE.md). This probe drives the REAL three-query
  * medallion ([[graft.streaming.StreamJobs.runMedallion]] — the same
  * wiring the gates pin) on `ProcessingTime` triggers with a LIVE
  * appender thread, at two input rates, and reports:
  *
  *  - silver record latency percentiles: per output row, parquet
  *    part-file mtime (the instant the row became readable to a
  *    consumer) minus the row's event timestamp (wall-stamped by the
  *    appender immediately before the raw file lands) — the
  *    ingest → silver-visible path through two chained queries
  *    (raw → bronze → silver), each paying file-source discovery +
  *    trigger + commit;
  *  - gold candle latency percentiles: part-file mtime minus
  *    `window_end` for each FINALIZED candle — what a consumer of the
  *    append-mode gold table actually waits, including the structural
  *    watermark delay (a candle cannot finalize before event time
  *    passes `window_end + watermark`, so the floor is
  *    watermark + trigger + 2-hop processing, NOT zero — reported
  *    as-is, because that floor IS the serving characteristic);
  *  - per-query micro-batch duration percentiles (triggerExecution),
  *    the engine-side cadence comparable to the reference's
  *    seconds-per-batch.
  *
  * Geometry: 5-second candles with a 2-second watermark and 1-second
  * triggers, so finalization happens within the probe window (the
  * production 1-minute/10-minute geometry has a 10-minute structural
  * floor by design — scaling the geometry down measures the ENGINE's
  * contribution, which is what can regress). Rates default to 200 and
  * 2000 events/s for ~40 s each. Not part of the gate surface — a
  * measurement tool, like Bench/ScaleProbe; results land in
  * BENCH_NOTES.
  */
object LatencyProbe {
  def main(args: Array[String]): Unit = {
    val rates = if (args.nonEmpty) args(0).split(",").map(_.toInt).toSeq
                else Seq(200, 2000)
    val runSecs = args.lift(1).map(_.toInt).getOrElse(40)
    val spark = SparkEntry.session()

    // per-query micro-batch durations, keyed by runId (set at start)
    val durations = new java.util.concurrent.ConcurrentHashMap[
      java.util.UUID, scala.collection.mutable.ArrayBuffer[Long]]()
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      import org.apache.spark.sql.streaming.StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = {
        val d = e.progress.durationMs.getOrDefault("triggerExecution", -1L)
        if (d >= 0)
          durations.computeIfAbsent(e.progress.runId,
            _ => scala.collection.mutable.ArrayBuffer.empty[Long]) += d
      }
    }
    spark.streams.addListener(listener)

    def pct(xs: Seq[Double], p: Double): Double =
      if (xs.isEmpty) Double.NaN
      else xs.sorted.apply(math.min(xs.size - 1,
        math.max(0, math.ceil(p * xs.size).toInt - 1)))
    def pctJson(xs: Seq[Double]): String =
      f""""n":${xs.size},"p50":${pct(xs, 0.50)}%.2f,"p95":${pct(xs, 0.95)}%.2f,"p99":${pct(xs, 0.99)}%.2f"""

    for (rate <- rates) {
      val root = graft.util.Scratch.dir(s"latency-$rate-").toString
      val rawDir = s"$root/raw"
      new java.io.File(rawDir).mkdirs()
      val paths = graft.streaming.StreamJobs.MedallionPaths(root)
      val (bq, sq, gq) = graft.streaming.StreamJobs.runMedallion(
        spark, rawDir, paths, graft.streaming.Schemas.kafkaShaped,
        dedupDelay = Some("10 seconds"), watermarkDelay = "2 seconds",
        windowDur = "5 seconds",
        trigger = Trigger.ProcessingTime("1 second"))

      // live appender: every 200 ms one JSON-lines file of rate/5
      // events, `time` wall-stamped at write — 4 symbols so the gold
      // aggregation state is keyed realistically
      val symbols = Array("BTC-USD", "ETH-USD", "SOL-USD", "ADA-USD")
      val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
      var tradeId = 0L
      val appender = new Thread(() => {
        val perFile = math.max(1, rate / 5)
        var fileNo = 0
        while (!stop.get()) {
          val nowIso = java.time.Instant.now().toString
          val sb = new StringBuilder
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
          // write-then-rename so the file source never reads a torn file
          val tmp = java.nio.file.Paths.get(s"$rawDir/.f$fileNo.tmp")
          java.nio.file.Files.writeString(tmp, sb.toString)
          java.nio.file.Files.move(tmp,
            java.nio.file.Paths.get(s"$rawDir/f$fileNo.json"),
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          fileNo += 1
          Thread.sleep(200)
        }
      })
      val t0 = System.currentTimeMillis()
      appender.start()
      Thread.sleep(runSecs * 1000L)
      stop.set(true)
      appender.join()
      // drain: let the chain finalize the tail (watermark needs newer
      // events to advance, so the last window legitimately never
      // finalizes — excluded below by the measurement itself)
      Thread.sleep(15000L)
      Seq(bq, sq, gq).foreach(_.stop())

      // post-hoc per-row latency from part-file mtimes (the commit
      // instant a consumer can read the row) — no polling on the timed
      // path, so measurement never perturbs the pipeline
      def partFiles(dir: String): Seq[java.io.File] =
        Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).toSeq
      val silverLat = partFiles(paths.silver).flatMap { f =>
        val mtime = f.lastModified()
        spark.read.schema(graft.streaming.Schemas.silver)
          .parquet(f.getPath)
          .select(col("trade_timestamp").cast("double")).collect()
          .map(r => mtime / 1000.0 - r.getDouble(0))
      }
      val goldLat = partFiles(paths.gold).flatMap { f =>
        val mtime = f.lastModified()
        spark.read.schema(graft.streaming.Schemas.gold)
          .parquet(f.getPath)
          .select(col("window_end").cast("double")).collect()
          .map(r => mtime / 1000.0 - r.getDouble(0))
      }
      val wall = (System.currentTimeMillis() - t0) / 1000.0
      println(s"""{"probe":"latency_silver","rate":$rate,"run_sec":$wall,${pctJson(silverLat)}}""")
      println(s"""{"probe":"latency_gold_finalized","rate":$rate,${pctJson(goldLat)}}""")
      for ((q, name) <- Seq((bq, "bronze"), (sq, "silver"), (gq, "gold"))) {
        val ds = Option(durations.get(q.runId)).map(_.toSeq.map(_.toDouble))
          .getOrElse(Seq.empty)
        println(s"""{"probe":"latency_batches","rate":$rate,"query":"$name",${pctJson(ds)},"unit":"ms"}""")
      }
    }
    spark.stop()
  }
}
