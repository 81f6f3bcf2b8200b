package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end scale probe (r12 VERDICT task 7): the COMPOSED
  * bronze→silver→gold medallion flow plus the `cur_pipeline7` curation
  * chain, run at a 10× corpus (`target/sf1` by default) in ONE
  * checkpointed session — ScaleProbe measures families in isolation;
  * this measures the flow a deployment actually runs, and hash-checks
  * the gold outputs against their independent batch recomputation
  * (the medallion equivalence the sf0.01 driver gate pins, re-proven
  * at 10×):
  *
  *  1. silver: typed/filtered projection of the raw events;
  *  2. gold (streamed, append): the watermark-finalized candle stream
  *     replayed chronologically — checked row-for-row against the
  *     batch OHLCV restricted to finalized windows
  *     (`window_end ≤ max(ts) − watermark`, the driver oracle's rule);
  *  3. gold (streamed store): incremental candle-store maintenance —
  *     checked against the UNFILTERED batch OHLCV (update semantics);
  *  4. serving: latest-per-symbol over the store's candles;
  *  5. curation: the `cur_pipeline7` chain verbatim (bloom decon →
  *     keep-best canonical → per-source cap → epoch allocation), with
  *     its budget/coverage invariants asserted in-engine.
  *
  * Prints one JSON line per stage. Not part of the gate surface — a
  * measurement tool, like Bench/ScaleProbe.
  */
object E2eProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/repo/target/sf1")
    val spark = SparkEntry.session()
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def timed[A](what: String)(body: => A): A = {
      val c0 = osBean.getProcessCpuTime; val t0 = System.nanoTime()
      val out = body
      println(f"""{"probe":"$what","wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f,"cpu_sec":${(osBean.getProcessCpuTime - c0) / 1e9}%.2f}""")
      out
    }
    def eq(what: String, got: DataFrame, want: DataFrame): Unit = {
      val (g, w) = (got.count(), want.count())
      val extra = got.exceptAll(want).count()
      val missing = want.exceptAll(got).count()
      val ok = extra == 0 && missing == 0 && g == w
      println(s"""{"probe":"$what","rows":$g,"oracle_rows":$w,"extra":$extra,"missing":$missing,"match":$ok}""")
      require(ok, s"$what: streamed output diverges from batch oracle")
    }
    import graft.operators.{Candles, Curation, Dedup}
    import graft.util.Tables

    val events = Tables.events(spark, dir)

    // 1. silver (map-only typed projection, the medallion's P3-P6)
    val silver = timed("silver_typed") {
      val s = SparkEntry.queries("silver_typed_events")(spark, dir)
      println(s"""{"probe":"silver_rows","rows":${s.count()}}""")
      s
    }

    // 2. gold, streamed append mode with watermark finalization —
    // chronological replay of the FULL sf corpus through the real
    // Structured Streaming machinery (checkpointed micro-batches)
    val streamedGold = timed("gold_stream_append") {
      graft.streaming.StreamedBatch.replayAggregate(spark, events,
        "ts", "event_id",
        st => Candles.ohlcv(st.withWatermark("ts", "10 minutes"),
          tieCol = Some("event_id")))
    }
    val batchGold = Candles.ohlcv(events, tieCol = Some("event_id"))
    val maxTs = events.agg(max(col("ts"))).head().getTimestamp(0)
    val finalized = batchGold.filter(
      col("window_end") <= lit(maxTs) - expr("INTERVAL 10 MINUTES"))
    eq("gold_stream_vs_batch", streamedGold, finalized)

    // 3. gold through the streamed candle STORE (incremental view
    // maintenance; update semantics — every window, live ones too)
    val storeDir = graft.util.Scratch.dir("e2e-candle-store-").toString
    val served = timed("gold_candle_store") {
      graft.streaming.StreamedBatch.replayIntoStore(spark, events,
        "ts", "event_id", Candles.candleStore(storeDir))
      Candles.candlesFromStore(spark, storeDir)
    }
    eq("gold_store_vs_batch", served, batchGold)

    // 4. serving over the store's candles
    timed("serve_latest_per_symbol") {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("symbol").orderBy(col("window_start").desc)
      val latest = served.withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
      println(s"""{"probe":"serve_rows","rows":${latest.count()}}""")
    }

    // 5. cur_pipeline7 verbatim at this sf (the release-recipe chain)
    val docs = Tables.documents(spark, dir)
    val recipe = timed("cur_pipeline7") {
      val corpus = docs.filter(col("doc_id") % 10 =!= 0)
      val bench = docs.filter(col("doc_id") % 10 === 0)
      val clean = Dedup.materialize(Curation.decontaminateByBloom(
        corpus, bench, n = 2, threshold = 0.5))
      val canon = Dedup.keepBestPerComponent(clean,
        Dedup.ngramJaccard(clean, n = 2, threshold = 0.5),
        orderDescCols = Seq("n_chars", "doc_id"))
      val capped = Curation.capPerStratum(canon, "source", "doc_id",
        k = 20, seed = "p7")
      Curation.epochAllocation(capped, "source", "n_chars",
        alpha = 0.7, budgetTokens = 1000000L).cache()
    }
    // in-engine invariants: the allocation spends at most the budget
    // (alloc_tokens is rounded to 2 dp per stratum — allow that much
    // slack) and covers at least one surviving stratum
    val row = recipe.agg(
      coalesce(sum(col("alloc_tokens")), lit(0.0)).as("spent"),
      count(lit(1)).as("strata")).head()
    val (spent, strata) = (row.getDouble(0), row.getLong(1))
    val budgetOk = spent <= 1000000.0 + 0.01 * strata
    println(f"""{"probe":"pipeline7_recipe","strata":$strata,"alloc_tokens":$spent%.2f,"budget_ok":$budgetOk}""")
    require(budgetOk, "epoch allocation exceeded budget")
    require(strata > 0, "pipeline7 produced no strata")

    println(s"""{"probe":"e2e_done","dir":"$dir"}""")
    spark.stop()
  }
}
