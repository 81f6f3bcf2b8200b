package graft.operators

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.rand
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

class AlertsSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  private def frame(rows: (String, String, Long, Double)*): DataFrame =
    rows.map { case (sym, t, id, p) => (sym, ts(t), id, p) }
      .toDF("symbol", "ts", "event_id", "price")

  private def run(df: DataFrame, minMove: Double) =
    Alerts.thresholdAlerts(df, "symbol", "ts", "event_id", "price", minMove)
      .orderBy("symbol", "trade_timestamp", "trade_id")
      .select("trade_id", "price", "ref_price", "move")
      .as[(Long, Double, Double, Double)].collect().toSeq

  /** Driver-side re-derivation of the recurrence — the naive oracle. */
  private def naive(rows: Seq[(String, Timestamp, Long, Double)],
                    minMove: Double): Seq[(Long, Double, Double, Double)] =
    rows.groupBy(_._1).toSeq.sortBy(_._1).flatMap { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
      var ref = sorted.head._4
      sorted.tail.flatMap { case (_, _, id, p) =>
        if (math.abs(p - ref) >= minMove) {
          val out = (id, p, ref, p - ref); ref = p; Some(out)
        } else None
      }
    }

  test("thresholdAlerts: seed row emits nothing, alert resets the reference") {
    val df = frame(
      ("BTC", "2026-01-01 10:00:00", 1L, 100.0), // seed, no alert
      ("BTC", "2026-01-01 10:01:00", 2L, 104.0), // +4 < 5, quiet
      ("BTC", "2026-01-01 10:02:00", 3L, 106.0), // +6 >= 5 vs ref 100 → alert, ref := 106
      ("BTC", "2026-01-01 10:03:00", 4L, 102.0), // -4 vs ref 106, quiet (cumulative reset!)
      ("BTC", "2026-01-01 10:04:00", 5L, 100.0), // -6 vs ref 106 → alert
      ("ETH", "2026-01-01 10:00:00", 6L, 50.0),  // independent key
      ("ETH", "2026-01-01 10:01:00", 7L, 56.0))  // +6 → alert
    run(df, 5.0) shouldBe Seq(
      (3L, 106.0, 100.0, 6.0),
      (5L, 100.0, 106.0, -6.0),
      (7L, 56.0, 50.0, 6.0))
  }

  test("thresholdAlerts: equal-timestamp rows break ties on the tie column") {
    val df = frame(
      ("BTC", "2026-01-01 10:00:00", 2L, 100.0),
      ("BTC", "2026-01-01 10:00:00", 1L, 90.0), // id 1 first → it seeds
      ("BTC", "2026-01-01 10:00:01", 3L, 101.0))
    // seed 90; id 2 moves +10 → alert; id 3 vs ref 100 moves +1, quiet
    run(df, 10.0) shouldBe Seq((2L, 100.0, 90.0, 10.0))
  }

  test("thresholdAlerts matches a naive per-key recompute on random data") {
    val rng = new scala.util.Random(42)
    val syms = Seq("A", "B", "C", "D")
    val rows = (1 to 2000).map { i =>
      (syms(rng.nextInt(syms.size)),
        new Timestamp(1700000000000L + rng.nextInt(1000000) * 1000L),
        i.toLong, math.rint(rng.nextDouble() * 50000) / 100.0)
    }
    val got = run(rows.toDF("symbol", "ts", "event_id", "price"), 150.0)
    val want = naive(rows, 150.0)
    got.size shouldBe want.size
    got should contain theSameElementsAs want
  }

  test("thresholdAlerts is invariant to input order and partitioning") {
    val rng = new scala.util.Random(7)
    val rows = (1 to 500).map { i =>
      ("K" + rng.nextInt(3),
        new Timestamp(1700000000000L + rng.nextInt(100000) * 1000L),
        i.toLong, rng.nextDouble() * 300.0)
    }
    val base = run(rows.toDF("symbol", "ts", "event_id", "price"), 50.0)
    val shuffled = run(rng.shuffle(rows).toDF("symbol", "ts", "event_id", "price")
      .repartition(7), 50.0)
    shuffled shouldBe base
  }

  private def runSliced(df: DataFrame, minMove: Double, slices: Int) =
    Alerts.thresholdAlertsSliced(df, "symbol", "ts", "event_id", "price",
        minMove, slices = slices)
      .orderBy("symbol", "trade_timestamp", "trade_id")
      .select("trade_id", "price", "ref_price", "move")
      .as[(Long, Double, Double, Double)].collect().toSeq

  test("thresholdAlertsSliced == thresholdAlerts on random data at several " +
      "slice counts (PASS/ADOPT classes exercised)") {
    val rng = new scala.util.Random(42)
    val syms = Seq("A", "B", "C")
    val rows = (1 to 3000).map { i =>
      (syms(rng.nextInt(syms.size)),
        new Timestamp(1700000000000L + rng.nextInt(1000000) * 1000L),
        i.toLong, math.rint(rng.nextDouble() * 50000) / 100.0)
    }
    val df = rows.toDF("symbol", "ts", "event_id", "price")
    val base = run(df, 150.0)
    for (s <- Seq(2, 5, 16))
      runSliced(df, 150.0, s) shouldBe base
  }

  test("thresholdAlertsSliced == thresholdAlerts on a single dominant key " +
      "with forced divergence (RESCAN class)") {
    // one hot key; prices engineered so the true incoming reference of
    // a later slice differs enough from its first row that the first
    // passage moves — the chains diverge and the batched rescan path
    // must fire. A sawtooth with drifting amplitude exercises all
    // three classes across slices.
    val rows = (1 to 4000).map { i =>
      val p = 1000.0 + 120.0 * math.sin(i / 7.0) + (i % 13) * 25.0 +
        (if (i % 97 == 0) 400.0 else 0.0)
      ("HOT", new Timestamp(1700000000000L + i * 1000L), i.toLong, p)
    }
    val df = rows.toDF("symbol", "ts", "event_id", "price")
    for (m <- Seq(150.0, 300.0); s <- Seq(4, 16)) {
      val base = run(df, m)
      runSliced(df, m, s) shouldBe base
    }
  }

  test("thresholdAlertsSliced == thresholdAlerts on the sf0.001 events " +
      "table (the gate recurrence)") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
    val base = Alerts.thresholdAlerts(ev, "event_type", "ts", "event_id",
        "value", 150.0)
      .orderBy("symbol", "trade_timestamp", "trade_id")
      .select("trade_id", "price", "ref_price", "move")
      .as[(Long, Double, Double, Double)].collect().toSeq
    val sliced = Alerts.thresholdAlertsSliced(ev, "event_type", "ts",
        "event_id", "value", 150.0, slices = 8)
      .orderBy("symbol", "trade_timestamp", "trade_id")
      .select("trade_id", "price", "ref_price", "move")
      .as[(Long, Double, Double, Double)].collect().toSeq
    sliced shouldBe base
  }

  test("thresholdAlertsSliced compiles its generated code: the sf0.001 " +
      "gate recurrence runs with the interpreted fallback switched off") {
    val key = "spark.sql.codegen.fallback"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "false")
    try {
      val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
      Alerts.thresholdAlertsSliced(ev, "event_type", "ts", "event_id",
          "value", 150.0, slices = 4)
        .collect().length should be > 0
    } finally prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("thresholdAlertsSliced refuses past the driver-stitch bound") {
    val df = frame(
      ("BTC", "2026-01-01 10:00:00", 1L, 100.0),
      ("BTC", "2026-01-01 10:01:00", 2L, 300.0))
    an[IllegalArgumentException] should be thrownBy
      Alerts.thresholdAlertsSliced(df, "symbol", "ts", "event_id", "price",
        50.0, slices = 4, maxStitchRows = 1L)
  }

  test("thresholdAlertsStream carries the reference across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[(String, Timestamp, Long, Double)]
    val trades = Alerts.trades(
      in.toDF().toDF("symbol", "ts", "event_id", "price"),
      "symbol", "ts", "event_id", "price")
    val q = Alerts.thresholdAlertsStream(trades, minMove = 5.0)
      .writeStream.format("memory").queryName("alerts_state_test")
      .outputMode("append").start()

    // batch 1: seed + one quiet row (out of order within the batch —
    // the per-batch sort must put id 1 first so it seeds)
    in.addData(
      ("BTC", ts("2026-01-01 10:01:00"), 2L, 104.0),
      ("BTC", ts("2026-01-01 10:00:00"), 1L, 100.0))
    q.processAllAvailable()
    spark.table("alerts_state_test").count() shouldBe 0L

    // batch 2: +6 vs the ref seeded in batch 1 → alert proves state
    // survived the boundary; then quiet vs the reset ref
    in.addData(
      ("BTC", ts("2026-01-01 10:02:00"), 3L, 106.0),
      ("BTC", ts("2026-01-01 10:03:00"), 4L, 103.0))
    q.processAllAvailable()
    val out = spark.table("alerts_state_test")
      .select("trade_id", "price", "ref_price", "move")
      .as[(Long, Double, Double, Double)].collect().toSeq
    out shouldBe Seq((3L, 106.0, 100.0, 6.0))
    q.stop()
  }

  test("ewma matches a naive sequential per-key recompute, bit for bit") {
    val rng = new scala.util.Random(23)
    val rows = (1 to 900).map { i =>
      ("S" + rng.nextInt(4),
        new Timestamp(1700000000000L + i * 1000L),
        i.toLong, rng.nextDouble() * 400.0)
    }
    val df = rows.toDF("symbol", "ts", "event_id", "price")
    val alpha = 0.3
    val want = rows.groupBy(_._1).flatMap { case (_, rs) =>
      val sorted = rs.sortBy(r => (r._2.getTime, r._3))
      var e = 0.0
      sorted.zipWithIndex.map { case ((sym, _, tie, p), i) =>
        e = if (i == 0) p else p * alpha + e * (1 - alpha)
        (sym, tie, e)
      }
    }.toSeq.sortBy(r => (r._1, r._2))
    val got = Alerts.ewma(df, "symbol", "ts", "event_id", "price", alpha)
      .orderBy("symbol", "tie")
      .select("symbol", "tie", "ewma")
      .as[(String, Long, Double)].collect().toSeq
    got shouldBe want // raw doubles: identical op order must mean identical bits
  }

  test("ewma is invariant to input order and partitioning") {
    val rng = new scala.util.Random(29)
    val rows = (1 to 500).map { i =>
      ("S" + rng.nextInt(3),
        new Timestamp(1700000000000L + i * 1000L),
        i.toLong, rng.nextDouble() * 100.0)
    }
    val df = rows.toDF("symbol", "ts", "event_id", "price")
    def run(d: DataFrame) =
      Alerts.ewma(d, "symbol", "ts", "event_id", "price", 0.2)
        .orderBy("symbol", "tie")
        .select("symbol", "tie", "ewma")
        .as[(String, Long, Double)].collect().toSeq
    run(df.orderBy(rand(7)).repartition(7)) shouldBe run(df.coalesce(1))
  }

  test("streamed alerts over a chronological replay equal the batch recurrence") {
    val rng = new scala.util.Random(11)
    val rows = (1 to 600).map { i =>
      ("S" + rng.nextInt(3),
        new Timestamp(1700000000000L + i * 1000L),
        i.toLong, rng.nextDouble() * 400.0)
    }
    val df = rows.toDF("symbol", "ts", "event_id", "price")
    val batch = run(df, 100.0)
    val streamed = graft.streaming.StreamedBatch.replayAggregate(
        spark, df, "ts", "event_id",
        st => Alerts.thresholdAlertsStream(
          Alerts.trades(st, "symbol", "ts", "event_id", "price"), 100.0).toDF())
      .orderBy("symbol", "trade_timestamp", "trade_id")
      .select("trade_id", "price", "ref_price", "move")
      .as[(Long, Double, Double, Double)].collect().toSeq
    streamed shouldBe batch
  }

  test("streamed ewma over a chronological replay equals the batch scan") {
    val rng = new scala.util.Random(31)
    val rows = (1 to 600).map { i =>
      ("S" + rng.nextInt(3),
        new Timestamp(1700000000000L + i * 1000L),
        i.toLong, rng.nextDouble() * 400.0)
    }
    val df = rows.toDF("symbol", "ts", "event_id", "price")
    val batch = Alerts.ewma(df, "symbol", "ts", "event_id", "price", 0.25)
      .orderBy("symbol", "tie")
      .select("symbol", "tie", "price", "ewma")
      .as[(String, Long, Double, Double)].collect().toSeq
    val streamed = graft.streaming.StreamedBatch.replayAggregate(
        spark, df, "ts", "event_id",
        st => Alerts.ewmaStream(
          Alerts.trades(st, "symbol", "ts", "event_id", "price"), 0.25).toDF())
      .orderBy("symbol", "tie")
      .select("symbol", "tie", "price", "ewma")
      .as[(String, Long, Double, Double)].collect().toSeq
    streamed shouldBe batch // cross-batch GroupState resumes the recurrence
  }
}
