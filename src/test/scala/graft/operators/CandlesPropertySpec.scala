package graft.operators

import java.sql.Timestamp
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Property tests for the flagship aggregation (SURVEY.md §5.5 /
  * FIXTURES.md §4 invariants) over generated trade streams — plain
  * ScalaCheck generators sampled with fixed seeds (scalatestplus is not
  * in the offline dependency cache).
  */
class CandlesPropertySpec extends SparkSuite with Matchers {
  import spark.implicits._

  private val base = Timestamp.valueOf("2026-01-01 00:00:00").getTime

  private val tradesGen: Gen[List[(Long, Timestamp, String, Double)]] =
    Gen.nonEmptyListOf(for {
      offsetSec <- Gen.choose(0, 600)
      symbol <- Gen.oneOf("BTC", "ETH", "SOL")
      price <- Gen.choose(1.0, 1000.0)
    } yield (0L, new Timestamp(base + offsetSec * 1000L), symbol, price))
      .map(_.zipWithIndex.map { case ((_, t, s, p), i) => (i.toLong, t, s, p) })

  private def samples(n: Int): Seq[List[(Long, Timestamp, String, Double)]] =
    (1 to n).flatMap(i => tradesGen.apply(Gen.Parameters.default, Seed(i.toLong)))

  test("OHLC invariants hold for arbitrary trade streams") {
    samples(10).foreach { trades =>
      val df = trades.toDF("event_id", "ts", "event_type", "value")
      val c = Candles.ohlcv(df)
      withClue(s"stream of ${trades.length} trades: ") {
        c.filter(col("high") < greatest(col("open"), col("close"))).count() shouldBe 0
        c.filter(col("low") > least(col("open"), col("close"))).count() shouldBe 0
        c.filter(col("vwap") > col("high") + 1e-6).count() shouldBe 0
        c.filter(col("vwap") < col("low") - 1e-6).count() shouldBe 0
        c.agg(sum("trade_count")).as[Long].head() shouldBe trades.length.toLong
        c.groupBy("window_start", "symbol").count().filter(col("count") > 1).count() shouldBe 0
      }
    }
  }

  test("partial-merge algebra: any split count and merge order finalizes identically") {
    // the incremental store's load-bearing claim: mergeCandlePartials
    // is associative + commutative, so ANY sharding of the event
    // stream and ANY merge tree give the one true candle set
    samples(5).zipWithIndex.foreach { case (trades, si) =>
      val df = trades.toDF("event_id", "ts", "event_type", "value")
      val full = Candles.ohlcv(df, tieCol = Some("event_id"))
        .withColumn("vwap", round(col("vwap"), 6))
        .orderBy("symbol", "window_start").collect()
      val m = 2 + si % 3 // 2..4 shards
      val parts = (0 until m).map(i =>
        Candles.candlePartials(df.filter(pmod(col("event_id"), lit(m)) === i)))
      val orders = Seq(parts, parts.reverse,
        new scala.util.Random(si.toLong).shuffle(parts))
      orders.foreach { ps =>
        val got = Candles.finalizeCandles(ps.reduce(Candles.mergeCandlePartials))
          .withColumn("vwap", round(col("vwap"), 6))
          .orderBy("symbol", "window_start").collect()
        assert(got.sameElements(full), s"merge order diverged on sample $si")
      }
    }
  }

  test("candles invariant under row order given a tiebreak column") {
    // generated streams contain same-timestamp trades on purpose: with
    // the event_id tiebreak open/close must not depend on input order
    samples(5).foreach { trades =>
      val df = trades.toDF("event_id", "ts", "event_type", "value")
      val a = Candles.ohlcv(df, tieCol = Some("event_id"))
        .orderBy("symbol", "window_start").collect()
      val b = Candles.ohlcv(df.orderBy(rand(13)), tieCol = Some("event_id"))
        .orderBy("symbol", "window_start").collect()
      assert(a.sameElements(b))
    }
  }

  test("store candles with decimal(18,8) prices: build plus updates == ohlcv") {
    // a merge re-sums decimal partials; if the sum widened to
    // decimal(38,8), finalize's division would keep only scale 8 and
    // round vwap before its 6-dp round (0.00000149 / 3 -> 0.00000050
    // -> 0.000001, where ohlcv's average gives 0.000000). Tiny prices
    // put the 6-dp rounding boundary within reach of every sample.
    val fixed = List((0L, new Timestamp(base + 1000L), "BTC", 49L),
      (1L, new Timestamp(base + 2000L), "BTC", 50L),
      (2L, new Timestamp(base + 3000L), "BTC", 50L))
    val tinyGen = Gen.nonEmptyListOf(for {
      offsetSec <- Gen.choose(0, 600)
      symbol <- Gen.oneOf("BTC", "ETH")
      units <- Gen.choose(1L, 999L)
    } yield (0L, new Timestamp(base + offsetSec * 1000L), symbol, units))
      .map(_.zipWithIndex.map { case ((_, t, s, u), i) => (i.toLong, t, s, u) })
    val generated = (1 to 4).flatMap(i =>
      tinyGen.apply(Gen.Parameters.default, Seed(i.toLong)))
    (fixed +: generated).zipWithIndex.foreach { case (trades, si) =>
      val df = trades.toDF("event_id", "ts", "event_type", "units")
        .withColumn("value", (col("units") / lit(100000000L)).cast("decimal(18,8)"))
        .drop("units")
      val store = graft.util.Scratch.dir("candle-dec").toString
      // build plus two ledgered updates: shard = event_id mod 3
      def shard(i: Int) = df.filter(pmod(col("event_id"), lit(3)) === i)
      Candles.buildCandleStore(shard(0), store)
      Candles.updateCandleStore(shard(1), store, shardId = Some("u1"))
      Candles.updateCandleStore(shard(2), store, shardId = Some("u2"))
      val got = Candles.candlesFromStore(spark, store)
        .orderBy("symbol", "window_start").collect()
      val want = Candles.ohlcv(df, tieCol = Some("event_id"))
        .orderBy("symbol", "window_start").collect()
      withClue(s"sample $si: ") { got.toSeq shouldBe want.toSeq }
    }
  }
}
