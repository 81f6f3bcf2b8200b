package graft.operators

import org.apache.spark.sql.DataFrame
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

class QuantilesSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def tempStore(): String =
    graft.util.Scratch.dir("quantiles-spec-").toString

  /** A deterministic, deliberately non-uniform multiset: squares mod a
    * prime, so values cluster and repeat — ties straddle rank
    * boundaries, the case the order-statistic selection must be
    * invariant to.
    */
  private def corpus(n: Int): DataFrame =
    (0 until n).map(i => (i.toLong, ((i.toLong * i) % 9973).toDouble))
      .toDF("id", "value")

  private def exactQuantile(vals: Seq[Double], q: Double): Double = {
    val sorted = vals.sorted
    sorted(math.max(0, math.ceil(q * sorted.size).toInt - 1))
  }

  test("store lifecycle: build + extends + re-delivery, contract row all-true") {
    val df = corpus(3000)
    val store = tempStore()
    val summary = Quantiles.quantileStore(store, "value")
    summary.build(df.filter($"id" % 3 === 0))
    // a re-run build (streaming batch-0 retry) overwrites, never
    // double-counts — the same idempotency idiom as the other stores
    summary.build(df.filter($"id" % 3 === 0))
    summary.extend(df.filter($"id" % 3 === 1), Some("t1"))
    summary.extend(df.filter($"id" % 3 === 2), Some("t2"))
    // ledgered no-op: the re-delivered shard must append nothing
    summary.extend(df.filter($"id" % 3 === 1), Some("t1"))
    val row = Quantiles.quantileCheck(df, "value", store,
      qs = Seq(0.01, 0.25, 0.5, 0.75, 0.99), expectShards = 3).head()
    (0 until 4).foreach(i => assert(row.getBoolean(i), s"flag $i"))
  }

  test("eps → 0 (r = 1) degenerates to the exact quantile") {
    val df = corpus(500)
    val store = tempStore()
    // eps small enough that r = max(1, ceil(n·eps)) = 1: the summary
    // IS the sorted multiset, so serving must equal the exact
    // lower-quantile order statistic
    Quantiles.quantileStore(store, "value", eps = 1e-9).build(df)
    val vals = df.select($"value").as[Double].collect().toSeq
    val served = Quantiles.quantilesFromStore(spark, store, Seq(0.1, 0.5, 0.9))
      .select($"q", $"value").as[(Double, Double)].collect().toMap
    Seq(0.1, 0.5, 0.9).foreach { q =>
      served(q) shouldBe exactQuantile(vals, q)
    }
  }

  test("summary is deterministic across partitioning layouts") {
    val df = corpus(2000)
    val a = tempStore(); val b = tempStore()
    Quantiles.quantileStore(a, "value").build(df.repartition(7))
    Quantiles.quantileStore(b, "value").build(df.repartition(3, $"id"))
    def rows(p: String) = spark.read.parquet(s"$p/summary")
      .select("value", "weight", "shard_n", "r")
      .as[(Double, Long, Long, Long)].collect().sorted.toSeq
    rows(a) shouldBe rows(b)
  }

  test("non-vacuous: a double-applied shard without the ledger fails the contract") {
    val df = corpus(1200)
    val store = tempStore()
    val summary = Quantiles.quantileStore(store, "value")
    summary.build(df.filter($"id" % 2 === 0))
    // simulate a retry that BYPASSES the ledger (no shard id): the
    // duplicate summary weight must break weight reconciliation — the
    // failure mode the ledger exists to prevent
    summary.extend(df.filter($"id" % 2 === 1), None)
    summary.extend(df.filter($"id" % 2 === 1), None)
    val row = Quantiles.quantileCheck(df, "value", store,
      qs = Seq(0.5), expectShards = 3).head()
    assert(!row.getBoolean(0), "weights_ok must fail on doubled weight")
    // ... and the two anonymous shards count as TWO in the shard tally
    // and the rank-error bound (distinct uids), not one
    assert(row.getBoolean(2), "shards_ok: base + 2 distinct anon shards = 3")
  }

  test("store maintenance composes: Manifest.compactSub consolidates shard " +
      "files, answers and ledger unchanged") {
    val df = corpus(3000)
    val store = tempStore()
    val summary = Quantiles.quantileStore(store, "value")
    summary.build(df.filter($"id" % 3 === 0))
    summary.extend(df.filter($"id" % 3 === 1), Some("t1"))
    summary.extend(df.filter($"id" % 3 === 2), Some("t2"))
    def served() = Quantiles.quantilesFromStore(spark, store, Seq(0.25, 0.5, 0.75))
      .select($"q", $"value").as[(Double, Double)].collect().toMap
    val before = served()
    def liveFiles() = graft.util.Manifest.snapshot(spark, store)
      .files.count(_.startsWith("summary/"))
    liveFiles() should be >= 3 // one file per shard accretes
    // daily-cadence maintenance: the manifest-aware compaction
    graft.util.Manifest.compactSub(spark, store, "summary", targetFileMB = 128)
    liveFiles() shouldBe 1
    served() shouldBe before
    val row = Quantiles.quantileCheck(df, "value", store,
      qs = Seq(0.01, 0.5, 0.99), expectShards = 3).head()
    (0 until 4).foreach(i => assert(row.getBoolean(i), s"flag $i"))
    // the ledger survives compaction: a re-delivered shard is still a no-op
    summary.extend(df.filter($"id" % 3 === 1), Some("t1"))
    Quantiles.quantileCheck(df, "value", store, qs = Seq(0.5), expectShards = 3)
      .head().getBoolean(0) shouldBe true
  }

  test("summary size is bounded by ~1/eps per shard, not by rows") {
    val df = corpus(4000)
    val store = tempStore()
    Quantiles.quantileStore(store, "value", eps = 0.02).build(df)
    val kept = spark.read.parquet(s"$store/summary").count()
    // n·eps = 80 ⇒ r = 80 ⇒ ⌊n/r⌋ (+1 remainder row) summary rows
    kept should be <= (4000L / 80L + 1L)
  }
}
