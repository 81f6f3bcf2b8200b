package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite

class HllSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def corpus(n: Long, keys: Int, card: Int) =
    spark.range(n).select(
      concat(lit("k"), pmod(col("id"), lit(keys))).as("k"),
      pmod(hash(col("id")), lit(card)).cast("long").as("v"))

  test("store after build + extends serves the one-shot sketch estimates exactly") {
    val df = corpus(30000, 3, 5000)
    val store = graft.util.Scratch.dir("hll-store").toString
    val t = pmod(hash(col("v") + 1), lit(3))
    val hll = Hll.distinctStore(store, Seq("k"), "v")
    hll.build(df.filter(t === 0))
    hll.extend(df.filter(t === 1), Some("s1"))
    hll.extend(df.filter(t === 2), Some("s2"))
    val fromStore = Hll.distinctCounts(spark, store, Seq("k"))
      .orderBy("k").as[(String, Long)].collect()
    val oneShot = Hll.distinctOneShot(df, Seq("k"), "v")
      .orderBy("k").as[(String, Long)].collect()
    // union additivity: merging per-shard sketches must reach the SAME
    // sketch state as one pass over everything — estimates identical
    fromStore shouldBe oneShot
  }

  test("estimates sit within the lgK=12 error envelope of exact counts") {
    val df = corpus(200000, 2, 40000) // cardinality well past sparse mode
    val est = Hll.distinctOneShot(df, Seq("k"), "v")
      .orderBy("k").as[(String, Long)].collect().toMap
    val exact = df.groupBy("k").agg(countDistinct("v").as("n"))
      .orderBy("k").as[(String, Long)].collect().toMap
    exact.foreach { case (k, n) =>
      math.abs(est(k) - n).toDouble / n should be < 0.05
    }
  }

  test("a re-delivered shard is a no-op: store rows and estimates unchanged") {
    val df = corpus(10000, 2, 2000)
    val store = graft.util.Scratch.dir("hll-retry").toString
    val t = pmod(hash(col("v") + 1), lit(2))
    val hll = Hll.distinctStore(store, Seq("k"), "v")
    hll.build(df.filter(t === 0))
    hll.extend(df.filter(t === 1), Some("day1"))
    val rows = spark.read.parquet(s"$store/data").count()
    val before = Hll.distinctCounts(spark, store, Seq("k"))
      .orderBy("k").as[(String, Long)].collect()
    hll.extend(df.filter(t === 1), Some("day1"))
    spark.read.parquet(s"$store/data").count() shouldBe rows
    Hll.distinctCounts(spark, store, Seq("k"))
      .orderBy("k").as[(String, Long)].collect() shouldBe before
  }

  test("store size is sketch-bounded: rows = shards x keys, independent of corpus") {
    val df = corpus(50000, 4, 10000)
    val store = graft.util.Scratch.dir("hll-size").toString
    val t = pmod(hash(col("v") + 1), lit(3))
    val hll = Hll.distinctStore(store, Seq("k"), "v")
    hll.build(df.filter(t === 0))
    hll.extend(df.filter(t === 1), Some("a"))
    hll.extend(df.filter(t === 2), Some("b"))
    spark.read.parquet(s"$store/data").count() shouldBe 12L // 3 shards x 4 keys
  }
}
