package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class FreqSketchSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def sketch(df: org.apache.spark.sql.DataFrame, k: Int): Map[String, Long] = {
    val mg = udaf(new FreqSketch.MisraGries(k))
    df.agg(mg(col("item")).as("m"))
      .select(explode(col("m")).as(Seq("item", "cnt")))
      .as[(String, Long)].collect().toMap
  }

  test("k >= cardinality: counts are exact under any partitioning") {
    val ev = graft.util.Tables.events(spark, "/root/testdata/sf0.001")
      .select(col("event_type").as("item"))
    val exact = ev.groupBy("item").count().as[(String, Long)].collect().toMap
    // random repartition forces nontrivial partial/merge trees
    sketch(ev.repartition(7), k = 64) shouldBe exact
  }

  test("under compaction: no false negatives above N/(k+1), estimates never exceed truth") {
    val k = 16
    // one heavy item (2000 of 5000 rows) + a 300-item uniform tail —
    // cardinality 301 >> k, so decrements and merge-compaction fire
    val heavy = Seq.fill(2000)("heavy")
    val tail = (0 until 300).flatMap(i => Seq.fill(10)(s"t$i"))
    val n = heavy.size + tail.size
    val df = scala.util.Random.shuffle(heavy ++ tail).toDF("item").repartition(5)
    val est = sketch(df, k)
    est.keySet should contain("heavy")
    // MG bound: c − N/(k+1) ≤ ĉ ≤ c
    est("heavy") should be <= 2000L
    est("heavy") should be >= (2000L - n / (k + 1))
    est.size should be <= k
    est.foreach { case (item, c) =>
      val truth = if (item == "heavy") 2000L else 10L
      c should be <= truth
    }
  }

  test("heavyTopKExact: an unprovable bound REFUSES by default; the exact " +
      "fallback is opt-in and itself guarded by a measured distinct budget") {
    // uniform vocabulary that defeats a tiny capacity: 30 items × 2,
    // capacity 2 → merged bound N/(cap+1) = 20 ≫ every true count, so
    // the completeness condition can never be proven
    val items = (0 until 30).flatMap(i => Seq.fill(2)(f"w$i%02d"))
      .toDF("item")
    val store = graft.util.Scratch.dir("heavy-guard-").toString
    FreqSketch.heavyStore(store, capacity = 2, itemCol = Some("item")).build(items)
    // default: loud refusal, never an implicit corpus-sized GROUP BY
    val ex = intercept[IllegalArgumentException] {
      FreqSketch.heavyTopKExact(items, "item", store, k = 5)
    }
    ex.getMessage should include("opt into")
    // opted-in with a sufficient budget: the exact aggregation serves
    val got = FreqSketch.heavyTopKExact(items, "item", store, k = 5,
        exactFallbackMaxDistinct = 100)
      .as[(String, Long)].collect().toSeq
    got shouldBe (0 until 5).map(i => (f"w$i%02d", 2L))
    // opted-in but the measured vocabulary exceeds the budget: refused
    val ex2 = intercept[IllegalArgumentException] {
      FreqSketch.heavyTopKExact(items, "item", store, k = 5,
        exactFallbackMaxDistinct = 5)
    }
    ex2.getMessage should include("exceeds the opted-in budget")
  }
}
