package graft.operators

import graft.SparkSuite
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

class BloomSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private def tmp(): String =
    graft.util.Scratch.dir("bloom-spec").toString

  // dim keys 0,3,6,...,297 (100 keys); fact keys 0..999 — the
  // non-member fraction is large enough that pruning must bite
  private def dim: DataFrame =
    (0 until 100).map(i => (i * 3L, s"name-$i")).toDF("k", "name")
  private def fact: DataFrame =
    (0 until 1000).map(i => (i.toLong, i * 10L)).toDF("fk", "payload")

  test("store lifecycle: build + extends == one-shot filter; join bit-identical") {
    val store = tmp()
    val bloom = Bloom.bloomStore(store, "k", expectedKeys = 1000)
    bloom.build(dim.filter($"k" < 100))
    bloom.extend(dim.filter($"k" >= 100 && $"k" < 200), Some("t1"))
    bloom.extend(dim.filter($"k" >= 200), Some("t2"))
    // re-delivery: ledgered no-op, row count unchanged
    val rows = graft.util.Manifest.read(spark, store, "filter").count()
    bloom.extend(dim.filter($"k" >= 100 && $"k" < 200), Some("t1"))
    graft.util.Manifest.read(spark, store, "filter").count() shouldBe rows
    // no false negatives: every dim key passes the merged filter
    val merged = Bloom.mergedFilter(spark, store)
    dim.select("k").as[Long].collect().foreach { k =>
      assert(merged.mightContainLong(k), s"stored key $k reported absent")
    }
    // served join == plain join, bit-identical
    val served = Bloom.bloomStoreJoin(fact, dim, "fk", "k", store)
      .select("fk", "name", "payload").orderBy("fk").collect()
    val plain = fact.join(dim, $"fk" === $"k")
      .select("fk", "name", "payload").orderBy("fk").collect()
    served shouldBe plain
  }

  test("semiFilter prunes: survivors are a small superset of true members") {
    val store = tmp()
    Bloom.bloomStore(store, "k", expectedKeys = 1000, fpp = 0.01).build(dim)
    val kept = Bloom.semiFilter(fact, "fk", store).count()
    val members = fact.join(dim, $"fk" === $"k").count()
    // one-sided: every member survives ...
    kept should be >= members
    // ... and the pre-shuffle reduction actually bites: survivors stay
    // within members + fpp-sized leakage (generous 5x slack on 1% fpp
    // over 1000 probes), nowhere near the unfiltered 1000 rows
    kept should be <= (members + 50)
  }

  test("filter geometry is fixed by the build and shards stay mergeable") {
    val store = tmp()
    val bloom = Bloom.bloomStore(store, "k", expectedKeys = 512, fpp = 0.02)
    bloom.build(dim.limit(10))
    bloom.extend(dim, Some("s1"))
    val f = graft.util.Manifest.read(spark, store, "filter")
      .select("expected", "fpp").distinct().collect()
    f.length shouldBe 1
    f.head.getLong(0) shouldBe 512L
    // mergedFilter would throw IncompatibleMergeException on drifted
    // geometry; reaching here with membership intact proves the merge
    val merged = Bloom.mergedFilter(spark, store)
    dim.select("k").as[Long].collect()
      .foreach(k => assert(merged.mightContainLong(k)))
  }

  test("asOf time travel: generation 0 does not know later shards' keys") {
    val store = tmp()
    val bloom = Bloom.bloomStore(store, "k", expectedKeys = 1000, fpp = 0.001)
    bloom.build(dim.filter($"k" < 100))
    bloom.extend(dim.filter($"k" >= 100), Some("t1"))
    val g0 = Bloom.mergedFilter(spark, store, asOf = Some(0))
    // keys from the later shard: overwhelmingly absent at fpp 0.1%
    val lateKeys = dim.filter($"k" >= 100).select("k").as[Long].collect()
    val leaked = lateKeys.count(g0.mightContainLong)
    leaked should be <= (lateKeys.length / 10)
    // while generation 1 knows them all
    val g1 = Bloom.mergedFilter(spark, store)
    lateKeys.foreach(k => assert(g1.mightContainLong(k)))
  }
}
