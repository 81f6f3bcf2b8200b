package graft.operators

import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** Pins the r16 scale-adaptive exchange-width rule: width grows with
  * the frame's optimizer byte estimate, saturates at the session's
  * shuffle-partition count, and never narrows blindly when no estimate
  * exists — the contract that keeps the 100 TB plan shape identical
  * (any real corpus saturates the cap) while kilobyte frames stop
  * paying per-task overhead across the whole box.
  */
class WidthSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("partsFor grows with the byte estimate and saturates at the conf cap") {
    val conf = spark.sessionState.conf.numShufflePartitions
    val bytes = emb.queryExecution.optimizedPlan.stats.sizeInBytes
    bytes should be > BigInt(0)
    // a target far above the frame's size -> 1 partition
    Width.partsFor(emb, target = Long.MaxValue / 4) shouldBe 1
    // a 1-byte target -> the cap, never past it (the 100 TB posture:
    // big frames always take the full session width)
    Width.partsFor(emb, target = 1L) shouldBe conf
    // the default-target width is ceil(bytes / target) clamped to
    // [1, conf] — monotone in bytes by construction
    val p = Width.partsFor(emb)
    p should be >= 1
    p should be <= conf
    val expected = ((bytes + Width.targetBytesPerTask - 1) /
      Width.targetBytesPerTask).min(BigInt(conf)).max(BigInt(1)).toInt
    p shouldBe expected
  }

  test("partsFor falls back to the conf cap when the estimate is unusable") {
    val conf = spark.sessionState.conf.numShufflePartitions
    // a LocalRelation-free frame with a Long.MaxValue default estimate
    // (no file source, no CBO stats beneath an opaque RDD boundary)
    val opaque = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(org.apache.spark.sql.Row(1L))),
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("x",
          org.apache.spark.sql.types.LongType))))
    // the RDD boundary carries the defaultSizeInBytes estimate
    // (Long.MaxValue with CBO off) — the rule must return exactly the
    // conf cap: an unusable estimate NEVER narrows the exchange (r16
    // ADVICE: the old `<= conf` assertion held by construction and
    // could not fail)
    opaque.queryExecution.optimizedPlan.stats.sizeInBytes shouldBe
      BigInt(Long.MaxValue)
    Width.partsFor(opaque) shouldBe conf
  }
}
