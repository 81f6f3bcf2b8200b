package graft.operators

import org.apache.spark.sql.DataFrame

/** Scale-adaptive width for the operators' explicit exchanges (r16,
  * optimization guide §2.2/§2.5 "make partitioning scale-adaptive").
  *
  * An explicit REPARTITION_BY_NUM at the session's full
  * shuffle-partition count is the right call when the downstream
  * stage's compute is large — AQE sizes stages by BYTES and would
  * coalesce a byte-light compute-heavy frame to one task (the r11-r13
  * lesson behind spread()/widenToCores). But on a genuinely SMALL
  * frame the full width buys nothing and pays real per-task CPU
  * overhead (task deser, codegen instantiation, shuffle-writer setup,
  * window/sorter allocation) for every partition of every downstream
  * stage. Measured this round on the 2000-row sf0.1 ANN corpus
  * (BENCH_NOTES r16): the same warm gate costs 7.5-11 CPU-s when its
  * probe passes run at 32 explicit partitions and 0.4-0.8 CPU-s at 4 —
  * the arithmetic itself is < 0.5 CPU-s; everything else was ~40 ms of
  * per-task overhead × 32 partitions × a handful of stages.
  *
  * The rule: width grows with the frame's optimizer byte estimate and
  * saturates at the conf width. A 100 TB corpus hits the cap
  * immediately (5 GB of vectors already does), so the cluster posture
  * is unchanged — only kilobyte-scale frames stop fanning their task
  * overhead across the whole box. Call sites whose downstream fan-out
  * is QUADRATIC in bucket occupancy (the LSH candidate self-joins)
  * deliberately keep the full conf width: their compute is not
  * proportional to input bytes, which is exactly the blind spot of any
  * byte rule — see spread(dense = true).
  */
private[operators] object Width {

  /** Bytes of input per explicit-exchange task. 256 KB ≈ 1k packed
    * d = 64 embeddings — a few hundred ms per task under the heaviest
    * per-row kernels (residual moments: ~100k FLOPs/row), so narrow
    * frames cannot straggle while per-task overhead stays amortized.
    * Any real corpus saturates the conf cap.
    */
  val targetBytesPerTask: Long = 256L * 1024

  /** min(conf, max(1, ceil(sizeInBytes / targetBytesPerTask))). Falls
    * back to the full conf width when the optimizer has no usable size
    * estimate (never narrows blindly).
    */
  def partsFor(df: DataFrame): Int = partsFor(df, targetBytesPerTask)

  /** [[partsFor]] at an explicit per-task byte budget — for frames
    * whose per-byte compute is far off the vector-kernel calibration
    * point (tokenization/shingling over COMPRESSED parquet text: the
    * size estimate is file bytes, ~4x under the in-memory string
    * bytes, and the per-byte kernel cost is higher — use a smaller
    * budget there).
    */
  def partsFor(df: DataFrame, target: Long): Int = {
    val conf = df.sparkSession.sessionState.conf.numShufflePartitions
    val bytes =
      try df.queryExecution.optimizedPlan.stats.sizeInBytes
      catch { case scala.util.control.NonFatal(_) => BigInt(Long.MaxValue) }
    val t = BigInt(math.max(target, 1L))
    ((bytes + t - 1) / t).min(BigInt(conf)).max(BigInt(1)).toInt
  }
}
