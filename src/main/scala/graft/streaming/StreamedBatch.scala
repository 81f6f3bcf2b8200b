package graft.streaming

import java.io.File
import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType
import graft.util.{Scratch, ShardedStore}

/** Run a watermarked streaming aggregation over a *batch* table by
  * replaying it as a chronological file stream — the harness that lets
  * the DuckDB oracle check real append-mode streaming semantics
  * (emit-once-per-finalized-window, watermark-bounded lateness;
  * SURVEY.md §2.8 T1-T3/T5/T8).
  *
  * Mechanics: the input is split into `chunks` event-time-ordered
  * parquet files with strictly increasing modification times, streamed
  * back with `maxFilesPerTrigger=1` (so the watermark advances batch by
  * batch exactly as a live feed would), aggregated with a watermark,
  * and append-sunk to parquet. `Trigger.AvailableNow` drains the
  * backlog then runs the closing no-data micro-batch, which advances
  * the watermark to max(event_time) − delay and finalizes every window
  * at or below it. The emitted set is therefore a pure function of the
  * data: all windows with `window_end <= max(ts) − delay` — which is
  * what the oracle SQL asserts.
  */
object StreamedBatch {

  /** Stage `input` as `chunks` event-time-ordered parquet files with
    * strictly increasing mtimes under `<work>/in` — the file-stream
    * replay's source directory. Returns the work dir.
    *
    * Deterministic chronological chunking via a RANGE exchange: the
    * input shuffles into `chunks` contiguous (ts, tie) ranges and each
    * range writes its own file in parallel. (A global
    * `ntile(chunks) OVER (ORDER BY ts)` window would funnel the whole
    * input through ONE task — the "No Partition Defined for Window"
    * scale trap.) Exact boundary placement is sampling-chosen, but the
    * final emitted set is chunking-invariant: any chronological split
    * finalizes the same watermark-bounded windows.
    */
  private def stageChunks(input: DataFrame, tsCol: String, tieCol: String,
                          chunks: Int): File = {
    val work = Scratch.dir("graft-stream-")
    val streamIn = new File(work, "in"); streamIn.mkdirs()
    val stage = new File(work, "stage")
    input.repartitionByRange(chunks, col(tsCol), col(tieCol))
      .withColumn("__chunk", spark_partition_id())
      .write.partitionBy("__chunk").mode("overwrite").parquet(stage.getAbsolutePath)
    val ranges = stage.listFiles()
      .filter(_.getName.startsWith("__chunk="))
      .sortBy(_.getName.stripPrefix("__chunk=").toInt)
    ranges.zipWithIndex.foreach { case (dir, i) =>
      val part = dir.listFiles().find(f =>
        f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).get
      val dst = new File(streamIn, f"chunk-${i + 1}%03d.parquet")
      Files.move(part.toPath, dst.toPath)
      // strictly increasing mtimes pin the replay order (the file
      // source processes oldest-first under maxFilesPerTrigger)
      dst.setLastModified(1000000000000L + (i + 1) * 60000L)
    }
    work
  }

  /** The staged `in/` dir for a replay input — memoized per `stageKey`
    * when one is given ([[graft.util.Scratch.memo]], the gate fixtures'
    * memo): several gates replay the SAME chronological chunks, and
    * Verify + Bench's double runs re-stage identically, so the
    * range-exchange + write + rename staging pays once per (JVM, key).
    * Only the INPUT is shared — every replay still gets a fresh
    * checkpoint/output dir, so the streaming execution (the operation
    * the gates time and check) runs in full on every call. The staged
    * chunks are immutable once built (the file source only ever reads
    * them).
    */
  private def stagedIn(input: DataFrame, tsCol: String, tieCol: String,
                       chunks: Int, stageKey: Option[String]): File = {
    def stage() = new File(stageChunks(input, tsCol, tieCol, chunks), "in")
    stageKey.fold(stage())(k =>
      Scratch.memo(s"staged-in#$k#$tsCol#$tieCol#$chunks")(stage()))
  }

  /** The file-stream source over a staged `in/` dir: one chunk per
    * micro-batch, oldest first — the watermark advances batch by batch
    * exactly as a live feed would.
    */
  private def source(spark: SparkSession, schema: StructType, in: File): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1)
      .parquet(in.getAbsolutePath)

  /** Run `start`'s streaming query to completion with the session's
    * shuffle partitions clamped to `parts` for the duration — every
    * micro-batch commits one state-store delta PER state partition,
    * and replay batches are tiny, so 32 partitions × (chunks +
    * finalize) batches is pure commit overhead. Size the replay's
    * state partitioning to its work; a live deployment sizes it to
    * the cluster (either way it's locked into the checkpoint at first
    * start). The clamp only ever narrows the session width, and it is
    * restored afterwards so batch queries keep the session's
    * parallelism. (RocksDB was measured for this floor and REJECTED:
    * at sf0.1 the aggregate replay runs 3.3 s on the HDFS-backed
    * provider vs 4.4 s on RocksDB — per-batch instance open/commit
    * dominates at replay-sized state. A long-lived deployment with
    * state larger than executor heap should still prefer RocksDB; the
    * provider spec in StreamingSpec proves it drops in cleanly.)
    *
    * `stopAfterBatches = Some(k)` interrupts the query once k
    * micro-batches have committed instead of draining it — the
    * restart matrix's mid-stream kill.
    *
    * One shared skeleton for every replay shape — a fix to the
    * clamp/restore contract lands in every replay at once.
    */
  private def runClamped(spark: SparkSession, parts: Int,
                         stopAfterBatches: Option[Int] = None)
                        (start: => StreamingQuery): Unit = {
    val prevParts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions",
      math.min(parts, prevParts.toInt))
    try {
      val q = start
      stopAfterBatches.foreach { k =>
        while (q.isActive && q.recentProgress.count(_.numInputRows >= 0) < k)
          Thread.sleep(50)
        q.stop()
      }
      q.awaitTermination()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Replay `input` (sorted by `tsCol`, `tieCol`) as a `chunks`-file
    * stream; apply `agg` to the watermarked stream; return the
    * append-mode output as a batch DataFrame.
    *
    * `stopAfterBatches` makes an interrupted run for the restart
    * matrix: the query is killed once k micro-batches have committed,
    * leaving the checkpoint and the file sink's _spark_metadata
    * mid-stream; a later call with the SAME `workDirOpt` resumes from
    * the checkpoint and must converge to the uninterrupted output (the
    * file sink's exactly-once contract at replay scale).
    */
  def replayAggregate(spark: SparkSession, input: DataFrame,
                      tsCol: String, tieCol: String,
                      agg: DataFrame => DataFrame,
                      chunks: Int = 3,
                      stageKey: Option[String] = None,
                      stopAfterBatches: Option[Int] = None,
                      workDirOpt: Option[File] = None): DataFrame = {
    val in = stagedIn(input, tsCol, tieCol, chunks, stageKey)
    val work = workDirOpt.getOrElse(Scratch.dir("graft-stream-run-"))
    val outDir = new File(work, "out").getAbsolutePath
    runClamped(spark, parts = 8, stopAfterBatches) {
      StreamJobs.parquetAppend(agg(source(spark, input.schema, in)), outDir,
        new File(work, "ckpt").getAbsolutePath)
    }
    spark.read.parquet(outDir)
  }

  /** Replay `input` through `agg` in UPDATE output mode with a
    * MERGE-style upsert sink — the Delta `MERGE` stand-in for serving
    * LIVE aggregates (the still-open candle included), where append
    * mode by design withholds unfinalized windows.
    *
    * Sink mechanics (distributed, no driver-side state): every
    * micro-batch's updated groups append to a parquet change log
    * stamped with the batch id (`foreachBatch`); reading the log back,
    * the latest stamp per `keyCols` wins — exactly how a CDC/upsert
    * table resolves. At 100 TB the log would be a [[graft.util.Lake]]
    * merge table instead, compacted by [[graft.util.Lake.mergeCompact]]
    * through the manifest.
    *
    * Determinism: a group updates at most once per micro-batch, so
    * (key → max batch id) picks exactly one row; the final resolved
    * view is the aggregation state after the last batch — which, with
    * a chronological replay (nothing late, nothing evicted before its
    * last update), equals the BATCH aggregation over the whole input.
    * The oracle therefore needs NO watermark-finalization filter,
    * complementing [[replayAggregate]]'s append-mode gates.
    */
  def replayUpdate(spark: SparkSession, input: DataFrame,
                   tsCol: String, tieCol: String,
                   agg: DataFrame => DataFrame, keyCols: Seq[String],
                   chunks: Int = 3,
                   stageKey: Option[String] = None): DataFrame = {
    val in = stagedIn(input, tsCol, tieCol, chunks, stageKey)
    val work = Scratch.dir("graft-stream-run-")
    val logDir = new File(work, "uplog").getAbsolutePath
    runClamped(spark, parts = 8) {
      agg(source(spark, input.schema, in)).writeStream
        .outputMode("update")
        .option("checkpointLocation", new File(work, "ckpt").getAbsolutePath)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          batch.withColumn("__batch", lit(id))
            .write.mode("append").parquet(logDir)
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // upsert resolution: latest change-log row per key
    val log = spark.read.parquet(logDir)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keyCols.map(col): _*).orderBy(col("__batch").desc)
    log.withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .drop("__rn", "__batch")
  }

  /** Injected mid-micro-batch crash for the kill-point matrix: the
    * stream dies with THIS exception at a chosen (batch, phase),
    * leaving the sink exactly as a real executor/driver loss would —
    * phase `"before"` crashes with none of the batch's store work
    * done, `"after-apply"` with the store updated but the micro-batch
    * UNCOMMITTED (the re-delivery case the store ledger exists for),
    * `"after-compact"` additionally after the auto-compaction rewrite.
    * A restart on the same checkpoint + store must converge to the
    * uninterrupted run's answers.
    */
  final class InjectedKill(msg: String) extends RuntimeException(msg)

  /** Replay `input` (sorted by `orderCol`, `tieCol`) as a file stream
    * folding each micro-batch into a persisted
    * [[graft.util.ShardedStore]] — the incremental-view-maintenance
    * alternative to a stateful streaming aggregation: the store IS the
    * state, updated per batch with O(batch) work, served by readers at
    * any moment through a committed generation. One replay loop for
    * every store family (candles, ANN, near-dup, containment, edit,
    * search index, vocabulary, seen spans, reference grams, DSIR
    * target, NB model, PCA moments, residual moments, quantile
    * summaries, heavy hitters, Bloom filters, HLL sketches, the merge
    * table).
    *
    * Exactly-once end to end on plain parquet: batch 0 builds the
    * store with its own shard id as the ledger, every later batch
    * extends it under its batch id as the ledgered shard id, and Structured Streaming re-runs a failed
    * micro-batch with the SAME batch id — so the re-application is a
    * ledger no-op (the foreachBatch idempotent-sink contract).
    *
    * `resume = true` makes the whole replay idempotent ACROSS
    * invocations, not just across Spark's own micro-batch retries: when
    * the store's ledger proves a previous replay of the same input
    * already built it ([[graft.util.ShardedStore.builtOnManifest]]),
    * batch 0 skips the re-init and batches 1+ fall through to their
    * ledgered no-ops.
    * Only valid when the input and chunking are unchanged — the same
    * contract a resumed checkpoint has.
    *
    * `autoCompact > 0` runs the store's compaction policy after every
    * batch (default on): each extend adds files, and without a policy
    * the live tree — and every later read's listing or stats scan —
    * grows without bound. Compaction preserves answers and the ledger.
    *
    * `killPoint = Some((batch, phase))` crashes the stream with an
    * [[InjectedKill]] there; `workDirOpt` pins the checkpoint dir so a
    * later call with the same dir (and `stageKey`, so the staged input
    * files are the ones the checkpoint recorded) resumes the crashed
    * run. The store at `store.path` stays live for queries or further
    * shards.
    */
  def replayIntoStore(spark: SparkSession, input: DataFrame,
                      orderCol: String, tieCol: String,
                      store: ShardedStore,
                      chunks: Int = 3,
                      stageKey: Option[String] = None,
                      resume: Boolean = false,
                      autoCompact: Int = 64,
                      killPoint: Option[(Long, String)] = None,
                      workDirOpt: Option[File] = None): Unit = {
    val in = stagedIn(input, orderCol, tieCol, chunks, stageKey)
    val work = workDirOpt.getOrElse(Scratch.dir("graft-stream-run-"))
    def kill(id: Long, phase: String): Unit =
      if (killPoint.contains((id, phase)))
        throw new InjectedKill(s"injected kill at batch $id phase $phase")
    runClamped(spark, parts = 8) {
      source(spark, input.schema, in).writeStream
        .option("checkpointLocation", new File(work, "ckpt").getAbsolutePath)
        .foreachBatch { (batch: DataFrame, id: Long) =>
          kill(id, "before")
          if (id > 0) store.extend(batch, Some(ShardedStore.shardId(id)))
          else if (!(resume && ShardedStore.builtOnManifest(spark, store.path)))
            store.build(batch, Set(ShardedStore.shardId(0)))
          kill(id, "after-apply")
          if (autoCompact > 0) store.compact(spark, autoCompact)
          kill(id, "after-compact")
        }
        .trigger(Trigger.AvailableNow())
        .start()
    }
  }

  /** Replay `input` as TWO independent file streams over the same
    * chronological chunks and run a stream-STREAM query built by
    * `join` (each side gets its own source, watermark, and state) —
    * the harness that lets the DuckDB oracle check a real
    * stream-stream join (SURVEY §2.7 / the reference's arbitrage
    * spread).
    *
    * Why the emitted set is deterministic for an INNER join: matches
    * emit when the later row arrives (no watermark gating on inner
    * emission), the query watermark is the MIN across both sources so
    * neither side's state evicts rows the lagging side still needs,
    * and the chronological replay means no row is ever late. The
    * append-mode output is therefore exactly the batch join of the
    * two sides — which is what the oracle SQL asserts.
    */
  def replayJoin(spark: SparkSession, input: DataFrame,
                 tsCol: String, tieCol: String,
                 join: (DataFrame, DataFrame) => DataFrame,
                 chunks: Int = 3,
                 stageKey: Option[String] = None): DataFrame = {
    val in = stagedIn(input, tsCol, tieCol, chunks, stageKey)
    val work = Scratch.dir("graft-stream-run-")
    val outDir = new File(work, "out").getAbsolutePath
    def side() = source(spark, input.schema, in)
    // same state-partition sizing rationale as runClamped documents,
    // but HALVED: a stream-stream join commits FOUR state stores per
    // partition per micro-batch (left/right × keyToNumValues/
    // keyWithIndexToValue), so at equal partition counts the join
    // replay pays 4× the aggregate replay's commit floor
    runClamped(spark, parts = 4) {
      StreamJobs.parquetAppend(join(side(), side()), outDir,
        new File(work, "ckpt").getAbsolutePath)
    }
    spark.read.parquet(outDir)
  }
}
