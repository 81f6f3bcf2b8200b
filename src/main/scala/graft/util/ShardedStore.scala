package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persisted store that a stream maintains one micro-batch at a time
  * — the contract [[graft.streaming.StreamedBatch.replayIntoStore]]
  * drives:
  *
  *  - `build` initializes the store from batch 0 (Overwrite, so its
  *    own retry is idempotent; micro-batches commit in order, so batch
  *    0 can only re-run before batch 1 exists);
  *  - `extend` folds every later batch in with its batch id as the
  *    ledgered shard id, so a Spark retry re-delivers into a no-op
  *    instead of a double application — the foreachBatch
  *    idempotent-sink rule, with the idempotence implemented by the
  *    store's ledger;
  *  - `compact` is the store's own reading of the one auto-compaction
  *    threshold (live files per appended sub, live merge files).
  *
  * Every store commits through [[Manifest]], so whether a previous
  * replay's batch-0 build is on disk is one question for all of them:
  * [[ShardedStore.builtOnManifest]].
  *
  * Each store's instance lives next to the build/extend code it wraps,
  * so the subs a store appends are named only in the operator that
  * writes them.
  */
final case class ShardedStore(path: String,
                              build: DataFrame => Unit,
                              extend: (DataFrame, String) => Unit,
                              compact: (SparkSession, Int) => Unit)

object ShardedStore {

  /** The shard id of replay micro-batch `id`; batch 0's is the build's
    * ledger stamp.
    */
  def shardId(id: Long): String = s"replay-batch-$id"

  /** True when a previous replay's batch-0 build is provably on disk —
    * the store's ledger carries batch 0's stamp — so a resumed replay
    * of the same input may skip the re-init, which would otherwise
    * clear the ledger and force every batch to re-apply.
    */
  def builtOnManifest(spark: SparkSession, path: String): Boolean =
    Manifest.isManaged(spark, path) &&
      Manifest.applied(spark, path).contains(shardId(0))

  /** A [[Manifest]]-managed store whose `subs` change one shard at a
    * time. `init` builds the store from batch 0 and commits it as
    * generation 0 with the given ledger — batch 0's shard id — so a
    * later replay of the same input (fresh checkpoint, batch ids
    * reassigned identically by the deterministic chunking) can prove
    * the build happened, at the cost of one commit. Compaction is the
    * file-count policy on each sub ([[Manifest.autoCompactSub]];
    * row-preserving, so answers and the ledger are untouched).
    */
  def onManifest(path: String, subs: String*)(init: (DataFrame, Set[String]) => Unit,
                 append: (DataFrame, String) => Unit): ShardedStore =
    ShardedStore(path,
      build = init(_, Set(shardId(0))),
      extend = append,
      compact = (spark, threshold) =>
        subs.foreach(sub => Manifest.autoCompactSub(spark, path, sub, threshold)))
}
