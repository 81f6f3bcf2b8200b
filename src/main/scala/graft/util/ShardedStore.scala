package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A persisted store that a stream maintains one micro-batch at a time
  * — the contract [[graft.streaming.StreamedBatch.replayIntoStore]]
  * drives, and the only lifecycle entry a store family exposes:
  *
  *  - `build(df, applied)` initializes the store from its first
  *    tranche (clearing any previous epoch, so its own retry is
  *    idempotent) and commits it with `applied` as the ledger; a
  *    replay passes batch 0's shard id, so a resumed replay can prove
  *    the build happened;
  *  - `extend(df, shardId)` folds a later tranche in; a ledgered
  *    `shardId` turns a re-delivery into a no-op instead of a double
  *    application — the foreachBatch idempotent-sink rule, with the
  *    idempotence implemented by the store's ledger. `None` appends
  *    without a ledger entry;
  *  - `compact` is the store's own reading of the one auto-compaction
  *    threshold (live files per appended sub, live merge files).
  *
  * Every store commits through [[Manifest]], so whether a previous
  * replay's batch-0 build is on disk is one question for all of them:
  * [[ShardedStore.builtOnManifest]].
  *
  * Two kinds of store share this contract:
  *
  *  - ADDITIVE stores ([[ShardedStore.additive]]): a tranche's rows
  *    are a pure function of the tranche (and of what the build
  *    pinned), readers merge shards by summation or union, and so
  *    build and extend are the same shard write under `Manifest.init`
  *    or `Manifest.extend`. The vocabulary, the NB model, the DSIR
  *    target, the quantile summaries, the heavy-hitter sketches, the
  *    Bloom filters, the PCA and IVF-residual moments, the HLL
  *    sketches, the ANN index (codes appended against its pinned
  *    quantizers) and the edit index (strings and segments under its
  *    pinned distance) are additive.
  *  - Stores whose build and extend differ in kind
  *    ([[ShardedStore.onManifest]] and the merge table) keep their own
  *    code: the gram, span and near-dup stores read what is stored to
  *    shape a shard (anti-join or pair verification against it), the
  *    containment index derives its frozen `(df, h)` order from the
  *    build's own shingle pass (pinning it before the commit would
  *    shingle the build tranche twice), the candle store re-merges the
  *    dates a batch touches, the merge table upserts, and the text
  *    index lists the files its shard landed to commit their
  *    term-range stats.
  *
  * Each store's instance lives next to the shard code it wraps, so the
  * subs a store appends are named only in the operator that writes
  * them.
  */
final case class ShardedStore(path: String,
                              init: (DataFrame, Set[String]) => Unit,
                              append: (DataFrame, Option[String]) => Unit,
                              compact: (SparkSession, Int) => Unit) {
  def build(df: DataFrame, applied: Set[String] = Set.empty): Unit =
    init(df, applied)
  def extend(df: DataFrame, shardId: Option[String]): Unit =
    append(df, shardId)
}

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
    * time, with its own `init` (a [[Manifest.init]] under the given
    * ledger) and `append` (a [[Manifest.extend]] or
    * [[Manifest.replace]] under the given shard id). Compaction is the
    * file-count policy on each sub ([[Manifest.autoCompactSub]];
    * row-preserving, so answers and the ledger are untouched).
    */
  def onManifest(path: String, subs: String*)(init: (DataFrame, Set[String]) => Unit,
                 append: (DataFrame, Option[String]) => Unit): ShardedStore =
    ShardedStore(path, init, append,
      compact = (spark, threshold) =>
        subs.foreach(sub => Manifest.autoCompactSub(spark, path, sub, threshold)))

  /** What an additive store's build fixes for the store's whole life —
    * a feature space, a filter geometry, a frozen cell layout. `fit`
    * derives it from the build's tranche before [[Manifest.init]],
    * `save` writes it inside the build's commit, and every extend
    * `load`s it back from the committed head, so no extend can run
    * against values the build did not pin.
    */
  final case class Pin[P](fit: DataFrame => P,
                          save: (SparkSession, P) => Unit,
                          load: SparkSession => P)

  object Pin {
    /** A store whose shards depend on nothing but the tranche. */
    val none: Pin[Unit] = Pin(_ => (), (_, _) => (), _ => ())
  }

  /** An additive store: `write(df, tag, pinned)` appends one shard's
    * own rows under `subs` — the build under tag `"_base"`, an extend
    * under its shard id (`"_anon"` when it has none) — and readers
    * merge the shards. The build is [[Manifest.init]] around the
    * write (which clears any previous epoch, ledger included), an
    * extend is [[Manifest.extend]] around it (a ledgered shard id
    * already applied skips the write), so the two can differ in
    * nothing but the commit.
    */
  def additive[P](path: String, subs: String*)(pin: Pin[P])(
      write: (DataFrame, String, P) => Unit): ShardedStore =
    onManifest(path, subs: _*)(
      (df, applied) => {
        val spark = df.sparkSession
        val p = pin.fit(df)
        Manifest.init(spark, path, applied) {
          pin.save(spark, p)
          write(df, "_base", p)
        }
      },
      (df, shardId) => {
        val spark = df.sparkSession
        Manifest.extend(spark, path, shardId) {
          write(df, shardId.getOrElse("_anon"), pin.load(spark))
        }
        ()
      })
}
