package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.ShardedStore
import org.apache.spark.util.sketch.BloomFilter

/** Persisted Bloom-filter MEMBERSHIP store — the semi-join reduction
  * of [[Relational.bloomPrefilterJoin]] with the filter maintained
  * incrementally instead of rebuilt per query. The daily shape: the
  * dimension's key set grows by shards (new customers, new allowed
  * ids); each shard contributes its OWN filter over just its keys,
  * and serving merges the shard filters by bitwise OR — Bloom filters
  * over the SAME geometry (bit width, hash count) are
  * union-mergeable, so the merged filter is exactly the filter of the
  * union of keys. The indexed keys are never re-scanned.
  *
  * Geometry is fixed at build time (`expectedKeys`, `fpp`) and every
  * extend reuses it — the mergeability precondition. Overfilling past
  * `expectedKeys` degrades the false-POSITIVE rate only: membership
  * answers stay one-sided (`false` = definitely absent), so the
  * downstream exact join keeps results bit-identical to the
  * unfiltered join at any fill level (the [[bloomStoreJoin]] gate
  * proves that; size the capacity for the key volume you expect).
  *
  * Commits ride [[graft.util.Manifest]] generations, like every
  * persisted index here: atomic shard visibility, crash-safe blind
  * retries, ledgered re-delivery no-ops, and `asOf` time travel
  * (yesterday's membership set, unperturbed by today's extend).
  *
  *   <path>/filter/  (shard_id, n_keys, expected, fpp, bits binary)
  *   <path>/_meta/   generation manifests (graft.util.Manifest)
  *
  * Scale shape: a shard's filter build is Spark's distributed
  * `stat.bloomFilter` aggregation (map-side partial filters OR-merged
  * up the tree); the driver holds one filter of ~1.2 MB per million
  * expected keys at 3% fpp — bounded by the declared capacity, not
  * the corpus. Serving ships the merged filter once per executor
  * ([[graft.functions.BloomHolder]]) and tests membership inside the
  * scan's WholeStageCodegen span
  * ([[graft.functions.BloomMightContainLong]]).
  */
object Bloom {

  private def filterPath(p: String) = s"$p/filter"

  private def writeShard(dim: DataFrame, keyCol: String, path: String,
                         shardId: String, expected: Long, fpp: Double): Unit = {
    val spark = dim.sparkSession
    import spark.implicits._
    val nKeys = dim.select(col(keyCol)).filter(col(keyCol).isNotNull).count()
    val bloom = dim.stat.bloomFilter(keyCol, expected, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    Seq((shardId, nKeys, expected, fpp, bos.toByteArray))
      .toDF("shard_id", "n_keys", "expected", "fpp", "bits")
      .coalesce(1)
      .write.mode("append").parquet(filterPath(path))
  }

  /** The membership store as a [[graft.util.ShardedStore]] — allow-list
    * / dimension-key maintenance, batch or streamed: the build fixes the
    * filter geometry (`expectedKeys`, `fpp`) for the store's whole life
    * — size it for the EVENTUAL key volume, not the first shard (a
    * too-small capacity only raises fpp, never breaks exactness) — and
    * every extend builds one filter over its SHARD only, at the
    * geometry read back from the committed base row. A re-delivered
    * ledgered shard is a no-op (a doubled shard would not change the
    * OR-union, but it doubles the stored rows and read-side merge
    * work). Bloom union is an OR over fixed geometry, so the merged
    * filter equals a one-shot build over everything folded in,
    * whatever the file layout.
    */
  def bloomStore(path: String, keyCol: String,
                 expectedKeys: Long = 1000000L,
                 fpp: Double = 0.03): ShardedStore = {
    val geometry = ShardedStore.Pin[(Long, Double)](
      fit = _ => (expectedKeys, fpp),
      save = (_, _) => (),
      load = { spark =>
        val base = graft.util.Manifest.read(spark, path, "filter")
          .select("expected", "fpp").head()
        (base.getLong(0), base.getDouble(1))
      })
    ShardedStore.additive(path, "filter")(geometry) { case (dim, tag, (expected, p)) =>
      writeShard(dim, keyCol, path, tag, expected, p)
    }
  }

  /** The merged membership filter of one committed generation: shard
    * filters OR-merged in shard_id order (the union is commutative —
    * the order only pins determinism of the byte image). Driver-side:
    * shards × filter-size bytes, bounded by the declared capacity.
    */
  def mergedFilter(spark: SparkSession, path: String,
                   asOf: Option[Int] = None): BloomFilter = {
    val rows = graft.util.Manifest.read(spark, path, "filter", asOf)
      .select("shard_id", "bits").collect()
      .sortBy(_.getString(0))
    require(rows.nonEmpty, s"empty bloom store at $path")
    val filters = rows.map(r => BloomFilter.readFrom(
      new java.io.ByteArrayInputStream(r.getAs[Array[Byte]]("bits"))))
    filters.reduce { (a, b) => a.mergeInPlace(b); a }
  }

  /** Drop `fact` rows whose `factKey` is definitely NOT in the stored
    * key set — the scan-side semi-join reduction, membership compiled
    * into WholeStageCodegen. Keeps possible members (one-sided error:
    * false positives pass through, to be removed by whatever exact
    * operation follows).
    */
  def semiFilter(fact: DataFrame, factKey: String, path: String,
                 asOf: Option[Int] = None): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val bloom = mergedFilter(fact.sparkSession, path, asOf)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val holder = new graft.functions.BloomHolder(bos.toByteArray)
    fact.filter(ColumnBridge.column(
      graft.functions.BloomMightContainLong(
        ColumnBridge.expression(col(factKey)), holder)))
  }

  /** [[Relational.bloomPrefilterJoin]] served from the STORE: prefilter
    * the fact scan with the merged stored filter, then the exact
    * equi-join. Bit-identical to the unfiltered join whenever the
    * store's key set covers `dim`'s join keys (false positives are
    * removed by the join; false negatives cannot exist for stored
    * keys) — the gate asserts exactly that against the plain-join
    * oracle.
    */
  def bloomStoreJoin(fact: DataFrame, dim: DataFrame,
                     factKey: String, dimKey: String, path: String,
                     asOf: Option[Int] = None): DataFrame =
    semiFilter(fact, factKey, path, asOf)
      .join(dim, col(factKey) === col(dimKey))
}
