package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.ShardedStore

/** Mergeable ε-approximate quantile summaries over a numeric column —
  * the percentile-serving path for a 100 TB corpus: each data shard
  * reduces to a rank-spaced weighted sample (size n·ε⁻¹… i.e. ~n/r
  * rows, bytes per billion values at practical ε), shards merge by
  * plain union, and any quantile of the full corpus is then answered
  * from the summary store alone with a PROVABLE rank-error bound —
  * the corpus is never rescanned at query time.
  *
  * Construction (deterministic — no sampling, no RNG): the shard's
  * values are globally sorted (range exchange + in-partition sort, the
  * distributed sort Spark already does well), and every r-th order
  * statistic is kept carrying weight r, plus the maximum with the
  * remainder weight so the summary's total weight equals the shard
  * count EXACTLY. Selecting the k-th smallest of a multiset is
  * partitioning-independent, so the emitted summary is a pure function
  * of (shard multiset, r) — hash-stable across runs and layouts.
  *
  * Error contract: serving rank q·N from the merged store is off by at
  * most R = Σᵢ rᵢ ranks (each shard's gap between kept order
  * statistics) — asserted per query in [[quantileCheck]] against exact
  * ranks recomputed from the corpus.
  *
  * The store follows the repo's shard lifecycle (vocab / NB / HLL /
  * moments): one build, shard extends, streaming maintenance via
  * [[quantileStore]] in [[graft.streaming.StreamedBatch.replayIntoStore]]
  * — all committed through [[graft.util.Manifest]] generations (atomic
  * visibility, crash-safe retries, ledgered re-delivery, time travel).
  *
  *   <path>/summary/   (shard_id, shard_uid, value, weight, shard_n, r)
  *   <path>/_meta/     generation manifests (graft.util.Manifest)
  */
object Quantiles {

  private def summaryPath(p: String) = s"$p/summary"

  /** The shard's rank-spaced weighted sample as local rows:
    * every r-th order statistic with weight r, plus the max with the
    * remainder weight (total weight = n exactly). `r` adapts to the
    * shard: max(1, ceil(n·eps)), so the summary is ~1/eps rows
    * whatever the shard size and the merged store's rank-error bound
    * is ~eps·N.
    *
    * Two jobs over the shard: a per-partition count (P longs to the
    * driver — bounded by parallelism, not rows) to place each
    * partition's global rank offset, then a map-only emit pass over
    * the same sorted layout. Nothing row-proportional ever reaches
    * the driver.
    */
  private def shardSummary(df: DataFrame, valueCol: String,
                           eps: Double): (Long, Long, Array[(Double, Long)]) = {
    val spark = df.sparkSession
    import spark.implicits._
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val sorted = vals.repartitionByRange(parts, col("v"))
      .sortWithinPartitions("v").as[Double]
      .rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = sorted.mapPartitionsWithIndex { (pid, it) =>
        Iterator((pid, it.size.toLong))
      }.collect().sortBy(_._1).map(_._2)
      val n = counts.sum
      require(n > 0, "cannot summarize an empty shard")
      val r = math.max(1L, math.ceil(n * eps).toLong)
      val offsets = counts.scanLeft(0L)(_ + _)
      val picked = sorted.mapPartitionsWithIndex { (pid, it) =>
        val off = offsets(pid)
        it.zipWithIndex.flatMap { case (v, i) =>
          val rank = off + i + 1 // 1-based global rank
          val keep = rank % r == 0
          val isLast = rank == n && n % r != 0
          if (keep && isLast) Iterator((v, r), (v, n % r))
          else if (keep) Iterator((v, r))
          else if (isLast) Iterator((v, n % r))
          else Iterator.empty
        }
      }.collect()
      (n, r, picked)
    } finally { sorted.unpersist(); () }
  }

  private def writeShard(df: DataFrame, valueCol: String, path: String,
                         shardId: String, eps: Double): Unit = {
    val spark = df.sparkSession
    import spark.implicits._
    // empty shard (a streaming micro-batch with no non-null values):
    // contribute nothing — the manifest commit still records the shard
    // id, matching the heavy-hitter/PCA stores' tolerance instead of
    // crashing the maintenance loop on a quiet batch
    if (df.select(col(valueCol)).filter(col(valueCol).isNotNull).isEmpty) return
    val (n, r, rows) = shardSummary(df, valueCol, eps)
    // shard_uid keeps anonymous shards distinct in the bound math: the
    // ledgered path's id is already unique, the no-ledger fallback gets
    // a fresh uid per physical write (not exposed in any served answer)
    val uid = if (shardId == "_anon")
      s"_anon-${java.util.UUID.randomUUID()}" else shardId
    rows.toSeq.map { case (v, w) => (shardId, uid, v, w, n, r) }
      .toDF("shard_id", "shard_uid", "value", "weight", "shard_n", "r")
      .coalesce(1)
      .write.mode("append").parquet(summaryPath(path))
  }

  /** The quantile-summary store as a [[graft.util.ShardedStore]] —
    * continuous percentile maintenance, batch or streamed: the build
    * summarizes the first tranche, every extend sorts only its SHARD
    * (the indexed corpus is never re-read) and appends the shard's own
    * summary rows. A re-delivered ledgered shard is a no-op (doubled
    * weight would shift every served rank by a whole shard), a racing
    * reader keeps the previous generation, and an EMPTY shard commits
    * its ledger id without contributing rows. Summaries merge by union,
    * so serving from the store (and from a row-preserving compaction
    * of it) carries the Σrᵢ rank-error contract ([[quantileCheck]]).
    */
  def quantileStore(path: String, valueCol: String,
                    eps: Double = 0.01): ShardedStore =
    ShardedStore.additive(path, "summary")(ShardedStore.Pin.none) {
      (df, tag, _) => writeShard(df, valueCol, path, tag, eps)
    }

  /** The merged summary, collected and value-sorted — bounded by
    * construction at Σᵢ (1/eps + 1) rows, independent of corpus size.
    * Returns (rows sorted by (value, weight), N = Σ weight,
    * R = Σ per-shard r, nShards).
    */
  private def loadSummary(spark: SparkSession, path: String,
                          asOf: Option[Int] = None)
      : (Array[(Double, Long)], Long, Long, Int) = {
    val rows = graft.util.Manifest.read(spark, path, "summary", asOf)
      .select("shard_uid", "value", "weight", "r").collect()
      .map(r => (r.getString(0), r.getDouble(1), r.getLong(2), r.getLong(3)))
    // per-UID grouping: distinct anonymous shards stay distinct, so R
    // and the shard count never undercount
    val byShard = rows.groupBy(_._1)
    val bigR = byShard.values.map(_.head._4).sum
    val sorted = rows.map(r => (r._2, r._3)).sortBy(identity)
    (sorted, rows.map(_._3).sum, bigR, byShard.size)
  }

  /** The serving rule — the smallest summary value whose cumulative
    * weight reaches ⌈q·N⌉ — in ONE place, so the contract check
    * validates the path that actually serves. Returns (value, target
    * rank).
    */
  private def servedAt(sorted: Array[(Double, Long)], cum: Array[Long],
                       n: Long, q: Double): (Double, Long) = {
    require(q >= 0d && q <= 1d, s"quantile out of range: $q")
    val target = math.max(1L, math.ceil(q * n).toLong)
    val idx = cum.indexWhere(_ >= target)
    (sorted(if (idx < 0) sorted.length - 1 else idx)._1, target)
  }

  /** Serve quantiles from the store alone — zero corpus jobs: the
    * smallest summary value whose cumulative weight reaches ⌈q·N⌉
    * (the weighted lower quantile; deterministic for a given shard
    * set). Returns one row per q: (q, value, n, rank_error_bound).
    */
  def quantilesFromStore(spark: SparkSession, path: String,
                         qs: Seq[Double],
                         asOf: Option[Int] = None): DataFrame = {
    val (sorted, n, bigR, _) = loadSummary(spark, path, asOf)
    val cum = sorted.scanLeft(0L)(_ + _._2).tail
    val out = qs.map { q => Row(q, servedAt(sorted, cum, n, q)._1, n, bigR) }
    spark.createDataFrame(
      java.util.Arrays.asList(out: _*),
      StructType(Seq(StructField("q", DoubleType, nullable = false),
        StructField("value", DoubleType, nullable = false),
        StructField("n", LongType, nullable = false),
        StructField("rank_error_bound", LongType, nullable = false))))
  }

  /** Driver-visible contract of the store, ONE row:
    *
    *  - `weights_ok`: the merged summary's total weight equals the
    *    exact corpus count — nothing double-counted (the re-delivered
    *    shard appended nothing) and nothing lost;
    *  - `bound_ok`: for every q in `qs`, the served value's EXACT rank
    *    interval [#(v < x)+1, #(v ≤ x)] overlaps [⌈q·N⌉ − R, ⌈q·N⌉ + R]
    *    — the ε-contract, checked against ranks recomputed from the
    *    corpus in one aggregate pass;
    *  - `shards_ok`: the store holds exactly `expectShards` shard
    *    summaries (ledger worked);
    *  - `ends_exact`: q=0⁺ and q=1 serve values within the corpus
    *    min/max (sanity of the remainder-weight tail handling).
    */
  def quantileCheck(df: DataFrame, valueCol: String, path: String,
                    qs: Seq[Double], expectShards: Int): DataFrame = {
    val spark = df.sparkSession
    val (sorted, n, bigR, nShards) = loadSummary(spark, path)
    val cum = sorted.scanLeft(0L)(_ + _._2).tail
    val served = qs.map { q =>
      val (v, target) = servedAt(sorted, cum, n, q)
      (q, v, target)
    }
    val vals = df.select(col(valueCol).cast("double").as("v"))
      .filter(col("v").isNotNull)
    // one aggregate pass computes every served value's exact rank
    // interval plus corpus count/min/max — bounded driver state
    val aggs = vals.agg(
      count(lit(1)).as("cnt"), min(col("v")).as("mn"), max(col("v")).as("mx"),
      struct(served.zipWithIndex.map { case ((_, x, _), i) =>
        count(when(col("v") < x, 1)).as(s"lt_$i")
      }: _*).as("lt"),
      struct(served.zipWithIndex.map { case ((_, x, _), i) =>
        count(when(col("v") <= x, 1)).as(s"le_$i")
      }: _*).as("le")).head()
    val exactN = aggs.getLong(0)
    val (mn, mx) = (aggs.getDouble(1), aggs.getDouble(2))
    val lt = aggs.getStruct(3); val le = aggs.getStruct(4)
    val boundOk = served.zipWithIndex.forall { case ((_, _, target), i) =>
      val lo = lt.getLong(i) + 1
      val hi = le.getLong(i)
      // rank interval of the served value vs the target ± R window
      lo <= target + bigR && hi >= target - bigR
    }
    val endsOk = served.forall { case (_, x, _) => x >= mn && x <= mx }
    spark.createDataFrame(
      java.util.List.of(Row(n == exactN, boundOk, nShards == expectShards, endsOk)),
      StructType(Seq("weights_ok", "bound_ok", "shards_ok", "ends_exact")
        .map(StructField(_, BooleanType, nullable = false))))
  }
}
