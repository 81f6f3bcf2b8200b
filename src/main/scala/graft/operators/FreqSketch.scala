package graft.operators

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** Bounded-memory frequent-items (heavy-hitter) sketch: Misra-Gries
  * with `k` counters, as a typed `Aggregator` so it drops into
  * `groupBy().agg()` via `functions.udaf` (the §2.10 extension surface,
  * like [[VwapAggregator]]).
  *
  * Why a sketch: "top sellers over 100 TB of events" via exact
  * `groupBy(item).count()` shuffles every distinct item; the
  * Misra-Gries summary caps state at `k` counters PER PARTIAL — the
  * partial-aggregation contract (zero/reduce/merge) Catalyst already
  * runs means map-side partials stay bounded and only k-entry maps
  * cross the shuffle, like `approx_count_distinct`'s HLL registers.
  *
  * Guarantees (mergeable-summaries form, Agarwal et al., PODS'12):
  * with true count c(x) over N rows, the sketch estimate ĉ(x) satisfies
  * `c(x) − N/(k+1) ≤ ĉ(x) ≤ c(x)`, so every x with `c(x) > N/(k+1)`
  * is present in the output — no false negatives above the threshold.
  * When the column's true cardinality is ≤ k no decrement ever fires
  * and every count is EXACT (what the q_heavy_hitters gate exploits to
  * hash-match the DuckDB GROUP BY oracle).
  *
  * The merge rule (sum counters, then subtract the (k+1)-th largest
  * count from all and drop the non-positive) is the associative,
  * error-additive combination from the mergeable-summaries paper —
  * NOT a rescan, so any partial/merge tree Catalyst picks yields the
  * same bound.
  */
object FreqSketch {

  class MisraGries(k: Int)
      extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    require(k > 0, "MisraGries: k must be positive")

    override def zero: Map[String, Long] = Map.empty

    override def reduce(b: Map[String, Long], x: String): Map[String, Long] =
      b.get(x) match {
        case Some(c)              => b.updated(x, c + 1)
        case None if b.size < k   => b.updated(x, 1L)
        // classic MG step: a miss with a full table decrements every
        // counter (the new item and one unit of each survivor "cancel")
        case None =>
          b.flatMap { case (key, c) => if (c > 1) Some(key -> (c - 1)) else None }
      }

    override def merge(b1: Map[String, Long], b2: Map[String, Long]): Map[String, Long] = {
      val summed = b2.foldLeft(b1) { case (acc, (key, c)) =>
        acc.updated(key, acc.getOrElse(key, 0L) + c)
      }
      if (summed.size <= k) summed
      else {
        // subtract the (k+1)-th largest count — the smallest offset
        // that compacts back to ≤ k entries
        val m = summed.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
        summed.flatMap { case (key, c) => if (c - m > 0) Some(key -> (c - m)) else None }
      }
    }

    override def finish(r: Map[String, Long]): Map[String, Long] = r

    override def bufferEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      ExpressionEncoder[Map[String, Long]]()
  }

  // ── persisted heavy-hitter store ────────────────────────────────────
  //
  // The sketch's shard-ledger lifecycle (the HLL/quantile/moment store
  // shape): each data shard contributes its capacity-bounded MG summary
  // as rows, shards merge with the error-additive mergeable-summaries
  // rule on read (bounded: shards × capacity entries), and re-delivery
  // is a ledgered no-op. Serving exact top-k = merged candidates + one
  // exact recount of that bounded set — provably complete whenever the
  // k-th true count exceeds Σᵢ Nᵢ/(minCap+1) (the merge compacts at
  // the smallest shard capacity), the same bar the one-shot two-pass
  // ([[graft.operators.TextOps.heavyNgrams]]) gates.
  //
  //   <path>/sketch/    (shard_id, shard_uid, item, cnt, shard_n, capacity)
  //   <path>/_meta/     generation manifests (graft.util.Manifest):
  //                     atomic shard commits + ledger + time travel

  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._
  import graft.util.ShardedStore

  private def sketchPath(p: String) = s"$p/sketch"

  /** Widen a narrow-partitioned input to the session's parallelism
    * before a sketch/recount pass: the MG update is embarrassingly
    * parallel (the merge rule is associative and error-additive), but
    * a one-file parquet scan hands the whole pass to ONE task — at
    * gate scale that serialized the sketch (wall ≈ CPU ≈ 6 s
    * measured, cores idle). Conditional: an input already at or above
    * core count (any real corpus) passes through untouched, so no
    * shuffle is added at scale.
    */
  def widenToCores(df: DataFrame): DataFrame = {
    // r16: width is the scale-adaptive rule (see [[Width]]) capped at
    // the session parallelism — a micro-batch of a few hundred docs no
    // longer fans ~40 ms/task of overhead across the whole box per
    // batch per stage, while any at-scale corpus still saturates the
    // cap (the byte estimate of a real corpus exceeds it immediately).
    // When the optimizer has no size estimate, partsFor returns the
    // cap — never narrower than the pre-r16 behavior's intent.
    val p = math.min(df.sparkSession.sparkContext.defaultParallelism,
      Width.partsFor(df, target = 32L * 1024))
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** SELF-DERIVING sketch capacity for a store that must PROVE its
    * exact-top-k serve: the completeness condition needs the k-th
    * heaviest recounted item to clear the merged bound Σ Nᵢ/(cap+1) ≈
    * N/(cap+1), so a capacity fixed while the corpus grows fails the
    * proof one scale-up at a time (the r13 sf0.1 sweep caught the
    * 768-capacity gate store at bound 345 vs k-th 332 — the refusal
    * fired exactly as designed). `cap = max(floor, N/divisor)` pins
    * the bound at ≈ `divisor` regardless of N: any item heavier than
    * ~128 occurrences stays provable forever, and the sketch stays
    * tiny relative to the corpus (N/128 entries ≈ 0.8 % of item rows).
    * The floor keeps small-corpus geometries unchanged.
    *
    * The capacity is CLAMPED at `ceiling` (2²¹ entries ≈ low hundreds
    * of MB of driver map at merge time): a raw `(n/divisor).toInt`
    * silently WRAPS NEGATIVE past n ≈ 2.7e11 items, and an unclamped
    * linear capacity turns [[mergedSketch]]'s driver-side collect into
    * an OOM instead of a loud refusal. Past the ceiling the merged
    * error bound grows with N again, so an over-ceiling corpus that can
    * no longer prove its k-th item simply REFUSES in [[heavyTopKExact]]
    * — the designed failure mode — rather than crashing the driver.
    */
  def capacityFor(nItems: Long, floor: Int = 768,
                  divisor: Int = 128,
                  ceiling: Int = 1 << 21): Int = {
    require(nItems >= 0 && floor > 0 && divisor > 0 && ceiling >= floor)
    math.min(ceiling.toLong, math.max(floor.toLong, nItems / divisor + 1)).toInt
  }

  private def writeShard(items: DataFrame, itemCol: String, path: String,
                         shardId: String, capacity: Int): Unit = {
    val spark = items.sparkSession
    import spark.implicits._
    val mg = udaf(new MisraGries(capacity))
    val row = items.agg(count(lit(1)).as("n"), mg(col(itemCol)).as("sk")).head()
    val n = row.getLong(0)
    // shard_uid keeps anonymous shards distinct in the merge and the
    // bound math (the Quantiles-store idiom): ledgered ids are already
    // unique, the no-ledger fallback gets a fresh uid per write
    val uid = if (shardId == "_anon")
      s"_anon-${java.util.UUID.randomUUID()}" else shardId
    row.getMap[String, Long](1).toSeq
      .map { case (item, c) => (shardId, uid, item, c, n, capacity) }
      .toDF("shard_id", "shard_uid", "item", "cnt", "shard_n", "capacity")
      .coalesce(1)
      .write.mode("append").parquet(sketchPath(path))
  }

  /** The heavy-hitter store as a [[graft.util.ShardedStore]] —
    * continuous dominant-phrase tracking, batch or streamed: the build
    * and every extend run one Misra-Gries sketch pass over their
    * tranche only and append the shard's own summary rows. A
    * re-delivered ledgered shard is a no-op (doubled sketch counts
    * would promote the re-run shard's items), a racing reader keeps the
    * previous generation, and a crash before the commit leaves only
    * unreferenced files. Summaries merge with the error-additive MG
    * rule (file-layout-blind), so exact serving from the store carries
    * the completeness condition of [[heavyTopKExact]].
    *
    * By default a tranche is a documents frame and its items are the
    * word `n`-grams (the doc batch is widened before the explode — a
    * narrow shuffle — so the sketch pass is not one-file-one-task
    * serial). `itemCol = Some(c)` takes tranches whose column `c`
    * already holds the items.
    */
  def heavyStore(path: String, n: Int = 2, capacity: Int = 768,
                 itemCol: Option[String] = None): ShardedStore =
    ShardedStore.additive(path, "sketch")(ShardedStore.Pin.none) {
      (df, tag, _) => itemCol match {
        case Some(c) => writeShard(df, c, path, tag, capacity)
        case None =>
          writeShard(TextOps.ngrams(widenToCores(df), n), "ngram", path, tag, capacity)
      }
    }

  /** The merged store summary: shard maps folded with the MG merge rule
    * in shard-uid order (deterministic for a shard set; the rule
    * itself is associative and error-additive). Returns (candidate
    * map, N = Σ shard_n, error bound Σᵢ Nᵢ/(minCap+1)).
    */
  /** Hard bound on the sketch rows [[mergedSketch]] may pull to the
    * driver (shards × capacity entries). The merge is a driver fold by
    * design — the whole point of the sketch is that this set is tiny —
    * but shard count grows with extend frequency and capacity with
    * corpus size ([[capacityFor]]), so at the 100 TB scale the docs
    * advertise an unbounded collect becomes a silent driver OOM. The
    * guard turns that into a loud refusal naming the fix (compact the
    * shard ledger: re-build the store from the merged summary, which
    * collapses the shard count back to 1).
    */
  val maxMergeRows: Long = 8L << 20

  def mergedSketch(spark: SparkSession, path: String,
                   asOf: Option[Int] = None): (Map[String, Long], Long, Double) = {
    val src = graft.util.Manifest.read(spark, path, "sketch", asOf)
    val nRows = src.count()
    require(nRows <= maxMergeRows, s"mergedSketch: $nRows sketch rows " +
      s"across shards exceed the driver-merge bound $maxMergeRows — " +
      "compact the store (rebuild from the merged summary to collapse " +
      "the shard ledger) before serving")
    val rows = src
      .select("shard_uid", "item", "cnt", "shard_n", "capacity").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getInt(4)))
    require(rows.nonEmpty, "empty heavy-hitter store")
    val byShard = rows.groupBy(_._1).toSeq.sortBy(_._1)
    val minCap = byShard.map(_._2.head._5).min
    val merger = new MisraGries(minCap)
    val merged = byShard.map(_._2.map(r => r._2 -> r._3).toMap)
      .reduce(merger.merge)
    val n = byShard.map(_._2.head._4).sum
    // the merge compacts at minCap, so every shard's contribution to
    // the post-merge error is bounded by Nᵢ/(minCap+1) — using each
    // shard's OWN capacity would understate the bound when capacities
    // differ and let the completeness condition pass vacuously
    val bound = byShard.map(_._2.head._4.toDouble / (minCap + 1)).sum
    (merged, n, bound)
  }

  /** EXACT top-k from the store + one recount: candidates come from
    * the merged sketch (≤ capacity items — the corpus-sized shuffle a
    * plain GROUP BY would pay never happens), their counts recount
    * exactly over `items`, and the answer is provably the true top-k
    * whenever the k-th count clears the merged error bound. That
    * condition is ENFORCED, not assumed: a shortfall REFUSES by
    * default (the store can't be rebuilt at serving time, and the
    * corpus-distinct-sized `GROUP BY` the sketch exists to avoid must
    * not fire implicitly at production scale). A caller that knows its
    * vocabulary is small may opt into the exact full-aggregation
    * fallback by passing `exactFallbackMaxDistinct` > 0 — and even
    * then the fallback only fires after an `approx_count_distinct`
    * probe confirms the vocabulary is under that budget, so
    * "affordable" is measured, not asserted. Never a silently
    * incomplete "exact" answer on any path (at gate scale the
    * candidate-path margin is also spec-asserted; ties break by item
    * text).
    */
  def heavyTopKExact(items: DataFrame, itemCol: String, path: String,
                     k: Int,
                     exactFallbackMaxDistinct: Long = 0L): DataFrame = {
    val spark = items.sparkSession
    val (merged, _, bound) = mergedSketch(spark, path)
    val cands = merged.keys.toSeq
    import spark.implicits._
    // ONE corpus recount (collect ≤ k rows) serves both the bound
    // check and the returned frame — a second .collect() would re-run
    // the whole isin-filter + groupBy scan
    val top = items.filter(col(itemCol).isin(cands: _*))
      .groupBy(itemCol).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col(itemCol)).limit(k)
      .as[(String, Long)].collect()
    // completeness: every item with true count > bound survives in the
    // merged sketch, so if the recounted k-th candidate clears the
    // bound, no non-candidate can out-count it — the top-k is the true
    // top-k. k-th below the bound means candidates may be missing.
    val proven = top.lastOption.forall(_._2.toDouble > bound)
    if (proven) top.toSeq.toDF(itemCol, "cnt")
    else {
      val kth = top.lastOption.map(_._2).getOrElse(0L)
      require(exactFallbackMaxDistinct > 0, f"heavyTopKExact: k-th " +
        f"recounted count $kth does not clear the merged sketch error " +
        f"bound $bound%.1f — store capacity is too small for this " +
        "corpus. Rebuild the store with a larger capacity, or opt into " +
        "the exact full-aggregation fallback by passing " +
        "exactFallbackMaxDistinct (a distinct-vocabulary budget you " +
        "can afford to GROUP BY).")
      // measured guard: HLL distinct estimate (map-side partials, tiny
      // shuffle) — orders of magnitude cheaper than the exact agg it
      // gates, and it refuses loudly when the vocabulary is genuinely
      // too large rather than launching an unbounded aggregation
      val distinctEst =
        items.agg(approx_count_distinct(col(itemCol)).as("d"))
          .head().getLong(0)
      require(distinctEst <= exactFallbackMaxDistinct,
        s"heavyTopKExact: exact fallback refused — estimated distinct " +
          s"items $distinctEst exceeds the opted-in budget " +
          s"$exactFallbackMaxDistinct; rebuild the store with a larger " +
          "capacity instead")
      org.apache.log4j.Logger.getLogger(getClass).warn(
        s"heavyTopKExact: k-th recounted count $kth does not clear the " +
          f"merged sketch error bound $bound%.1f — serving the exact " +
          s"full-aggregation top-k (estimated distinct $distinctEst ≤ " +
          s"budget $exactFallbackMaxDistinct); consider rebuilding the " +
          "store with a larger capacity")
      items.groupBy(itemCol).agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col(itemCol)).limit(k)
    }
  }

  /** Contract-check row of the store vs the corpus — the quantile
    * store's `weights_ok` idiom for the heavy-hitter family: compares
    * the merged sketch's total N (Σ shard_n) against an exact corpus
    * count. Un-ledgered double application (an anonymous retried
    * extend re-writing its summary under a fresh uid) inflates N and
    * flips `n_ok` false — detectable here without any ledger.
    */
  def heavyStoreCheck(items: DataFrame, itemCol: String,
                      path: String): DataFrame = {
    val spark = items.sparkSession
    import spark.implicits._
    val (_, n, bound) = mergedSketch(spark, path)
    val exact = items.filter(col(itemCol).isNotNull).count()
    Seq((n, exact, n == exact, math.round(bound)))
      .toDF("sketch_n", "corpus_n", "n_ok", "error_bound")
  }
}
