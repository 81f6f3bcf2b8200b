package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class DedupSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val docs: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  /** Naive exact Jaccard over ALL pairs — the O(N²) reference
    * implementation the optimized operators must agree with.
    */
  private def naiveJaccard(d: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sets = d.select(col("doc_id"),
      array_sort(array_distinct(transform(Dedup.shingles(col("text"), n),
        s => xxhash64(s)))).as("hs"))
    sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        functions.size(array_intersect(col("a.hs"), col("b.hs"))).cast("double").as("i"),
        functions.size(col("a.hs")).as("sa"), functions.size(col("b.hs")).as("sb"))
      .withColumn("jaccard", round(col("i") / (col("sa") + col("sb") - col("i")), 6))
      .filter(col("jaccard") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("jaccard"))
  }

  test("exactGroups: one group per distinct text, counts conserve rows") {
    val g = Dedup.exactGroups(docs)
    g.count() shouldBe docs.select("text").distinct().count()
    g.agg(sum("n_dups")).as[Long].head() shouldBe docs.count()
  }

  test("exactRows keeps the min doc_id per text group") {
    val r = Dedup.exactRows(docs)
    r.count() shouldBe docs.select("text").distinct().count()
    // every surviving doc_id is the min of its text group
    val mins = docs.groupBy("text").agg(min("doc_id").as("doc_id"))
    r.join(mins, Seq("text", "doc_id")).count() shouldBe r.count()
  }

  test("ngramJaccard (prefix filter) == naive all-pairs Jaccard") {
    val fast = Dedup.ngramJaccard(docs, n = 2, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    val naive = naiveJaccard(docs, 2, 0.5).orderBy("doc_a", "doc_b").collect()
    fast shouldBe naive
    fast.length should be > 0
  }

  test("ngramJaccard exactness holds at a lower threshold too") {
    val fast = Dedup.ngramJaccard(docs, n = 2, threshold = 0.3)
      .orderBy("doc_a", "doc_b").collect()
    val naive = naiveJaccard(docs, 2, 0.3).orderBy("doc_a", "doc_b").collect()
    fast shouldBe naive
  }

  test("maxShingleDf guard: refuses on a uniformly dense corpus where " +
    "the cap would gut recall; a no-op cap passes unchanged") {
    // every doc shares the same three bigrams (full-corpus df = 50) plus
    // one unique bigram: the 0.5-threshold prefix spans 3 of the 4
    // entries, so a cap of 5 deletes prefix entries for EVERY doc — the
    // silent-5%-answer shape the guard exists to refuse
    val dense = (1 to 50).map(i => (i.toLong, s"alpha beta gamma delta u$i"))
      .toDF("doc_id", "text")
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccard(dense, n = 2, threshold = 0.5, maxShingleDf = 5)
    }
    e.getMessage should include("recall")
    // a cap above every df drops nothing: within budget, results are
    // bit-identical to the uncapped run
    val capped = Dedup.ngramJaccard(dense, n = 2, threshold = 0.5,
      maxShingleDf = 100).orderBy("doc_a", "doc_b").collect()
    val un = Dedup.ngramJaccard(dense, n = 2, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    capped shouldBe un
  }

  test("dense-regime path choice: blocked all-pairs == forced index path " +
      "for jaccard, containment, and cross-set containment") {
    // the sf0.001 documents corpus is shingle-dense (vocab ≈ 900
    // bigrams — raw density ≈ 2.9, so at these thresholds the
    // prefix-scaled statistic clears 1), so the public API takes the
    // blocked all-pairs path; forcing the prefix-index path must give
    // bit-identical frames (both are exact algorithms)
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val probes = docs.filter(col("doc_id") % 10 === 0)
    def all3() = (
      Dedup.ngramJaccard(docs, 2, 0.3).orderBy("doc_a", "doc_b").collect(),
      Dedup.ngramContainment(docs, 2, 0.4).orderBy("doc_a", "doc_b").collect(),
      Dedup.ngramContainmentAcross(corpus, probes, 2, 0.5)
        .orderBy("doc_id", "probe_id").collect())
    val brute = all3()
    val prev = Dedup.denseOverlapCutoff
    val indexed =
      try { Dedup.denseOverlapCutoff = Double.MaxValue; all3() }
      finally Dedup.denseOverlapCutoff = prev
    brute._1 shouldBe indexed._1
    brute._2 shouldBe indexed._2
    brute._3 shouldBe indexed._3
    brute._1.length should be > 0
    brute._3.length should be > 0
  }

  test("overlapDensity separates the regimes: dense corpus ≥ 1, " +
      "open-vocabulary corpus < 1; blocked path plans an equi-join") {
    def sets(d: DataFrame) = d.select(col("doc_id"),
      array_sort(array_distinct(transform(Dedup.shingles(col("text"), 2),
        s => xxhash64(s)))).as("hs"))
    Dedup.overlapDensity(sets(docs))._2 should be >= 1.0
    // disjoint per-doc vocabularies: no two docs share a shingle
    val sparse = (1 to 60).map(i => (i.toLong, s"w${i}a w${i}b w${i}c w${i}d"))
      .toDF("doc_id", "text")
    Dedup.overlapDensity(sets(sparse))._2 shouldBe 0.0
    Dedup.crossOverlapDensity(
      sets(docs.filter(col("doc_id") % 10 =!= 0)),
      sets(docs.filter(col("doc_id") % 10 === 0)))._3 should be >= 1.0
    // the dense branch must be the distributed triangle equi-join,
    // never a cartesian / nested-loop shape (containment t=0.4 takes
    // the dense branch here: 2.9 × (1−0.4) ≥ 1)
    val plan = Dedup.ngramContainment(docs, 2, 0.4)
      .queryExecution.executedPlan.toString
    plan should not include "CartesianProduct"
    plan should not include "BroadcastNestedLoopJoin"
  }

  private def naiveContainment(d: DataFrame, n: Int, threshold: Double): DataFrame = {
    val sets = d.select(col("doc_id"),
      array_sort(array_distinct(transform(Dedup.shingles(col("text"), n),
        s => xxhash64(s)))).as("hs"))
    sets.as("a").crossJoin(sets.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id") &&
        functions.size(col("a.hs")) > 0 && functions.size(col("b.hs")) > 0)
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        functions.size(array_intersect(col("a.hs"), col("b.hs"))).cast("double").as("i"),
        least(functions.size(col("a.hs")), functions.size(col("b.hs"))).as("mn"))
      .withColumn("containment", round(col("i") / col("mn"), 6))
      .filter(col("containment") >= threshold)
      .select(col("doc_a"), col("doc_b"), col("containment"))
  }

  /** Every (corpus, probe) bigram pair scored by exact containment,
    * sorted by (doc_id, probe_id). */
  private def naiveContainmentAcross(corpus: DataFrame, probes: DataFrame,
                                     threshold: Double): Array[Row] = {
    val sh = (d: DataFrame) => d.select(col("doc_id"),
      array_sort(array_distinct(transform(Dedup.shingles(col("text"), 2),
        s => xxhash64(s)))).as("hs"))
    sh(corpus).as("a").crossJoin(sh(probes).as("b"))
      .filter(functions.size(col("a.hs")) > 0 && functions.size(col("b.hs")) > 0)
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("probe_id"),
        functions.size(array_intersect(col("a.hs"), col("b.hs"))).cast("double").as("i"),
        least(functions.size(col("a.hs")), functions.size(col("b.hs"))).as("mn"))
      .withColumn("containment", round(col("i") / col("mn"), 6))
      .filter(col("containment") >= threshold)
      .select("doc_id", "probe_id", "containment")
      .orderBy("doc_id", "probe_id").collect()
  }

  test("ngramContainment (small-side prefix filter) == naive all-pairs " +
      "containment, at two thresholds") {
    for (t <- Seq(0.4, 0.7)) {
      val fast = Dedup.ngramContainment(docs, n = 2, threshold = t)
        .orderBy("doc_a", "doc_b").collect()
      val naive = naiveContainment(docs, 2, t).orderBy("doc_a", "doc_b").collect()
      fast shouldBe naive
      fast.length should be > 0
    }
  }

  test("ngramContainment catches an embedded fragment whose Jaccard is " +
      "far below any Jaccard threshold") {
    import spark.implicits._
    val host = (1 to 200).map(i => s"tok$i").mkString(" ")
    val fragment = (50 to 60).map(i => s"tok$i").mkString(" ")
    val other = (1000 to 1200).map(i => s"tok$i").mkString(" ")
    val d = Seq((1L, host), (2L, fragment), (3L, other)).toDF("doc_id", "text")
    val got = Dedup.ngramContainment(d, n = 2, threshold = 0.9)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    got shouldBe Set((1L, 2L))
    // the same pair is invisible to the Jaccard operator even at 0.2
    Dedup.ngramJaccard(d, n = 2, threshold = 0.2).count() shouldBe 0
    // and the naive containment agrees on the full frame
    Dedup.ngramContainment(d, n = 2, threshold = 0.9)
      .orderBy("doc_a", "doc_b").collect() shouldBe
      naiveContainment(d, 2, 0.9).orderBy("doc_a", "doc_b").collect()
  }

  test("ngramContainmentAcross == naive cross-set containment; " +
      "decontaminateByContainment removes exactly the hosts of planted quotes") {
    import spark.implicits._
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val got = Dedup.ngramContainmentAcross(corpus, bench, n = 2, threshold = 0.5)
      .orderBy("doc_id", "probe_id").collect()
    got shouldBe naiveContainmentAcross(corpus, bench, 0.5)
    // planted quote: a benchmark item embedded verbatim in a long host
    val host = (1 to 300).map(i => s"h$i").mkString(" ") + " " +
      (1 to 12).map(i => s"q$i").mkString(" ")
    val clean = (500 to 700).map(i => s"h$i").mkString(" ")
    val item = (1 to 12).map(i => s"q$i").mkString(" ")
    val cor = Seq((1L, host), (2L, clean)).toDF("doc_id", "text")
    val ben = Seq((100L, item)).toDF("doc_id", "text")
    val surv = Curation.decontaminateByContainment(cor, ben, n = 2, threshold = 0.9)
      .select("doc_id").as[Long].collect().toSet
    surv shouldBe Set(2L)
  }

  test("minhashLsh finds the same pairs as exact Jaccard on this corpus") {
    val lsh = Dedup.minhashLsh(docs, n = 2, threshold = 0.5)
      .orderBy("doc_a", "doc_b").collect()
    val exact = naiveJaccard(docs, 2, 0.5).orderBy("doc_a", "doc_b").collect()
    // LSH is probabilistic-recall by construction; verified values are
    // exact, so any found pair must match the exact result, and on this
    // corpus (near-dup pairs have jaccard >= 0.8, 16 bands x 2 rows)
    // recall is complete
    lsh shouldBe exact
  }

  test("minhashSignatures: deterministic, partitioning-independent") {
    val s1 = Dedup.minhashSignatures(docs, 2, 16).orderBy("doc_id").collect()
    val s2 = Dedup.minhashSignatures(docs.repartition(7), 2, 16).orderBy("doc_id").collect()
    s1 shouldBe s2
  }

  test("simhashPairs: all reported pairs respect maxDist; banding finds planted near-dups") {
    val out = Dedup.simhashPairs(docs, maxDist = 3)
    out.filter(col("hamming") > 3).count() shouldBe 0
    // cross-check against brute-force hamming over full signatures
    val sig = Dedup.simhash(docs)
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= 3)
    out.orderBy("doc_a", "doc_b").collect() shouldBe brute.orderBy("doc_a", "doc_b").collect()
  }

  test("simhashSelfCheck emits the all-zero invariant row") {
    val row = Dedup.simhashSelfCheck(docs, maxDist = 3).collect()
    row.length shouldBe 1
    row.head.getLong(0) shouldBe 0L // missed_vs_brute
    row.head.getLong(1) shouldBe 0L // spurious_vs_brute
    row.head.getLong(2) shouldBe 0L // beyond_maxdist
  }

  test("dupComponents: transitive closure over pair chains, min-id representative") {
    import spark.implicits._
    // chain 1-2-3-4 (1,4 never matched directly), isolated pair 10-11,
    // and a triangle 20-21, 21-22, 20-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("doc_a", "doc_b")
    val got = Dedup.dupComponents(pairs).as[(Long, Long)].collect().toMap
    got shouldBe Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L, 21L -> 20L, 22L -> 20L)
  }

  test("dupComponents converges on a deep chain (pointer-jumping path)") {
    import spark.implicits._
    // a 20-node path: naive propagation needs ~20 rounds, doubling ~5.
    // driverEdgeBound = 0 pins the DISTRIBUTED loop (the small-graph
    // driver fast path would short-circuit the pointer-jumping under test)
    val pairs = (0L until 19L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val got = Dedup.dupComponents(pairs, hotDegree = 65536, driverEdgeBound = 0L)
      .as[(Long, Long)].collect()
    got.length shouldBe 20
    all(got.map(_._2)) shouldBe 0L
  }

  test("dupComponents star graph: hot-key split keeps per-task shuffle reads " +
      "at the even split; labels identical to the unsplit path") {
    import spark.implicits._
    val spokes = 100000L
    // 1 hub (id 0) with 10^5 spokes — the power-law worst case: every
    // propagation join row keys on s=0
    val pairs = spark.range(1L, spokes + 1L)
      .select(lit(0L).as("doc_a"), col("id").as("doc_b"))
      .repartition(16)

    // max records any single task pulls over a shuffle during `body`
    def maxTaskShuffleRead(body: => Unit): Long = {
      val max = new java.util.concurrent.atomic.AtomicLong(0L)
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onTaskEnd(
            t: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          val rec = t.taskMetrics.shuffleReadMetrics.recordsRead
          max.updateAndGet(m => math.max(m, rec))
        }
      }
      // AQE's small-partition coalescing would merge this toy-sized
      // shuffle into ONE task either way, drowning the signal the
      // assertion reads (per-task reads then reflect total size, not
      // key distribution); partition counts stay fixed for the
      // measurement so they reflect the key layout, as at scale
      val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
      val prevCoalesce = spark.conf.get(coalesceKey)
      spark.conf.set(coalesceKey, "false")
      spark.sparkContext.addSparkListener(listener)
      try {
        body
        // listener events are delivered async; settle until the max is
        // stable (collect() already blocked for the jobs themselves)
        var prev = -1L
        var settles = 0
        while (settles < 3) {
          Thread.sleep(200)
          val cur = max.get()
          if (cur == prev) settles += 1 else { settles = 0; prev = cur }
        }
      }
      finally {
        spark.sparkContext.removeSparkListener(listener)
        spark.conf.set(coalesceKey, prevCoalesce)
      }
      max.get()
    }

    var hot: Array[org.apache.spark.sql.Row] = null
    var cold: Array[org.apache.spark.sql.Row] = null
    val hotMax = maxTaskShuffleRead {
      hot = Dedup.dupComponents(pairs, hotDegree = 1000, driverEdgeBound = 0L)
        .orderBy("doc_id").collect()
    }
    val coldMax = maxTaskShuffleRead {
      cold = Dedup.dupComponents(pairs, hotDegree = Int.MaxValue,
        driverEdgeBound = 0L)
        .orderBy("doc_id").collect()
    }
    // same answer either way: every node labels to the hub's min id
    hot shouldBe cold
    hot.length shouldBe spokes + 1
    all(hot.map(_.getLong(1))) shouldBe 0L
    // the unsplit path funnels the hub's whole edge list (and the
    // converged component's whole member list) through single tasks;
    // the split path's per-task reads stay near the even split — the
    // ~N/4 partial-agg floor of this 4-partition session, a third of
    // the straggler load at worst
    coldMax should be >= spokes
    hotMax.toDouble should be < coldMax / 3.0
  }

  test("dupComponents leaves no cached RDDs behind, result stays readable") {
    import spark.implicits._
    val cachedBefore = spark.sparkContext.getPersistentRDDs.keySet
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    // driverEdgeBound = 0: the distributed loop — the per-round caches
    // under test
    val comp = Dedup.dupComponents(pairs, hotDegree = 65536, driverEdgeBound = 0L)
    // the operator owns its per-round caches and releases every one —
    // a long-lived session must not accrete storage per call
    spark.sparkContext.getPersistentRDDs.keySet shouldBe cachedBefore
    // and the returned frame is a real materialization, not a lineage
    // replay: repeated reads agree without any cache backing them
    comp.as[(Long, Long)].collect().toMap shouldBe
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 7L, 8L -> 7L)
    comp.count() shouldBe 5
  }

  test("containment index lifecycle: build + probe == from-scratch " +
      "across; frozen-order extend keeps exactness; ledgered re-apply " +
      "is a no-op") {
    val corpus0 = docs.filter(col("doc_id") % 3 === 0)
    val corpus1 = docs.filter(col("doc_id") % 3 === 1)
    val probes = docs.filter(col("doc_id") % 3 === 2)
    val path = graft.util.Scratch.dir("cont-idx").toString
    Dedup.buildContainmentIndex(corpus0, path)
    // the indexed probe has the same dense-regime path choice as the
    // from-scratch form — assert equality on BOTH branches (this dense
    // corpus auto-picks the blocked path; forcing the cutoff high pins
    // the frozen-order posting-index path)
    def probe() = Dedup.containmentAcrossIndexed(probes, path, 2, 0.5)
      .orderBy("doc_id", "probe_id").collect()
    def scratch(c: DataFrame) = Dedup.ngramContainmentAcross(c, probes, 2, 0.5)
      .orderBy("doc_id", "probe_id").collect()
    val got0 = probe()
    got0 shouldBe scratch(corpus0)
    val prevCut = Dedup.denseOverlapCutoff
    val idx0 =
      try { Dedup.denseOverlapCutoff = Double.MaxValue; probe() }
      finally Dedup.denseOverlapCutoff = prevCut
    idx0 shouldBe got0
    got0.length should be > 0
    // the extend ranks the new shard under the FROZEN order (its
    // shingles may be rare-then vs common-now — exactness must not care)
    Dedup.extendContainmentIndex(corpus1, path, shardId = Some("s1"))
    val got1 = probe()
    got1 shouldBe scratch(corpus0.unionByName(corpus1))
    got1.length should be > got0.length
    // posting-index path stays exact after the frozen-order extend too
    val idx1 =
      try { Dedup.denseOverlapCutoff = Double.MaxValue; probe() }
      finally Dedup.denseOverlapCutoff = prevCut
    idx1 shouldBe got1
    // idempotent re-application through the manifest ledger
    Dedup.extendContainmentIndex(corpus1, path, shardId = Some("s1"))
    probe() shouldBe got1
    // overlapping id spaces: probes re-keyed onto corpus0's doc_ids,
    // half of them verbatim copies of the corpus doc with the SAME id
    // (a containment-1.0 pair with doc_id == probe_id) — each side's
    // postings rank per side, so one-shot, indexed and the naive cross
    // scan agree on both regimes
    val reKeyed = probes.withColumn("doc_id", col("doc_id") - 2)
      .filter(col("doc_id") % 2 === 1)
      .unionByName(corpus0.filter(col("doc_id") % 2 === 0))
    val opath = graft.util.Scratch.dir("cont-idx-overlap").toString
    Dedup.buildContainmentIndex(corpus0, opath)
    def both() = (
      Dedup.ngramContainmentAcross(corpus0, reKeyed, 2, 0.5)
        .orderBy("doc_id", "probe_id").collect(),
      Dedup.containmentAcrossIndexed(reKeyed, opath, 2, 0.5)
        .orderBy("doc_id", "probe_id").collect())
    val (oneShot, indexed) = both()
    val (oneShotIdx, indexedIdx) =
      try { Dedup.denseOverlapCutoff = Double.MaxValue; both() }
      finally Dedup.denseOverlapCutoff = prevCut
    val naive = naiveContainmentAcross(corpus0, reKeyed, 0.5)
    oneShot shouldBe naive
    indexed shouldBe naive
    oneShotIdx shouldBe naive
    indexedIdx shouldBe naive
    naive.exists(r => r.getLong(0) == r.getLong(1)) shouldBe true
  }

  test("dupComponents driver-local union-find == distributed doubling loop") {
    import spark.implicits._
    // corpus pair graph (chains + triangles at t=0.3) and a synthetic
    // deep chain: the bounded fast path must produce the identical
    // canonical labels the distributed loop converges to
    val corpusPairs = Dedup.ngramJaccard(docs, n = 2, threshold = 0.3)
    val chain = (0L until 37L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    for (pairs <- Seq(corpusPairs, chain)) {
      val driver = Dedup.dupComponents(pairs, hotDegree = 65536,
        driverEdgeBound = Long.MaxValue).orderBy("doc_id").collect()
      val dist = Dedup.dupComponents(pairs, hotDegree = 65536,
        driverEdgeBound = 0L).orderBy("doc_id").collect()
      driver shouldBe dist
      driver.length should be > 0
    }
  }

  test("dropTransitiveDups keeps one representative per group plus unmatched docs") {
    import spark.implicits._
    val d = Seq((1L, "x"), (2L, "x2"), (3L, "x3"), (4L, "y"), (10L, "z"))
      .toDF("doc_id", "text")
    // chain 1-2-3 is one group; 4 and 10 match nothing
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("doc_a", "doc_b")
    Dedup.dropTransitiveDups(d, pairs).select("doc_id")
      .as[Long].collect().sorted shouldBe Array(1L, 4L, 10L)
  }

  test("dupComponents on the corpus pair graph: labels are component-consistent") {
    val pairs = Dedup.ngramJaccard(docs, n = 2, threshold = 0.3)
    val comp = Dedup.dupComponents(pairs)
    // every edge joins two docs with the SAME component label
    val lab = comp.withColumnRenamed("doc_id", "k")
    val viol = pairs
      .join(lab.withColumnRenamed("component_id", "ca"), col("doc_a") === col("k")).drop("k")
      .join(lab.withColumnRenamed("component_id", "cb"), col("doc_b") === col("k"))
      .filter(col("ca") =!= col("cb")).count()
    viol shouldBe 0
    // each component's label is its min member
    comp.groupBy("component_id").agg(min("doc_id").as("m"))
      .filter(col("m") =!= col("component_id")).count() shouldBe 0
  }

  test("simhashPairs rejects invalid maxDist") {
    an[IllegalArgumentException] should be thrownBy Dedup.simhashPairs(docs, maxDist = 64)
  }

  test("incremental index: build + incrementalPairs == from-scratch minhashLsh") {
    val path = graft.util.Scratch.dir("dedup-idx").toString
    val old = docs.filter(pmod(col("doc_id"), lit(3)) =!= 0)
    val fresh = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val oldPairs = Dedup.buildNearDupIndex(old, path, n = 2, threshold = 0.5)
    val newPairs = Dedup.incrementalPairs(fresh, path, n = 2, threshold = 0.5)
    // stored pairs are old-vs-old only; incremental pairs all involve a
    // fresh doc — disjoint, and their union is the from-scratch result
    oldPairs.join(newPairs, Seq("doc_a", "doc_b")).count() shouldBe 0
    val scratch = Dedup.minhashLsh(docs, n = 2, threshold = 0.5)
    oldPairs.union(newPairs).orderBy("doc_a", "doc_b").collect() shouldBe
      scratch.orderBy("doc_a", "doc_b").collect()
    newPairs.count() should be > 0L // split must actually exercise the cross path
  }

  test("MinHashMins kernel: m1/m2 bit-equal to explode-computed min and second-min") {
    val numHashes = 8
    val sets = docs.select(col("doc_id"),
      graft.functions.VectorFunctions.shingleHashes(col("text"), 2).as("hs"))
    val kernel = sets.select(col("doc_id"),
      graft.functions.VectorFunctions.minhashMins(col("hs"), numHashes).as("mm"))
    // classic two-pass reference: explode, min per (doc, i); then min of
    // the remainder for the second minimum
    val sh = sets.select(col("doc_id"), explode(col("hs")).as("h"))
    val hashed = sh.select(
      (col("doc_id") +: (0 until numHashes).map(i =>
        xxhash64(lit(i), col("h")).as(s"h_$i"))): _*)
    val ref = hashed
      .groupBy("doc_id")
      .agg(min(col("h_0")).as("r1_0"), (1 until numHashes).map(i =>
        min(col(s"h_$i")).as(s"r1_$i")): _*)
    val ref2 = hashed
      .join(ref, "doc_id")
      .groupBy("doc_id")
      .agg(min(when(col("h_0") > col("r1_0"), col("h_0"))).as("r2_0"),
        (1 until numHashes).map(i =>
          min(when(col(s"h_$i") > col(s"r1_$i"), col(s"h_$i"))).as(s"r2_$i")): _*)
    val bad = kernel.join(ref, "doc_id").join(ref2, "doc_id").filter(
      (0 until numHashes).map(i =>
        col("mm").getItem(i).getField("m1") =!= col(s"r1_$i") ||
          col("mm").getItem(i).getField("m2") =!=
            coalesce(col(s"r2_$i"), lit(Long.MaxValue))).reduce(_ || _))
    bad.count() shouldBe 0
  }

  test("minhashLshMultiProbe: superset of single-probe, exact precision") {
    for ((nh, b) <- Seq((32, 16), (8, 4))) {
      val single = Dedup.minhashLsh(docs, 2, 0.5, nh, b)
      val multi = Dedup.minhashLshMultiProbe(docs, 2, 0.5, nh, b)
      // base buckets are bit-identical to the classic banding path, so
      // every single-probe pair survives multi-probing
      single.exceptAll(multi).count() shouldBe 0
      // verification keeps precision exact at any probing setting
      multi.exceptAll(naiveJaccard(docs, 2, 0.5)).count() shouldBe 0
    }
  }

  test("minhashLshMultiProbe gate config (8 hashes x 4 bands) == exact pairs") {
    // dedup_lsh_multiprobe's oracle claim: recall 1.0 with a QUARTER of
    // the main gate's hash budget (32x16) — at 100 TB the signature
    // pass is 4x cheaper for the same answer on this corpus
    val multi = Dedup.minhashLshMultiProbe(docs, 2, 0.5, numHashes = 8, bands = 4)
    multi.orderBy("doc_a", "doc_b").collect() shouldBe
      naiveJaccard(docs, 2, 0.5).orderBy("doc_a", "doc_b").collect()
  }

  test("dedup_incremental gate (build→increment→extend→increment) == from-scratch") {
    // the registered gate memoizes build+extend per sfDir and times only
    // the tranche-3 increment; its output must still equal minhashLsh
    // over the WHOLE corpus (= the DuckDB exact-Jaccard oracle)
    val gate = graft.SparkEntry.queries("dedup_incremental")(spark, "/root/testdata/sf0.001")
    gate.orderBy("doc_a", "doc_b").collect() shouldBe
      Dedup.minhashLsh(docs, n = 2, threshold = 0.5).orderBy("doc_a", "doc_b").collect()
    // second call hits the memo: same result, no rebuild (a rebuild
    // would fill a fresh scratch dir)
    def indexDirs() =
      graft.util.Scratch.root.list().count(_.startsWith("graft-dedup-index"))
    val built = indexDirs()
    built should be >= 1
    graft.SparkEntry.queries("dedup_incremental")(spark, "/root/testdata/sf0.001")
      .count() shouldBe gate.count()
    indexDirs() shouldBe built
  }

  test("multi-probe index lifecycle == from-scratch minhashLshMultiProbe") {
    // the whole build→increment→extend loop at the multi-probe
    // recall/cost point (quarter hash budget): stored ∪ incremental
    // pairs must equal the from-scratch multi-probe operator
    val path = graft.util.Scratch.dir("dedup-idx-mp").toString
    val s0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val s1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val s2 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    Dedup.buildNearDupIndex(s0, path, n = 2, threshold = 0.5,
      numHashes = 8, bands = 4, multiProbe = true)
    val p1 = Dedup.incrementalPairs(s1, path, n = 2, threshold = 0.5,
      numHashes = 8, bands = 4, multiProbe = true)
    Dedup.extendIndex(s1, p1, path, numHashes = 8, bands = 4, multiProbe = true)
    val p2 = Dedup.incrementalPairs(s2, path, n = 2, threshold = 0.5,
      numHashes = 8, bands = 4, multiProbe = true)
    Dedup.indexedPairs(spark, path).union(p2).orderBy("doc_a", "doc_b").collect() shouldBe
      Dedup.minhashLshMultiProbe(docs, 2, 0.5, numHashes = 8, bands = 4)
        .orderBy("doc_a", "doc_b").collect()
  }

  test("dedupSpans: first global occurrence survives, later spans drop, docs can empty") {
    def words(prefix: String, n: Int): String =
      (0 until n).map(i => s"$prefix$i").mkString(" ")
    val a = words("a", 32)            // doc 1: spans A0 A1
    val b = words("b", 16)            // doc 2: span B0 then a COPY of A1
    val doc2 = b + " " + words("a", 32).split(" ").drop(16).mkString(" ")
    val doc3 = a                      // doc 3: pure copy of doc 1 → empties
    val d = Seq((1L, a), (2L, doc2), (3L, doc3)).toDF("doc_id", "text")
    val out = Dedup.dedupSpans(d, spanTokens = 16)
      .orderBy("doc_id").as[(Long, String)].collect().toMap
    out(1L) shouldBe a                // first occurrence keeps everything
    out(2L) shouldBe b                // its copied A1 span dropped
    out(3L) shouldBe ""               // fully-seen doc empties but keeps its row
    // short final spans clip consistently: a 20-token doc has spans of 16 + 4
    val short = Seq((9L, words("z", 20))).toDF("doc_id", "text")
    Dedup.dedupSpans(short).as[(Long, String)].collect().head._2 shouldBe words("z", 20)
  }

  test("span-index lifecycle: build/increment/extend equals from-scratch per tranche") {
    val path = graft.util.Scratch.dir("span-idx").toString
    val mx = docs.agg(max("doc_id")).head().getLong(0)
    val t1 = docs.filter(col("doc_id") <= mx / 3)
    val t2 = docs.filter(col("doc_id") > mx / 3 && col("doc_id") <= mx * 2 / 3)
    val t3 = docs.filter(col("doc_id") > mx * 2 / 3)
    val full = Dedup.dedupSpans(docs).withColumnRenamed("text_dedup", "exp")
    def restricted(tr: org.apache.spark.sql.DataFrame,
                   got: org.apache.spark.sql.DataFrame): Unit = {
      val joined = got.join(full, "doc_id")
      joined.count() shouldBe tr.count()
      joined.filter(col("text_dedup") =!= col("exp")).count() shouldBe 0
    }
    restricted(t1, Dedup.buildSpanIndex(t1, path))
    // increment is read-only: running it twice gives the same answer
    val inc2 = Dedup.dedupSpansIncremental(t2, path)
    restricted(t2, inc2)
    restricted(t2, Dedup.dedupSpansIncremental(t2, path))
    Dedup.extendSpanIndex(t2, path)
    restricted(t3, Dedup.dedupSpansIncremental(t3, path))
  }

  test("extendIndex folds a shard in; second increment still equals from-scratch") {
    val path = graft.util.Scratch.dir("dedup-idx2").toString
    // three daily shards by doc_id mod 3
    val s0 = docs.filter(pmod(col("doc_id"), lit(3)) === 0)
    val s1 = docs.filter(pmod(col("doc_id"), lit(3)) === 1)
    val s2 = docs.filter(pmod(col("doc_id"), lit(3)) === 2)
    Dedup.buildNearDupIndex(s0, path, n = 2, threshold = 0.5)
    val p1 = Dedup.incrementalPairs(s1, path, n = 2, threshold = 0.5)
    Dedup.extendIndex(s1, p1, path)
    val p2 = Dedup.incrementalPairs(s2, path, n = 2, threshold = 0.5)
    Dedup.extendIndex(s2, p2, path)
    // after two extends the stored pairs/ covers the whole corpus
    Dedup.indexedPairs(spark, path).orderBy("doc_a", "doc_b").collect() shouldBe
      Dedup.minhashLsh(docs, n = 2, threshold = 0.5).orderBy("doc_a", "doc_b").collect()
  }

  test("extendIndex and extendSpanIndex with a shardId are idempotent " +
      "under re-application") {
    val path = graft.util.Scratch.dir("dedup-ledger").toString
    val t = pmod(col("doc_id"), lit(3))
    Dedup.buildNearDupIndex(docs.filter(t === 1), path, n = 2, threshold = 0.5)
    val shard = docs.filter(t === 2)
    val inc = Dedup.incrementalPairs(shard, path, n = 2, threshold = 0.5)
    Dedup.extendIndex(shard, inc, path, n = 2, shardId = Some("day-2"))
    val sets = spark.read.parquet(s"$path/sets").count()
    val pairs = Dedup.indexedPairs(spark, path).count()
    // the retry: without the ledger this would DOUBLE the shard's
    // sets/buckets rows and fan out every later verification join
    Dedup.extendIndex(shard, inc, path, n = 2, shardId = Some("day-2"))
    spark.read.parquet(s"$path/sets").count() shouldBe sets
    Dedup.indexedPairs(spark, path).count() shouldBe pairs

    val spath = graft.util.Scratch.dir("span-ledger").toString
    Dedup.buildSpanIndex(docs.filter(t === 1), spath)
    Dedup.extendSpanIndex(shard, spath, shardId = Some("day-2"))
    val spans = spark.read.parquet(s"$spath/spans").count()
    Dedup.extendSpanIndex(shard, spath, shardId = Some("day-2"))
    spark.read.parquet(s"$spath/spans").count() shouldBe spans
  }

  test("extendComponents merges existing components through new bridge pairs") {
    val path = graft.util.Scratch.dir("comp-idx").toString
    // two disjoint components {1,2} and {3,4}
    Dedup.buildComponents(Seq((1L, 2L), (3L, 4L)).toDF("doc_a", "doc_b"), path)
    Dedup.indexedComponents(spark, path).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 1L), (2L, 1L), (3L, 3L), (4L, 3L))
    // a bridge (2,3) must merge them into component 1, and a fresh
    // disjoint pair (7,8) must appear as its own component
    Dedup.extendComponents(Seq((2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b"), path)
    Dedup.indexedComponents(spark, path).orderBy("doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))) shouldBe
      Array((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (7L, 7L), (8L, 7L))
    // folding a pair already inside one component is a no-op (empty
    // contracted graph — the closure has nothing to merge)
    Dedup.extendComponents(Seq((1L, 4L)).toDF("doc_a", "doc_b"), path)
    Dedup.indexedComponents(spark, path).count() shouldBe 6
  }

  test("incremental components: build + extend + merged view == from-scratch closure") {
    val path = graft.util.Scratch.dir("comp-idx2").toString
    val pairs = Dedup.ngramJaccard(docs, n = 2, threshold = 0.5)
    val t = pmod(col("doc_a") + col("doc_b"), lit(3))
    Dedup.buildComponents(pairs.filter(t === 0), path)
    Dedup.extendComponents(pairs.filter(t === 1), path)
    val merged = Dedup.mergedComponents(spark, path, pairs.filter(t === 2))
    val scratch = Dedup.dupComponents(pairs)
    merged.orderBy("doc_id").collect() shouldBe scratch.orderBy("doc_id").collect()
    // the tranche split must actually exercise cross-tranche merges:
    // the from-scratch closure disagrees with the tranche-0+1 store
    // somewhere, or the gate would not be testing the merge path
    Dedup.indexedComponents(spark, path)
      .withColumnRenamed("component_id", "stored_cid")
      .join(scratch, "doc_id")
      .filter(col("stored_cid") =!= col("component_id"))
      .count() should be > 0L
    // and after extending with the last tranche, the store itself
    // equals from-scratch
    Dedup.extendComponents(pairs.filter(t === 2), path)
    Dedup.indexedComponents(spark, path).orderBy("doc_id").collect() shouldBe
      scratch.orderBy("doc_id").collect()
  }

  // ── edit-distance join + duplicate-aware weights ──────────────────

  /** Naive all-pairs Levenshtein — the O(N²) reference. */
  private def naiveEdit(d: DataFrame, colName: String,
                        maxDist: Int): DataFrame =
    d.select(col("doc_id").as("doc_a"), col(colName).as("s_a"))
      .crossJoin(d.select(col("doc_id").as("doc_b"), col(colName).as("s_b")))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        levenshtein(coalesce(col("s_a"), lit("")),
          coalesce(col("s_b"), lit("")), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)

  test("editDistanceJoin == naive all-pairs levenshtein on a typo fixture, d=0..2") {
    val fx = Seq(
      (1L, "the quick brown fox"),
      (2L, "the quick brown fux"),   // 1 substitution
      (3L, "the quick brwn fox"),    // 1 deletion
      (4L, "the quick brown foxx"),  // 1 insertion
      (5L, "quick the fox brown"),   // token reorder: Jaccard 1, huge ed
      (6L, "completely different text"),
      (7L, ""),                      // empty
      (8L, ""),                      // empty twin: dist 0
      (9L, "a"),                     // shorter than q
      (10L, "b"),                    // dist 1 from "a", dist 1 from ""
      (11L, "the quick brown fox")   // exact dup of 1
    ).toDF("doc_id", "text")
    for (d <- Seq(0, 1, 2)) {
      val fast = Dedup.editDistanceJoin(fx, "text", d)
        .orderBy("doc_a", "doc_b").collect()
      val naive = naiveEdit(fx, "text", d).orderBy("doc_a", "doc_b").collect()
      withClue(s"d=$d: ") { fast shouldBe naive }
    }
    // non-vacuity: the d=2 run must see typo pairs, the empty twin,
    // the short strings, and the exact dup — not just survive
    Dedup.editDistanceJoin(fx, "text", 2).count() should be > 6L
  }

  test("editDistanceJoin on corpus 32-char keys == naive; finds pairs Jaccard scores low") {
    val keyed = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).as("k"))
    val fast = Dedup.editDistanceJoin(keyed, "k", maxDist = 2)
      .orderBy("doc_a", "doc_b").collect()
    val naive = naiveEdit(keyed, "k", 2).orderBy("doc_a", "doc_b").collect()
    fast shouldBe naive
    fast.length should be > 0
  }

  /** Naive cross-set Levenshtein reference. */
  private def naiveEditAcross(c: DataFrame, b: DataFrame, colName: String,
                              maxDist: Int): DataFrame =
    c.select(col("doc_id"), col(colName).as("s_c"))
      .crossJoin(b.select(col("doc_id").as("probe_id"), col(colName).as("s_p")))
      .select(col("doc_id"), col("probe_id"),
        levenshtein(coalesce(col("s_c"), lit("")),
          coalesce(col("s_p"), lit("")), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)

  test("editDistanceJoinAcross == naive cross levenshtein; decontaminateByEdit drops exactly the hosts") {
    val keyed = docs.select(col("doc_id"), substring(col("text"), 1, 32).as("k"))
    val corpus = keyed.filter(col("doc_id") % 10 =!= 0)
    val bench = keyed.filter(col("doc_id") % 10 === 0)
    val fast = Dedup.editDistanceJoinAcross(corpus, bench, "k", maxDist = 2)
      .orderBy("doc_id", "probe_id").collect()
    val naive = naiveEditAcross(corpus, bench, "k", 2)
      .orderBy("doc_id", "probe_id").collect()
    fast shouldBe naive
    fast.length should be > 0
    val hosts = fast.map(_.getLong(0)).distinct
    val surv = Curation.decontaminateByEdit(corpus, bench, "k", maxDist = 2)
    surv.count() shouldBe corpus.count() - hosts.length
    surv.filter(col("doc_id").isin(hosts.toSeq: _*)).count() shouldBe 0
  }

  test("editDistanceJoinAcross covers the short-string vacuous-filter class cross-set") {
    val c = Seq((1L, ""), (2L, "ab"), (3L, "xyz"), (4L, "wxyz")).toDF("doc_id", "k")
    val b = Seq((10L, "a"), (11L, ""), (12L, "xyzz")).toDF("doc_id", "k")
    for (d <- Seq(0, 1, 2)) {
      val fast = Dedup.editDistanceJoinAcross(c, b, "k", d)
        .orderBy("doc_id", "probe_id").collect()
      val naive = naiveEditAcross(c, b, "k", d)
        .orderBy("doc_id", "probe_id").collect()
      withClue(s"d=$d: ") { fast shouldBe naive }
    }
    // non-vacuity: ""–"a", ""–"", "ab"–"a", xyz-family pairs all land
    Dedup.editDistanceJoinAcross(c, b, "k", 2).count() should be > 4L
  }

  test("edit index lifecycle: build + probe == from-scratch across; extend keeps exactness; ledgered re-apply is a no-op") {
    val keyed = docs.select(col("doc_id"), substring(col("text"), 1, 32).as("k"))
    val corpus0 = keyed.filter(col("doc_id") % 3 === 0)
    val corpus1 = keyed.filter(col("doc_id") % 3 === 1)
    val probes = keyed.filter(col("doc_id") % 3 === 2)
    val path = graft.util.Scratch.dir("edit-idx").toString
    val edit = Dedup.editStore(path, "k", maxDist = 2)
    edit.build(corpus0)
    def probe() = Dedup.editAcrossIndexed(probes, "k", path)
      .orderBy("doc_id", "probe_id").collect()
    def scratch(c: DataFrame) = Dedup.editDistanceJoinAcross(c, probes, "k", 2)
      .orderBy("doc_id", "probe_id").collect()
    val got0 = probe()
    got0 shouldBe scratch(corpus0)
    edit.extend(corpus1, Some("s1"))
    val got1 = probe()
    got1 shouldBe scratch(corpus0.unionByName(corpus1))
    got1.length should be > 0
    // idempotent re-application through the manifest ledger
    edit.extend(corpus1, Some("s1"))
    probe() shouldBe got1
  }

  test("dupWeights: 1/|component| for dup members, 1 outside the pair graph") {
    // triangle {1,2,3}, pair {4,5}, singletons 6 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val d = Seq(1L, 2L, 3L, 4L, 5L, 6L, 7L).toDF("doc_id")
    val w = Dedup.dupWeights(d, pairs).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    w(1L) shouldBe 0.333333
    w(2L) shouldBe 0.333333
    w(3L) shouldBe 0.333333
    w(4L) shouldBe 0.5
    w(5L) shouldBe 0.5
    w(6L) shouldBe 1.0
    w(7L) shouldBe 1.0
  }

  test("dedupChunksCdc: boundaries resync after an insertion (fixed tiles don't), first occurrence wins, unique corpora pass through") {
    // 64 tokens of shared material, then B = one junk token + A's text:
    // every 16-token tile of B is offset by 1 and matches nothing, but
    // CDC boundaries re-derive from content and re-align within ~w
    val base = (1 to 64).map(i => s"tok${i % 23}w${(i * 7) % 19}").mkString(" ")
    val d = Seq((1L, base), (2L, s"zz $base")).toDF("doc_id", "text")
    val cdc = Dedup.dedupChunksCdc(d).orderBy("doc_id")
      .select("text_dedup").as[String].collect()
    // doc 1 is the first occurrence of everything: untouched
    cdc(0) shouldBe base
    // doc 2 loses most of its shared region to doc 1's chunks
    cdc(1).split(" ").length should be < (base.split(" ").length / 2)
    // the fixed-tile form keeps doc 2 nearly whole — the misalignment
    // this operator exists to fix
    val tiled = Dedup.dedupSpans(d).orderBy("doc_id")
      .select("text_dedup").as[String].collect()
    tiled(1).split(" ").length should be > (base.split(" ").length / 2)
    // a corpus with no repeated chunks passes through identically
    val uniq = Seq((1L, "alpha beta gamma delta"), (2L, "ten eleven twelve"))
      .toDF("doc_id", "text")
    Dedup.dedupChunksCdc(uniq).orderBy("doc_id")
      .select("text_dedup").as[String].collect() shouldBe
      Array("alpha beta gamma delta", "ten eleven twelve")
  }

  test("dupReport: per-stratum dup counts and rates") {
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val d = Seq(
      (1L, "web"), (2L, "web"), (3L, "web"), (6L, "web"),   // 3 of 4 dup
      (4L, "books"), (5L, "books"),                          // 2 of 2 dup
      (7L, "code")                                           // clean
    ).toDF("doc_id", "source")
    val r = Dedup.dupReport(d, pairs, "source")
      .as[(String, Long, Long, Double)].collect().map(x => x._1 -> x).toMap
    r("web") shouldBe (("web", 4L, 3L, 0.75))
    r("books") shouldBe (("books", 2L, 2L, 1.0))
    r("code") shouldBe (("code", 1L, 0L, 0.0))
  }

  test("keepBestPerComponent: best-by-ranking survives, singletons always survive, differs from min-id policy") {
    // triangle {1,2,3} where the BEST copy (longest) is 3, pair {4,5}
    // where the best is 4, singletons 6 and 7
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val d = Seq(
      (1L, 10L), (2L, 20L), (3L, 30L), (4L, 50L), (5L, 40L),
      (6L, 5L), (7L, 99L)
    ).toDF("doc_id", "n_chars")
    val kept = Dedup.keepBestPerComponent(d, pairs, Seq("n_chars", "doc_id"))
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(3L, 4L, 6L, 7L)
    // the min-id policy keeps {1, 4} instead — the policies genuinely differ
    Dedup.dropTransitiveDups(d, pairs)
      .select("doc_id").as[Long].collect().sorted shouldBe Array(1L, 4L, 6L, 7L)
    // ties on the ranking column fall to the trailing id, descending
    val tied = Seq((1L, 10L), (2L, 10L)).toDF("doc_id", "n_chars")
    Dedup.keepBestPerComponent(tied, Seq((1L, 2L)).toDF("doc_a", "doc_b"),
        Seq("n_chars", "doc_id"))
      .select("doc_id").as[Long].collect() shouldBe Array(2L)
  }
}
