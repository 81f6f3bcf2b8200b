package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class PqSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val emb =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("encode: m codes per vector, each within the codebook range") {
    val books = Pq.codebooks(emb, m = 8, k = 16, dim = 64)
    books.length shouldBe 8
    books(0).length shouldBe 16
    books(0)(0).length shouldBe 8
    val codes = Pq.encode(emb, books)
    codes.count() shouldBe emb.count()
    codes.filter("size(codes) != 8").count() shouldBe 0
    codes.select(explode(col("codes")).as("c"))
      .filter(col("c") < 0 || col("c") >= 16).count() shouldBe 0
  }

  test("topK: k rows per query, exact rerank cosines, deterministic") {
    val queries = emb.filter(col("vec_id") < 5)
    val pq = Pq.topK(emb, queries, k = 10)
    pq.groupBy("query_id").count().filter(col("count") =!= 10).count() shouldBe 0
    // every emitted cosine matches the brute-force value (rerank is exact)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
    pq.join(brute.select(col("query_id"), col("neighbor_id"), col("cos").as("cos_bf")),
        Seq("query_id", "neighbor_id"))
      .filter(col("cos") =!= col("cos_bf")).count() shouldBe 0
    // stable under repartitioning
    val again = Pq.topK(emb.repartition(7), queries, k = 10)
    again.orderBy("query_id", "rank").collect() shouldBe
      pq.orderBy("query_id", "rank").collect()
  }

  test("k-means codebook refinement does not lose recall vs the fixed sample") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
    def hits(iters: Int): Long =
      Pq.topK(emb, queries, k = 10, kmeansIters = iters)
        .select("query_id", "neighbor_id")
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi").count()
    hits(2) should be >= hits(0)
  }

  test("ivfPqTopK: k rows per query, exact rerank cosines, deterministic") {
    val queries = emb.filter(col("vec_id") < 5)
    val ivfpq = Pq.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 4)
    ivfpq.groupBy("query_id").count().filter(col("count") =!= 10).count() shouldBe 0
    // every emitted cosine matches the brute-force value (rerank is exact)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
    ivfpq.join(brute.select(col("query_id"), col("neighbor_id"), col("cos").as("cos_bf")),
        Seq("query_id", "neighbor_id"))
      .filter(col("cos") =!= col("cos_bf")).count() shouldBe 0
    // stable under repartitioning
    val again = Pq.ivfPqTopK(emb.repartition(7), queries, k = 10, nlist = 16, nprobe = 4)
    again.orderBy("query_id", "rank").collect() shouldBe
      ivfpq.orderBy("query_id", "rank").collect()
  }

  test("ivfPqTopK recall: bounded by probing, recovered by more probes") {
    val queries = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
      .select("query_id", "neighbor_id")
    val total = brute.count()
    def recall(nprobe: Int): Double =
      Pq.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = nprobe,
          kmeansIters = 2)
        .select("query_id", "neighbor_id")
        .join(brute, Seq("query_id", "neighbor_id"), "left_semi")
        .count().toDouble / total
    // production budget clears the contract bound with margin
    // (measured 0.88-0.94 across sf0.001/0.01/0.1)
    recall(4) should be >= 0.6
    // probing every cell leaves only PQ-candidate loss, and the
    // oversample x exact rerank recovers all of it on this corpus
    recall(16) shouldBe 1.0
  }

  // ── residual IVF-PQ ───────────────────────────────────────────────

  test("residual ivfPqTopK: k rows per query, exact rerank cosines, deterministic") {
    val queries = emb.filter(col("vec_id") < 5)
    val r = Pq.ivfPqTopKResidual(emb, queries, k = 10, nlist = 16, nprobe = 4,
      kmeansIters = 2)
    r.groupBy("query_id").count().filter(col("count") =!= 10).count() shouldBe 0
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
    r.join(brute.select(col("query_id"), col("neighbor_id"), col("cos").as("cos_bf")),
        Seq("query_id", "neighbor_id"))
      .filter(col("cos") =!= col("cos_bf")).count() shouldBe 0
    val again = Pq.ivfPqTopKResidual(emb.repartition(7), queries, k = 10,
      nlist = 16, nprobe = 4, kmeansIters = 2)
    again.orderBy("query_id", "rank").collect() shouldBe
      r.orderBy("query_id", "rank").collect()
  }

  test("residual coding beats flat at the strained ADC budget (all cells probed)") {
    // probe misses are layout-independent, so probing every cell
    // isolates ADC ranking fidelity; oversample=2 strains the rerank.
    // Deterministic end-to-end -> exact inequality, not a bound.
    // (Measured here: resid 0.70 vs flat 0.64. On the synthetic
    // CLUSTERED corpus the sign flips — blob-centered subvectors are
    // easy for flat PQ, while residuals there are incompressible
    // blend noise; residual coding is the right default for
    // real-world corpora whose residuals keep correlated structure.)
    val queries = emb.filter(col("vec_id") < 5)
    val cents = Similarity.coarseCentroids(emb, 16, 1)
    val exact = Similarity.ivfTopK(emb, queries, 10, 16, nprobe = 16)
      .select("query_id", "neighbor_id")
    def hits(df: org.apache.spark.sql.DataFrame): Long =
      df.select("query_id", "neighbor_id")
        .join(exact, Seq("query_id", "neighbor_id"), "left_semi").count()
    val flat = Pq.ivfPqTopK(emb, queries, 10, nprobe = 16, oversample = 2,
      kmeansIters = 2, centsOpt = Some(cents))
    val resid = Pq.ivfPqTopKResidual(emb, queries, 10, nprobe = 16, oversample = 2,
      kmeansIters = 2, centsOpt = Some(cents))
    hits(resid) should be > hits(flat)
  }

  test("residual self-check holds at the gate config (reduced rerank budget)") {
    val queries = emb.filter(col("vec_id") < 5)
    Pq.ivfPqResidualSelfCheck(emb, queries, k = 10, coarseIters = 1,
        kmeansIters = 2, oversample = 3)
      .as[(Boolean, Boolean)].head() shouldBe ((true, true))
  }

  test("residual codes are a genuinely different quantization from flat codes") {
    val cents = Similarity.coarseCentroids(emb, 16, 1)
    val flatBooks = Pq.trainedBooks(emb, kmeansIters = 0)
    val resBooks = Pq.residualBooks(emb, cents, kmeansIters = 0)
    // same shape, different centroids
    resBooks.length shouldBe flatBooks.length
    resBooks(0).length shouldBe flatBooks(0).length
    resBooks.flatten.flatten.toSeq should not equal flatBooks.flatten.flatten.toSeq
  }

  test("ivfPqSelfCheck emits (true, true); its exact reference is truly exact") {
    val queries = emb.filter(col("vec_id") < 5)
    // the check's reference: ivfTopK probing ALL cells == brute force
    // (this is what lets the gate avoid a nested-loop join)
    val allCells = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 16)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
    allCells.orderBy("query_id", "rank").collect() shouldBe
      brute.orderBy("query_id", "rank").collect()
    val row = Pq.ivfPqSelfCheck(emb, queries, k = 10).collect()
    row.length shouldBe 1
    row.head.getBoolean(0) shouldBe true
    row.head.getBoolean(1) shouldBe true
  }

  test("selfCheck: recall >= 0.8 and exact cosines on this corpus") {
    val queries = emb.filter(col("vec_id") < 5)
    val row = Pq.selfCheck(emb, queries, k = 10).collect()
    row.length shouldBe 1
    row.head.getBoolean(0) shouldBe true
    row.head.getBoolean(1) shouldBe true
  }

  test("persisted ANN index: stored search == recompute, scan pruned to probed cells") {
    val path = graft.util.Scratch.dir("ann-idx").toString
    val queries = emb.filter(col("vec_id") < 5)
    Pq.annStore(path, kmeansIters = 2).build(emb)
    val stored = Pq.annTopK(emb, queries, path, k = 10, nprobe = 4)
    val fresh = Pq.ivfPqTopK(emb, queries, k = 10, nlist = 16, nprobe = 4,
      kmeansIters = 2)
    stored.orderBy("query_id", "rank").collect() shouldBe
      fresh.orderBy("query_id", "rank").collect()
    // the code scan must carry a partition filter on cell — file-level
    // pruning to the probed cells, the point of the cell-partitioned
    // layout. (String-audit the executed plan: AQE wraps stages, so
    // node-collect doesn't descend; after execution the plan string
    // shows the final scans.)
    val codeScans = stored.queryExecution.executedPlan.toString.split('\n')
      .filter(l => l.contains("FileScan") && l.contains("codes"))
    codeScans should not be empty
    codeScans.foreach(_ should include("PartitionFilters: [cell"))
    // the self-check row folds the equality into one gate-visible bool
    val row = Pq.annIndexSelfCheck(emb, queries, path, k = 10).collect()
    row.length shouldBe 1
    row.head.getBoolean(0) shouldBe true
  }

  test("extendAnnIndex: build 2/3 + append 1/3 == from-scratch build over all") {
    val partial = graft.util.Scratch.dir("ann-ext").toString
    val full = graft.util.Scratch.dir("ann-full").toString
    val queries = emb.filter(col("vec_id") < 5)
    val cut = emb.agg(max("vec_id")).head.getLong(0) * 2 / 3
    // frozen quantizers: the deterministic lowest-vec_id samples lie in
    // tranche 1, so the appended index is bit-identical to a full build
    val ann = Pq.annStore(partial)
    ann.build(emb.filter(col("vec_id") <= cut))
    ann.extend(emb.filter(col("vec_id") > cut), None)
    Pq.annStore(full).build(emb)
    val extended = Pq.annTopK(emb, queries, partial, k = 10, nprobe = 4)
    val scratch = Pq.annTopK(emb, queries, full, k = 10, nprobe = 4)
    extended.orderBy("query_id", "rank").collect() shouldBe
      scratch.orderBy("query_id", "rank").collect()
    // and therefore equal to direct recomputation too (the gate's check)
    val row = Pq.annIndexSelfCheck(emb, queries, partial, k = 10).collect()
    row.length shouldBe 1
    row.head.getBoolean(0) shouldBe true
  }

  test("rebalanceAnnIndex: drifted extends re-balance, answers stay exact, asOf pins the old quantizer") {
    import spark.implicits._
    // planted drift: first half clustered near axis 0, second half
    // near axis 1 — a build on the first half trains centroids that
    // crowd every later vector into few cells
    def noise(i: Int, d: Int): Float = ((i * 31 + d * 7) % 13) * 0.5f
    // first tranche must cover the default 64 PQ sample (codebooks
    // train on the lowest-id 64 vectors)
    val a = (0 until 80).map(i => (i.toLong,
      Seq.tabulate(64)(d => (if (d == 0) 10f else 0f) + noise(i, d))))
    // the drift tranche shares ONE dominant new axis (so build-time
    // centroids cram it all into a single cell) but carries four
    // internal subclusters on secondary axes — structure the
    // starved-cell splitting can discover once the quantizer retrains
    val b = (80 until 160).map(i => (i.toLong,
      Seq.tabulate(64)(d =>
        (if (d == 1) 10f else 0f) +
          (if (d == 2 + i % 4) 5f else 0f) + noise(i, d))))
    val drifted = (a ++ b).toDF("vec_id", "embedding")
    val path = graft.util.Scratch.dir("ann-rebal").toString
    val ann = Pq.annStore(path, nlist = 8)
    ann.build(a.toDF("vec_id", "embedding"))
    ann.extend(b.toDF("vec_id", "embedding"), None)
    def maxCell(asOf: Option[Int] = None): Long =
      graft.util.Manifest.read(spark, path, "codes", asOf)
        .groupBy("cell").count().agg(max("count")).head().getLong(0)
    val queries = drifted.filter(col("vec_id").isin(0L, 81L))
    val before = Pq.annTopK(drifted, queries, path, k = 5, nprobe = 8)
      .orderBy("query_id", "rank").collect()
    val skewBefore = maxCell()
    val genBefore = graft.util.Manifest.snapshot(spark, path).gen
    Pq.rebalanceAnnIndex(drifted, path, coarseIters = 5)
    // occupancy: the biggest cell shrinks once centroids see the drift
    maxCell() should be < skewBefore
    // answers at full probe budget are exhaustive either way — the
    // rebalance moved partitions, not semantics
    Pq.annTopK(drifted, queries, path, k = 5, nprobe = 8)
      .orderBy("query_id", "rank").collect() shouldBe before
    // self-describing again: stored == recompute on the CURRENT corpus
    val row = Pq.annIndexSelfCheck(drifted, queries, path, k = 5,
      nprobe = 8).collect()
    row.length shouldBe 1
    row.head.getBoolean(0) shouldBe true
    // time travel: the pre-rebalance generation still serves with its
    // OWN quantizer and layout
    maxCell(Some(genBefore)) shouldBe skewBefore
    Pq.annTopK(drifted, queries, path, k = 5, nprobe = 8,
        asOf = Some(genBefore))
      .orderBy("query_id", "rank").collect() shouldBe before
    // reconciliation guard: a frame that is NOT the indexed
    // build+extend union is refused loudly — codes/ is rewritten from
    // the caller's frame, so a subset would silently drop indexed
    // vectors and a superset would smuggle unindexed ones in
    val exSub = intercept[IllegalArgumentException] {
      Pq.rebalanceAnnIndex(drifted.filter(col("vec_id") < 150), path)
    }
    exSub.getMessage should include("does not match the indexed corpus")
    val exSup = intercept[IllegalArgumentException] {
      Pq.rebalanceAnnIndex(drifted.unionByName(
        drifted.filter(col("vec_id") === 0L)
          .withColumn("vec_id", lit(999L))), path)
    }
    exSup.getMessage should include("does not match the indexed corpus")
  }

  test("extendAnnIndex with a shardId is idempotent under re-application") {
    val path = graft.util.Scratch.dir("ann-ledger").toString
    val queries = emb.filter(col("vec_id") < 5)
    val cut = emb.agg(max("vec_id")).head.getLong(0) * 2 / 3
    val ann = Pq.annStore(path)
    ann.build(emb.filter(col("vec_id") <= cut))
    val shard = emb.filter(col("vec_id") > cut)
    ann.extend(shard, Some("day-2"))
    val once = Pq.annTopK(emb, queries, path, k = 10, nprobe = 4)
      .orderBy("query_id", "rank").collect()
    val codes = spark.read.parquet(s"$path/codes").count()
    // a retry re-delivers the shard: without the ledger the duplicate
    // code rows get ADC-scored twice and pollute the rerank candidates
    ann.extend(shard, Some("day-2"))
    spark.read.parquet(s"$path/codes").count() shouldBe codes
    Pq.annTopK(emb, queries, path, k = 10, nprobe = 4)
      .orderBy("query_id", "rank").collect() shouldBe once
  }

  test("ANN index maintenance: Manifest.compactSub on appended codes/ preserves results") {
    // three shard appends fragment every cell dir; the maintenance pass
    // is the manifest-aware compaction (a generation commit swapping
    // the live file list — in-flight readers and time travel survive),
    // and search must be bit-identical across it (cells are a partition
    // column, codes are data — the rewrite preserves both)
    val path = graft.util.Scratch.dir("ann-cmp").toString
    val queries = emb.filter(col("vec_id") < 5)
    val mx = emb.agg(max("vec_id")).head.getLong(0)
    val ann = Pq.annStore(path)
    ann.build(emb.filter(col("vec_id") <= mx / 2))
    ann.extend(emb.filter(col("vec_id") > mx / 2 && col("vec_id") <= mx * 3 / 4), None)
    ann.extend(emb.filter(col("vec_id") > mx * 3 / 4), None)
    val before = Pq.annTopK(emb, queries, path, k = 10, nprobe = 4)
      .orderBy("query_id", "rank").collect()
    val (nBefore, nAfter) =
      graft.util.Manifest.compactSub(spark, path, "codes", targetFileMB = 128)
    nAfter should be < nBefore
    val after = Pq.annTopK(emb, queries, path, k = 10, nprobe = 4)
    after.orderBy("query_id", "rank").collect() shouldBe before
    // pruning survives the rewrite (partition layout preserved)
    after.count()
    val codeScans = after.queryExecution.executedPlan.toString.split('\n')
      .filter(l => l.contains("FileScan") && l.contains("codes"))
    codeScans should not be empty
    codeScans.foreach(_ should include("PartitionFilters: [cell"))
  }

  test("annTopK at a different probe budget still matches recompute") {
    val path = graft.util.Scratch.dir("ann-idx2").toString
    val queries = emb.filter(col("vec_id") < 5)
    // un-refined books exercise the kmeansIters=0 round-trip
    Pq.annStore(path).build(emb)
    val stored = Pq.annTopK(emb, queries, path, k = 5, nprobe = 2)
    val fresh = Pq.ivfPqTopK(emb, queries, k = 5, nlist = 16, nprobe = 2)
    stored.orderBy("query_id", "rank").collect() shouldBe
      fresh.orderBy("query_id", "rank").collect()
  }
}
