package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class PcaSpec extends SparkSuite with Matchers {
  import spark.implicits._

  test("jacobiEigen diagonalizes a known symmetric matrix exactly") {
    // [[2,1],[1,2]]: eigenvalues 3 (axis (1,1)/√2) and 1 ((1,-1)/√2)
    val (values, vectors) = Pca.jacobiEigen(
      Array(Array(2d, 1d), Array(1d, 2d)))
    val byVal = values.zip(vectors).sortBy(-_._1)
    byVal(0)._1 shouldBe 3d +- 1e-12
    byVal(1)._1 shouldBe 1d +- 1e-12
    val r2 = 1d / math.sqrt(2d)
    math.abs(byVal(0)._2(0) * r2 + byVal(0)._2(1) * r2) shouldBe 1d +- 1e-10
    math.abs(byVal(1)._2(0) * r2 - byVal(1)._2(1) * r2) shouldBe 1d +- 1e-10
  }

  test("fit recovers a planted dominant axis") {
    // points stretched 10x along (3,4)/5 with small deterministic
    // off-axis noise: the first principal axis must align with it
    val axis = Array(0.6f, 0.8f)
    val rows = (0 until 200).map { i =>
      val t = (i % 41) - 20 // dominant coordinate, range ±20
      val noise = ((i * 7) % 11 - 5) * 0.05f
      (i.toLong, Array(t * axis(0) - noise * axis(1), t * axis(1) + noise * axis(0)))
    }
    val df = rows.toDF("vec_id", "embedding")
    val m = Pca.fit(df, k = 1)
    val cosine = math.abs(m.components(0)(0) * axis(0) + m.components(0)(1) * axis(1))
    cosine shouldBe 1d +- 1e-3
    m.varianceRatio should be > 0.99
  }

  test("pcaInvariants all hold on the embeddings corpus") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val row = Pca.pcaInvariants(emb, k = 16).head()
    for (i <- 0 until 6) withClue(s"invariant $i:") {
      row.getBoolean(i) shouldBe true
    }
  }

  test("pcaTopK: reduced-space candidates + exact rerank reach high " +
      "recall vs brute force, with exact emitted cosines") {
    def recallAt(emb: org.apache.spark.sql.DataFrame, kDims: Int,
                 mult: Int): (Double, Long, Double) = {
      val queries = emb.filter(col("vec_id") < 5)
      val model = Pca.fit(emb, k = kDims)
      val approx = Pca.pcaTopK(emb, queries, model, k = 10, mult = mult)
      val exact = Similarity.bruteForceTopK(emb, queries, 10)
      val total = exact.count()
      val hits = exact.select(col("query_id"), col("neighbor_id"))
        .join(approx.select(col("query_id"), col("neighbor_id")),
          Seq("query_id", "neighbor_id")).count()
      val mismatches = approx.join(exact.select(col("query_id"),
          col("neighbor_id"), col("cos").as("ref_cos")),
        Seq("query_id", "neighbor_id"))
        .filter(col("cos") =!= col("ref_cos")).count()
      (hits.toDouble / total, mismatches, model.varianceRatio)
    }
    val plain = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clustered = Similarity.clusteredCorpus(plain)
    // clustered corpus (where reduction is actually deployed): 16 of 64
    // dims keep the cluster geometry -> high recall
    val (rc, mc, vc) = recallAt(clustered, kDims = 16, mult = 8)
    info(s"clustered recall@10, 16 dims, mult=8: $rc (var ratio $vc)")
    rc should be >= 0.9
    mc shouldBe 0L
    // near-isotropic corpus: the same config degrades (the projection
    // has little structure to keep) - documents WHY the gate runs on
    // the clustered corpus, and the rerank stays exact regardless
    val (rp, mp, vp) = recallAt(plain, kDims = 16, mult = 4)
    info(s"plain recall@10, 16 dims, mult=4: $rp (var ratio $vp)")
    rp should be < 0.9
    mp shouldBe 0L
    // the check surface agrees on the clustered corpus
    val row = Pca.pcaSearchCheck(clustered).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("project emits k-wide vectors and full-rank projection preserves " +
      "pairwise dot products") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .filter(col("vec_id") < 20)
    val d = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    val m = Pca.fit(emb, k = d)
    val proj = Pca.project(emb, m).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    proj.values.foreach(_.length shouldBe d)
    val orig = emb.collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val mean = m.mean
    for (a <- 0L until 5L; b <- (a + 1) until 5L) {
      val dotOrig = (0 until d).map(i =>
        (orig(a)(i) - mean(i)) * (orig(b)(i) - mean(i))).sum
      val dotProj = (0 until d).map(i =>
        proj(a)(i).toDouble * proj(b)(i)).sum
      dotProj shouldBe dotOrig +- math.max(1e-3, math.abs(dotOrig) * 1e-4)
    }
    // reduced projection really reduces
    Pca.project(emb, Pca.fit(emb, k = 8)).head()
      .getSeq[Float](1).length shouldBe 8
  }

  test("ivfResidual: full-rank residual expansion reproduces exact " +
      "cosines (the decomposition is exact at kDims = d)") {
    // q̂·û = q̂·(ĉ+μ_c) + (W q̂)·(W ρ) EXACTLY when W is d×d orthonormal
    // — so the residual ranking at kDims = d must recover the true
    // top-k (ε only absorbs float-projection rounding) and the rerank
    // must emit exact cosines. A fabricated ranking cannot pass: the
    // identity ties the approx score to the true cosine value.
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val d = emb.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0)
    // nprobe = nlist (all cells): the invariant isolates RANKING
    // fidelity — probe loss is a separate, budgeted approximation the
    // clustered-corpus test below grades at the scaled config
    val row = Pca.ivfResidualCheck(emb, kDims = d, nprobe = Int.MaxValue,
      minRecall = 0.999, epsTies = 1e-4).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("ivfResidual: per-cell axes hold the recall bar on the clustered " +
      "corpus at the scaled budgets") {
    val plain = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clustered = Similarity.clusteredCorpus(plain)
    val row = Pca.ivfResidualCheck(clustered).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("calibratePcaIvfNprobe: floor binds when it already serves the " +
      "bar; a floor at nlist is returned verbatim") {
    val plain = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val clustered = Similarity.clusteredCorpus(plain)
    val model = Pca.fit(clustered, 16)
    val cents = Similarity.coarseCentroids(
      Pca.project(clustered, model, projCol = "embedding"), 16, iters = 3)
    val np = Pca.calibratePcaIvfBudget(clustered, model, cents, floor = 8).nprobe
    np should be >= 8
    np should be <= 16
    // the calibrated budget serves the check's own contract
    val row = Pca.pcaIvfCheck(clustered, nlist = 16, nprobe = np,
      modelOpt = Some(model), centsOpt = Some(cents)).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
    Pca.calibratePcaIvfBudget(clustered, model, cents, floor = 16).nprobe shouldBe 16
  }

  test("ivfResidual: fit is deterministic for a fixed input layout") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val a = Pca.fitIvfResidual(emb, kDims = 8)
    val b = Pca.fitIvfResidual(emb, kDims = 8)
    a.nlist shouldBe b.nlist
    a.centers.zip(b.centers).foreach { case (x, y) =>
      x.toSeq shouldBe y.toSeq
    }
    a.axes.zip(b.axes).foreach { case (x, y) =>
      x.map(_.toSeq).toSeq shouldBe y.map(_.toSeq).toSeq
    }
  }

  test("ivfResidual store: lifecycle contract + ledger no-op") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = graft.util.Scratch.dir("rproj-spec-").toString
    val t = pmod(col("vec_id"), lit(3))
    val residual = Pca.residualStore(store)
    residual.build(emb.filter(t === 0))
    residual.extend(emb.filter(t === 1), Some("t1"))
    residual.extend(emb.filter(t === 2), Some("t2"))
    residual.extend(emb.filter(t === 1), Some("t1")) // no-op
    val row = Pca.ivfResidualStoreCheck(emb, store, kDims = 8,
      expectShards = 3).head()
    for (i <- 0 until 4) withClue(s"flag $i:") {
      row.getBoolean(i) shouldBe true
    }
    // the store-fitted model ranks identically to a from-scratch fit
    // against the SAME frozen layout: moments are additive, so the
    // eigenproblems are the same up to shard-wise float association
    val fromStore = Pca.ivfResidualFromStore(spark, store, kDims = 8)
    val queries = emb.filter(col("vec_id") < 3)
    val a = Pca.ivfResidualTopK(emb, queries, fromStore, k = 5,
      nprobe = fromStore.nlist, pool = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val oneShot = Pca.fitIvfResidual(emb, kDims = 8,
      centsOpt = Some(fromStore.cents))
    val b = Pca.ivfResidualTopK(emb, queries, oneShot, k = 5,
      nprobe = oneShot.nlist, pool = 10).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    a shouldBe b
  }

  test("ivfResidual store: non-vacuous — an unledgered double apply " +
      "breaks moments_match") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = graft.util.Scratch.dir("rproj-spec-").toString
    val t = pmod(col("vec_id"), lit(2))
    val residual = Pca.residualStore(store)
    residual.build(emb.filter(t === 0))
    residual.extend(emb.filter(t === 1), None)
    residual.extend(emb.filter(t === 1), None)
    val row = Pca.ivfResidualStoreCheck(emb, store, kDims = 8,
      expectShards = 3).head()
    row.getBoolean(0) shouldBe false // moments_match
  }

  test("incremental moment store: lifecycle contract + ledger no-op") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = graft.util.Scratch.dir("pca-spec-").toString
    val t = pmod(col("vec_id"), lit(3))
    val moments = Pca.momentStore(store)
    moments.build(emb.filter(t === 0))
    // a re-run build (streaming batch-0 retry) overwrites, never
    // double-counts
    moments.build(emb.filter(t === 0))
    moments.extend(emb.filter(t === 1), Some("t1"))
    moments.extend(emb.filter(t === 2), Some("t2"))
    moments.extend(emb.filter(t === 1), Some("t1")) // ledgered no-op
    val row = Pca.incrementalCheck(emb, store, k = 16, expectShards = 3).head()
    for (i <- 0 until 4) withClue(s"flag $i:") {
      row.getBoolean(i) shouldBe true
    }
    // the store-fitted model matches the one-shot fit axis by axis up
    // to sign (shard-wise float association differs only in last bits)
    val fromStore = Pca.fitFromStore(spark, store, k = 4)
    val oneShot = Pca.fit(emb, k = 4)
    fromStore.components.zip(oneShot.components).foreach { case (a, b) =>
      val dot = math.abs(a.zip(b).map { case (x, y) => x * y }.sum)
      dot shouldBe 1d +- 1e-6
    }
  }

  test("incremental store: non-vacuous — an unledgered double apply breaks the contract") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val store = graft.util.Scratch.dir("pca-spec-").toString
    val t = pmod(col("vec_id"), lit(2))
    val moments = Pca.momentStore(store)
    moments.build(emb.filter(t === 0))
    // a retry that BYPASSES the ledger double-counts the shard's
    // moments — weight reconciliation must catch it
    moments.extend(emb.filter(t === 1), None)
    moments.extend(emb.filter(t === 1), None)
    val row = Pca.incrementalCheck(emb, store, k = 4, expectShards = 3).head()
    row.getBoolean(0) shouldBe false // moments_match
  }
}
