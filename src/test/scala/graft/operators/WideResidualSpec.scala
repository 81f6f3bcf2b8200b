package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** r16: the wide-embedding residual arm — global PCA pre-reduction
  * making the residual family's moment budget nlist-free at full
  * width, with candidates in the reduced space and exact full-width
  * rerank (the momentBudget refusal's documented workaround, now
  * in-engine).
  */
class WideResidualSpec extends SparkSuite with Matchers {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  /** Width-preserving corpus widener (the AnnDispatchSpec fixture):
    * each copy is a diagonal ±1 transform, so every pairwise cosine is
    * preserved — the d = 64 geometry restated at d = 64·copies.
    */
  private def widen(df: org.apache.spark.sql.DataFrame,
                    copies: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("embedding", concat((0 until copies).map(j =>
      transform(col("embedding"), (x, i) =>
        when(pmod(i + lit(j), lit(3)) === 0, -x).otherwise(x))): _*))

  test("ivfResidualTopKWide: at nprobe = nlist with an uncut pool the " +
      "answer IS the exact full-width reference, even under a heavily " +
      "lossy reduction (probing everything leaves only the exact rerank)") {
    val corpus = emb.filter(col("vec_id") < 200)
    val n = corpus.count().toInt
    // dRed = 8 of 64: the reduced ranking is badly lossy on purpose —
    // with every cell probed and pool = n the candidate set is the
    // whole corpus, so the exact-rerank tail must recover the exact
    // answer regardless of how the reduced space mangles the ranking
    val wmodel = Pca.fitIvfResidualWide(corpus, kDims = 4, dRed = 8,
      nlist = 8)
    wmodel.d shouldBe 64
    wmodel.dRed shouldBe 8
    wmodel.rmodel.d shouldBe 8
    val queries = corpus.filter(col("vec_id") < 20)
    val got = Pca.ivfResidualTopKWide(corpus, queries, wmodel, k = 5,
      nprobe = wmodel.nlist, pool = n)
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
    got.select("query_id", "neighbor_id", "cos", "rank").except(exact).count() shouldBe 0L
    exact.except(got.select("query_id", "neighbor_id", "cos", "rank")).count() shouldBe 0L
  }

  test("the wide arm serves a d = 768 corpus under a moment budget " +
      "that refuses the plain residual fit at the same nlist — the " +
      "refusal message's in-engine workaround, demonstrated") {
    val wide = Dedup.materialize(widen(emb.filter(col("vec_id") < 200), 12))
    wide.select(org.apache.spark.sql.functions.size(col("embedding")))
      .head().getInt(0) shouldBe 768
    val prev = Pca.maxMomentTaskBytes
    try {
      // nlist = 16 at d = 768: 16·(1+768+768·769/2)·8 ≈ 37.9 MB — over
      // a 20 MB budget, so the plain fit refuses at plan time...
      Pca.maxMomentTaskBytes = 20L * 1024 * 1024
      val e = intercept[org.apache.spark.SparkException] {
        Pca.fitIvfResidual(wide, kDims = 16, nlist = 16)
      }
      e.getMessage should include("fitIvfResidualWide")
      // ...while the wide arm's reduced-space moments at the SAME
      // nlist are 16·(1+64+64·65/2)·8 ≈ 274 KB — under the same
      // budget, and the recall contract is graded at FULL width
      val wmodel = Pca.fitIvfResidualWide(wide, kDims = 16, dRed = 64,
        nlist = 16)
      wmodel.d shouldBe 768
      val row = Pca.ivfResidualWideCheck(wide, nprobe = wmodel.nlist,
        wmodelOpt = Some(wmodel)).head()
      row.getBoolean(0) shouldBe true
      row.getBoolean(1) shouldBe true
    } finally Pca.maxMomentTaskBytes = prev
  }

  test("lossy reduction is priced by the measured ladder: dRed = 16 of " +
      "64 on the clustered corpus, budget resolved by calibration " +
      "(nprobe = 0), contract green at full width") {
    val clustered = Dedup.materialize(Similarity.clusteredCorpus(emb))
    val wmodel = Pca.fitIvfResidualWide(clustered, kDims = 8, dRed = 16,
      nlist = 16)
    val budget = Pca.calibrateWideResidualBudget(clustered, wmodel)
    budget.measured shouldBe true
    budget.ok shouldBe true
    val row = Pca.ivfResidualWideCheck(clustered,
      wmodelOpt = Some(wmodel)).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("annTopKAutoWide: the wide dispatch never serves an unverified " +
      "arm over a green one, a supplied dispatch serves scan-free and " +
      "identically to the chosen arm's direct call") {
    val clustered = Dedup.materialize(Similarity.clusteredCorpus(emb))
    val n = clustered.count()
    val model = Pca.fit(clustered, 16)
    val cents = Similarity.coarseCentroids(
      Pca.project(clustered, model, projCol = "embedding"), 16, iters = 3)
    val wmodel = Pca.fitIvfResidualWide(clustered, kDims = 8, dRed = 16,
      nlist = 16)
    val disp = Pca.annDispatchWide(clustered, model, cents, wmodel)
    disp.n shouldBe n
    val chosen = if (disp.residual) disp.resid else disp.global
    val other = if (disp.residual) disp.global else disp.resid
    withClue(s"chosen=$chosen other=$other:") {
      (chosen.ok || !other.ok) shouldBe true
    }
    chosen.measured shouldBe true
    val queries = clustered.filter(col("vec_id") < 20)
    val auto = Pca.annTopKAutoWide(clustered, queries, model, cents,
      wmodel, k = 5, dispatchOpt = Some(disp))
    val direct =
      if (disp.residual)
        Pca.ivfResidualTopKWide(clustered, queries, wmodel, 5,
          disp.resid.nprobe, math.max(8,
            math.ceil(0.25 * disp.resid.nprobe * (n.toDouble / wmodel.nlist) / 5).toInt) * 5)
      else
        Pca.pcaIvfTopK(clustered, queries, model, 5, cents.length,
          disp.global.nprobe, mult = math.max(8,
            math.ceil(0.25 * disp.global.nprobe * (n.toDouble / cents.length) / 5).toInt),
          centsOpt = Some(cents))
    auto.except(direct).count() shouldBe 0L
    direct.except(auto).count() shouldBe 0L
  }

  test("a WIDE dispatch persists through the decision store " +
      "(arm-agnostic row): stored verdict round-trips bit-identical " +
      "and annTopKAutoWide serves from it scan-free") {
    val clustered = Dedup.materialize(Similarity.clusteredCorpus(emb))
    val model = Pca.fit(clustered, 16)
    val cents = Similarity.coarseCentroids(
      Pca.project(clustered, model, projCol = "embedding"), 16, iters = 3)
    val wmodel = Pca.fitIvfResidualWide(clustered, kDims = 8, dRed = 16,
      nlist = 16)
    val disp = Pca.annDispatchWide(clustered, model, cents, wmodel)
    val store = graft.util.Scratch.dir("graft-wide-disp").toString
    Pca.buildAnnDispatchStore(spark, store, disp)
    val back = Pca.annDispatchFromStore(spark, store)
    back shouldBe disp
    val queries = clustered.filter(col("vec_id") < 20)
    val viaStore = Pca.annTopKAutoWide(clustered, queries, model, cents,
      wmodel, k = 5, dispatchOpt = Some(back))
    val viaLive = Pca.annTopKAutoWide(clustered, queries, model, cents,
      wmodel, k = 5, dispatchOpt = Some(disp))
    viaStore.except(viaLive).count() shouldBe 0L
    viaLive.except(viaStore).count() shouldBe 0L
  }

  test("crossDispatch at width (r16): a corpus whose plain moments " +
      "exceed the budget dispatches through the WIDE arm instead of " +
      "crashing, and the wide cross path at nprobe = nlist with an " +
      "uncut pool equals the exact cross reference") {
    // full 500-row base: at n = 400 the banded arm's analytic cost
    // (n · 48 planes) exceeds the single-query residual arm's, so the
    // stage-1 comparison passes and the stage-2 fit — where the width
    // routing lives — runs
    val wide = Dedup.materialize(widen(emb, 12)) // d = 768
    val corpus = wide.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = wide.filter(pmod(col("vec_id"), lit(5)) === 0)
    val n = corpus.count()
    val prev = Pca.maxMomentTaskBytes
    try {
      // 20 MB: refuses plain d = 768 moments at any nlist >= 9, while
      // the wide arm's reduced-space moments fit easily
      Pca.maxMomentTaskBytes = 20L * 1024 * 1024
      // nQueries = 1 keeps the stage-1 analytic comparison on the
      // residual side (a query-heavy call would honestly stay banded
      // at this tiny n), so the dispatch must reach the stage-2 fit —
      // where the width routing lives
      val cd = Pca.crossDispatch(corpus, nQueries = 1L, k = 3,
        threshold = 0.4)
      // the dispatcher measured the wide arm (no crash, no plain fit)
      withClue(s"dispatch=$cd n=$n:") {
      cd.wmodel.isDefined shouldBe true
      }
      cd.rmodel shouldBe None
      cd.resid.get.measured shouldBe true
      // exactness identity of the wide cross path: all cells probed +
      // uncut pool leaves only the exact full-width rerank
      val wm = cd.wmodel.get
      val got = Pca.ivfResidualTopKCrossWide(corpus, queries, wm, k = 3,
        nprobe = wm.nlist, pool = n.toInt, threshold = 0.4)
      // id spaces are disjoint (%5 split), so the self-exclusion in
      // bruteForceTopK never fires and it IS the exact cross reference
      val exact = Similarity.bruteForceTopK(corpus, queries, 3)
        .filter(col("cos") >= 0.4)
        .select(col("query_id"), col("neighbor_id"), col("cos"))
      got.except(exact).count() shouldBe 0L
      exact.except(got).count() shouldBe 0L
      // and the auto entry point serves through the same dispatch
      val auto = Pca.knnJoinCrossAuto(queries, corpus, threshold = 0.4,
        k = 3, dispatchOpt = Some(cd.copy(residual = true,
          resid = Some(Pca.CalibratedBudget(wm.nlist, 1.0,
            measured = true, ok = true)))), mult = n.toInt)
      auto.except(exact).count() shouldBe 0L
      exact.except(auto).count() shouldBe 0L
    } finally Pca.maxMomentTaskBytes = prev
  }

  test("semanticDecontaminateAuto at width (r16): forced residual on a " +
      "d = 768 corpus under a refusing budget routes through the wide " +
      "arm and kills exactly the true above-threshold partner set " +
      "(kill-sparse sample -> refuse-to-prune -> exact coverage)") {
    import spark.implicits._
    val base = emb.filter(col("vec_id") < 250)
    val wide = Dedup.materialize(widen(base, 12))
    val corpusVecs = wide.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    // bench = 3 corpus vectors verbatim: each is a guaranteed
    // cosine-1.0 kill of itself (and any true near-dups)
    val benchVecs = corpusVecs.filter(col("vec_id").isin(1L, 7L, 13L))
    val docs = corpusVecs.select(col("vec_id").as("doc_id"))
    val prev = Pca.maxMomentTaskBytes
    try {
      Pca.maxMomentTaskBytes = 20L * 1024 * 1024
      val survivors = Curation.semanticDecontaminateAuto(docs, corpusVecs,
        benchVecs, threshold = 0.95, force = Some(true))
      // exact kill reference INCLUDING same-id pairs (the id spaces
      // overlap here, and a same-id partner is a real kill — the r15
      // ADVICE finding-4 population)
      import graft.functions.VectorFunctions
      val a = corpusVecs.select(col("vec_id").as("doc_id"),
        col("embedding").as("ea"),
        VectorFunctions.norm(col("embedding")).as("na"))
      val b = benchVecs.select(col("embedding").as("eb"),
        VectorFunctions.norm(col("embedding")).as("nb"))
      val exactDirty = a.join(broadcast(b), lit(true))
        .withColumn("cos", round(VectorFunctions.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6))
        .filter(col("cos") >= 0.95).select("doc_id").distinct()
      val exactSurvivors = docs.join(exactDirty, Seq("doc_id"), "left_anti")
      survivors.except(exactSurvivors).count() shouldBe 0L
      exactSurvivors.except(survivors).count() shouldBe 0L
      // the planted kills really died (non-vacuous)
      survivors.filter(col("doc_id").isin(1L, 7L, 13L)).count() shouldBe 0L
    } finally Pca.maxMomentTaskBytes = prev
  }
}
