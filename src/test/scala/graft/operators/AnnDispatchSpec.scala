package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

/** r15: the serving dispatchers — annTopKAuto's two-arm choice by
  * measured calibrated budgets, the cross-set residual path, and the
  * measured-at-cap calibration contract (r14 ADVICE).
  */
class AnnDispatchSpec extends SparkSuite with Matchers {

  private def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("annDispatchFrom: decision table — green beats unverified, " +
      "cheaper budget wins among green, ties prefer global") {
    def b(np: Int, rec: Double, ok: Boolean) =
      Pca.CalibratedBudget(np, rec, measured = true, ok)
    // only one arm verified green -> that arm, whatever the budgets
    Pca.annDispatchFrom(b(8, 0.99, ok = true), b(4, 0.80, ok = false), 16)
      .residual shouldBe false
    Pca.annDispatchFrom(b(4, 0.80, ok = false), b(8, 0.99, ok = true), 16)
      .residual shouldBe true
    // both green -> cheaper calibrated budget
    Pca.annDispatchFrom(b(32, 0.99, ok = true), b(8, 0.99, ok = true), 64)
      .residual shouldBe true
    Pca.annDispatchFrom(b(8, 0.99, ok = true), b(32, 0.99, ok = true), 64)
      .residual shouldBe false
    // tie -> global (one eigenproblem + reduced-space scoring)
    Pca.annDispatchFrom(b(8, 0.99, ok = true), b(8, 0.99, ok = true), 16)
      .residual shouldBe false
    // neither green -> least-bad measured recall
    Pca.annDispatchFrom(b(16, 0.70, ok = false), b(16, 0.85, ok = false), 16)
      .residual shouldBe true
  }

  test("annTopKAuto: the dispatched arm is measured-green and the " +
      "auto check holds its contract on the clustered corpus") {
    val clustered = Dedup.materialize(Similarity.clusteredCorpus(emb))
    val model = Pca.fit(clustered, 16)
    val cents = Similarity.coarseCentroids(
      Pca.project(clustered, model, projCol = "embedding"), 16, iters = 3)
    val rmodel = Pca.fitIvfResidual(clustered, kDims = 16, nlist = 16)
    val disp = Pca.annDispatch(clustered, model, cents, rmodel)
    // whatever arm wins, the dispatcher must never serve an unverified
    // budget while the other arm measured green
    val chosen = if (disp.residual) disp.resid else disp.global
    val other = if (disp.residual) disp.global else disp.resid
    withClue(s"chosen=$chosen other=$other:") {
      (chosen.ok || !other.ok) shouldBe true
    }
    chosen.measured shouldBe true
    // the auto check (spread-sample grading) holds through the
    // dispatched path without re-calibrating
    val row = Pca.annAutoCheck(clustered, model, cents, rmodel,
      dispatchOpt = Some(disp)).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("ivfResidualTopKCross: at nprobe = nlist with an uncut pool the " +
      "answer IS the exact cross reference (probing all cells leaves " +
      "only the exact rerank)") {
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .filter(col("vec_id") < 40)
    val n = corpus.count().toInt
    val rmodel = Pca.fitIvfResidual(corpus, kDims = 8)
    val got = Pca.ivfResidualTopKCross(corpus, queries, rmodel, k = 5,
      nprobe = rmodel.nlist, pool = n)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = Similarity.bruteForceTopK(corpus, queries, 5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe exact
  }

  test("ivfResidualTopKCross: the threshold band drops below-band rows " +
      "(the knnJoinCross contract)") {
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .filter(col("vec_id") < 40)
    val n = corpus.count().toInt
    val rmodel = Pca.fitIvfResidual(corpus, kDims = 8)
    val banded = Pca.ivfResidualTopKCross(corpus, queries, rmodel, k = 5,
      nprobe = rmodel.nlist, pool = n, threshold = 0.4).collect()
    banded.foreach(_.getDouble(2) should be >= 0.4)
    val unbanded = Pca.ivfResidualTopKCross(corpus, queries, rmodel, k = 5,
      nprobe = rmodel.nlist, pool = n)
    unbanded.filter(col("cos") >= 0.4).count() shouldBe banded.length.toLong
  }

  test("residualThresholdCross: at nprobe = nlist the probed pair set " +
      "equals the exact cross pairs above threshold") {
    import graft.functions.VectorFunctions
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    val rmodel = Pca.fitIvfResidual(corpus, kDims = 8)
    val got = Pca.residualThresholdCross(corpus, bench, rmodel,
      nprobe = rmodel.nlist, threshold = 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val exact = corpus.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"),
        VectorFunctions.norm(col("embedding")).as("na"))
      .join(bench.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"),
        VectorFunctions.norm(col("embedding")).as("nb")))
      .withColumn("cos", round(VectorFunctions.dot(col("ea"), col("eb")) /
        (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.45)
      .select("id_a", "id_b", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    got shouldBe exact
  }

  test("semanticDeconResidualCheck: both contract flags hold when every " +
      "cell is probed (coverage is then exact by construction)") {
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    val rmodel = Pca.fitIvfResidual(corpus, kDims = 8)
    val row = Curation.semanticDeconResidualCheck(corpus, bench, 0.45,
      modelOpt = Some(rmodel), nprobe = rmodel.nlist).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("crossDispatch: stage-1 analytics — a query-heavy call keeps the " +
      "banded arm without fitting; knnJoinCrossAuto's banded branch " +
      "serves the PRICED wide-arm geometry verbatim") {
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    // at gate scale the corpus signature amortizes over the query set:
    // analytic residual cost (probe floor × occupancy × kDims per
    // query) exceeds the banded scan, so stage 1 decides banded with
    // rmodel = None — no training paid for a decision training can't
    // change
    val cd = Pca.crossDispatch(corpus, queries.count())
    cd.residual shouldBe false
    cd.rmodel shouldBe None
    cd.analyticResidual should be >= cd.analyticBanded
    // r16 (r15 ADVICE finding 2): the served banded geometry IS the
    // priced one — the occupancy-scaled wide arm at the cross recall
    // bar, not the fixed 32x16 default the dispatcher never costed
    val (planes, bands, mp) = Similarity.scaledLshConfigWideArm(
      corpus.count(), 0.4, recallBar = Pca.crossBandRecallBar)
    val auto = Pca.knnJoinCrossAuto(queries, corpus, 0.4, k = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val explicit = Similarity.knnJoinCross(queries, corpus, 0.4, k = 3,
      numPlanes = planes, bands = bands, multiProbe = mp)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    auto shouldBe explicit
    // and the wide-arm answer still equals the exact cross kNN on this
    // corpus (recall 1.0 at the escalated geometry, like every pinned
    // recall-1.0 LSH claim)
    val exact = Similarity.bruteForceTopK(corpus, queries, 3)
      .filter(col("cos") >= 0.4)
      .select("query_id", "neighbor_id", "cos")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    auto shouldBe exact
  }

  test("crossDispatch stage 2 re-evaluates the cost inequality at the " +
      "CALIBRATED budget (r15 ADVICE finding 1): a ballooned budget " +
      "that now loses to the banded arm is not dispatched residual") {
    val corpus = emb
    // one query: stage 1's floor-priced residual cost wins easily; a
    // supplied at-cap budget (nprobe = nlist) with a wide kDims then
    // pushes the re-evaluated cost past the banded scan
    val (nlist, _) = Similarity.scaledIvfConfig(corpus.count())
    val atCap = Pca.CalibratedBudget(nlist, 1.0, measured = true, ok = true)
    val cd = Pca.crossDispatch(corpus, nQueries = 1L, kDims = 64,
      budgetOpt = Some(atCap))
    // the re-evaluated cost includes the assignment term and exceeds
    // the banded arm -> banded despite budget.ok (at n = 500 / d = 64:
    // calibrated ~33.5k dot-equivalents vs banded 500·48 = 24k)
    withClue(s"banded=${cd.analyticBanded} calibrated=${cd.analyticResidual}:") {
      cd.analyticResidual should be >= cd.analyticBanded
      cd.residual shouldBe false
    }
    // and with a cheap green budget the residual arm stays dispatched
    val cheap = Pca.CalibratedBudget(math.max(1, nlist / 4), 1.0,
      measured = true, ok = true)
    val cd2 = Pca.crossDispatch(corpus, nQueries = 1L, kDims = 8,
      budgetOpt = Some(cheap))
    withClue(s"banded=${cd2.analyticBanded} calibrated=${cd2.analyticResidual}:") {
      cd2.analyticResidual should be < cd2.analyticBanded
      cd2.residual shouldBe true
    }
  }

  test("knnJoinCrossAuto: the forced residual branch serves a calibrated " +
      "budget and stays inside the exact answer's band") {
    val corpus = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val queries = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
      .filter(col("vec_id") < 40)
    val got = Pca.knnJoinCrossAuto(queries, corpus, 0.4, k = 3,
      force = Some(true)).collect()
    // every emitted cosine is exact (rerank contract): re-derive from
    // the exact cross reference rows
    val exact = Similarity.bruteForceTopK(corpus, queries, corpus.count().toInt)
      .select(col("query_id"), col("neighbor_id"), col("cos").as("ref"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    got.foreach { r =>
      r.getDouble(2) shouldBe exact((r.getLong(0), r.getLong(1)))
      r.getDouble(2) should be >= 0.4
    }
  }

  test("calibration ladder: a floor at the cap is still MEASURED at the " +
      "cap (r14 ADVICE — no unverified budget can leave the ladder " +
      "unmarked)") {
    val clustered = Dedup.materialize(Similarity.clusteredCorpus(emb))
    val rmodel = Pca.fitIvfResidual(clustered, kDims = 16, nlist = 16)
    val atCap = Pca.calibrateResidualBudget(clustered, rmodel,
      floor = rmodel.nlist)
    atCap.nprobe shouldBe rmodel.nlist
    atCap.measured shouldBe true
    // and an exhausted ladder reports ok = false with the recall it
    // measured AT the cap, instead of returning the cap silently: at
    // kDims = 1 on the near-isotropic corpus the ranking is too coarse
    // for the bar at ANY probe budget (ranking-bound by construction)
    val coarse = Pca.fitIvfResidual(emb, kDims = 1, nlist = 16)
    val exhausted = Pca.calibrateResidualBudget(emb, coarse, bar = 0.999,
      mult = 1)
    exhausted.measured shouldBe true
    if (!exhausted.ok) {
      exhausted.nprobe shouldBe coarse.nlist
      exhausted.recall should be < 1.0
    }
  }

  test("calibrateThresholdNprobe: a kill-sparse sample refuses to prune " +
      "(returns nlist), and the budget always lands in [floor, nlist]") {
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    val rmodel = Pca.fitIvfResidual(corpus, kDims = 8)
    // at threshold 0.45 this corpus holds a handful of kills — far
    // under minEvidence, so the sample carries no information about
    // where kills live and the honest budget is everything
    Pca.calibrateThresholdNprobe(corpus, rmodel, bench,
      threshold = 0.45) shouldBe rmodel.nlist
    // evidence-rich regime (low threshold): the calibration prunes to
    // a measured prefix within the contract bounds
    val np = Pca.calibrateThresholdNprobe(corpus, rmodel, bench,
      threshold = 0.0, floor = 4)
    np should be >= 4
    np should be <= rmodel.nlist
    // and the kill set at the calibrated budget covers the bar (the
    // contract the gate pins at 0.45 via the refuse-to-prune path)
    val row = Curation.semanticDeconResidualCheck(corpus, bench, 0.45,
      modelOpt = Some(rmodel)).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }

  test("ann dispatch store: round-trip identity, extend keeps the " +
      "decision and folds n (re-delivery no-op), recalibrate " +
      "re-measures and asOf serves the old verdict") {
    val clustered = Dedup.materialize(Similarity.clusteredCorpus(emb))
    val model = Pca.fit(clustered, 16)
    val cents = Similarity.coarseCentroids(
      Pca.project(clustered, model, projCol = "embedding"), 16, iters = 3)
    val rmodel = Pca.fitIvfResidual(clustered, kDims = 16, nlist = 16)
    val path = graft.util.Scratch.dir("graft-disp-spec").toString
    val built = Pca.buildAnnDispatchStore(spark, path,
      Pca.annDispatch(clustered, model, cents, rmodel))
    built.n shouldBe clustered.count()
    // exact round-trip: the stored verdict IS the live one (doubles
    // round-trip bit-exactly in parquet)
    val read = Pca.annDispatchFromStore(spark, path)
    read shouldBe built
    // serving from the stored decision is row-identical to serving
    // from the live-calibrated one — the r15 VERDICT "done" criterion
    val queries = clustered.filter(col("vec_id") < 40)
    def serve(d: Pca.AnnDispatch) =
      Pca.annTopKAuto(clustered, queries, model, cents, rmodel,
        dispatchOpt = Some(d))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .toSet
    serve(read) shouldBe serve(built)
    // extend keeps the decision, folds the tranche count in, and a
    // re-delivered shard id is a ledger no-op (n cannot double-count)
    Pca.extendAnnDispatchStore(spark, path, 100L, Some("t1"))
    Pca.extendAnnDispatchStore(spark, path, 100L, Some("t1"))
    val extended = Pca.annDispatchFromStore(spark, path)
    extended.n shouldBe built.n + 100L
    extended.copy(n = built.n) shouldBe built
    val genBefore = graft.util.Manifest.snapshot(spark, path).gen
    // recalibrate = one rewrite generation: fresh verdict, extents
    // retired (its n is the recalibration corpus's own count); asOf
    // still serves the pre-rebalance verdict
    val rec = Pca.recalibrateAnnDispatchStore(spark, path,
      Pca.annDispatch(clustered, model, cents, rmodel))
    val now = Pca.annDispatchFromStore(spark, path)
    now shouldBe rec
    now.n shouldBe built.n
    Pca.annDispatchFromStore(spark, path, asOf = Some(genBefore)) shouldBe
      extended
  }

  test("probeCellsOf nprobe=1 fast path: all-NaN centroid scores " +
      "(zero-norm cells) return the sort path's cell, never an invalid " +
      "id (r15 ADVICE finding 5)") {
    val zero = Array.fill(4)(0f)
    val v = Array(1f, 2f, 3f, 4f)
    // every centroid zero-norm: s = -0/0 = NaN for all — the fast path
    // must match the general path's TotalOrdering tiebreak (min cid)
    val allNaN: Similarity.Cents = Array((7, zero, 0.0), (3, zero, 0.0))
    Similarity.probeCellsOf(v, allNaN, 1)(0) shouldBe 3
    Similarity.probeCellsOf(v, allNaN, 2)(0) shouldBe 3
    // mixed: a NaN-scoring cell never outranks a real one on either path
    val mixed: Similarity.Cents =
      Array((5, zero, 0.0), (2, Array(1f, 0f, 0f, 0f), 1.0))
    Similarity.probeCellsOf(v, mixed, 1)(0) shouldBe 2
    Similarity.probeCellsOf(v, mixed, 2)(0) shouldBe 2
  }

  test("calibrateThresholdNprobe counts same-id partners — the served " +
      "population includes them (r15 ADVICE finding 4)") {
    // corpus and queries are the SAME table: every sampled query has
    // its identical partner at cosine 1.0 in its own top cell. The r15
    // query_id =!= vec_id predicate excluded exactly those rows, so a
    // high-threshold calibration saw zero evidence and returned nlist;
    // counting the true served population, the evidence bar is met and
    // the calibration prunes to a measured prefix
    // (the 500-id fixture's residue-7 sample holds 5 queries, so the
    // evidence floor drops to 4 — with the r15 predicate the same call
    // saw ZERO evidence at this threshold and refused to prune)
    val rmodel = Pca.fitIvfResidual(emb, kDims = 8)
    val np = Pca.calibrateThresholdNprobe(emb, rmodel, emb,
      threshold = 0.999, minEvidence = 4)
    np should be < rmodel.nlist
    np should be >= 8
  }

  test("semanticDecontaminateAuto at the default bar (1.0 — r15 ADVICE " +
      "finding 3) equals the exact-cosine decon on both arms") {
    import graft.functions.VectorFunctions
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .filter(col("doc_id") % 10 =!= 0)
    val corpus = emb.filter(col("vec_id") % 10 =!= 0)
    val bench = emb.filter(col("vec_id") % 10 === 0)
    val exactDirty = corpus.select(col("vec_id").as("doc_id"),
        col("embedding").as("ea"),
        VectorFunctions.norm(col("embedding")).as("na"))
      .join(bench.select(col("embedding").as("eb"),
          VectorFunctions.norm(col("embedding")).as("nb")),
        round(VectorFunctions.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6) >= 0.45)
      .select("doc_id").distinct()
    val expect = docs.join(exactDirty, Seq("doc_id"), "left_anti")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val auto = Curation.semanticDecontaminateAuto(docs, corpus, bench, 0.45)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    auto shouldBe expect
    val forced = Curation.semanticDecontaminateAuto(docs, corpus, bench,
      0.45, force = Some(true)).select("doc_id").collect()
      .map(_.getLong(0)).toSet
    forced shouldBe expect
  }

  test("residualMoments width guard: the per-task accumulator budget " +
      "refuses a geometry that would silently OOM (quadratic in " +
      "embedding width)") {
    val prev = Pca.maxMomentTaskBytes
    try {
      Pca.maxMomentTaskBytes = 1024L // nlist·(1+d+d(d+1)/2)·8 ≫ 1 KB here
      val e = intercept[org.apache.spark.SparkException] {
        Pca.fitIvfResidual(emb, kDims = 8)
      }
      e.getMessage should include("residualMoments")
    } finally Pca.maxMomentTaskBytes = prev
  }

  /** Width-preserving corpus widener: each copy is a diagonal ±1
    * transform (sign pattern keyed on (dim, copy)), so every pairwise
    * dot scales by exactly `copies` and every cosine is preserved —
    * the d = 64 corpus's geometry restated at d = 64·copies.
    */
  private def widen(df: org.apache.spark.sql.DataFrame,
                    copies: Int): org.apache.spark.sql.DataFrame =
    df.withColumn("embedding", concat((0 until copies).map(j =>
      transform(col("embedding"), (x, i) =>
        when(pmod(i + lit(j), lit(3)) === 0, -x).otherwise(x))): _*))

  test("embedding width is a measured axis (r15 VERDICT task 4): the " +
      "residual family holds its recall contract at d = 256, off the " +
      "d = 64 design point") {
    val wide = Dedup.materialize(widen(emb, 4))
    wide.select(org.apache.spark.sql.functions.size(col("embedding"))).head().getInt(0) shouldBe 256
    val rmodel = Pca.fitIvfResidual(wide, kDims = 16, nlist = 16)
    rmodel.d shouldBe 256
    val row = Pca.ivfResidualCheck(wide, nprobe = rmodel.nlist,
      modelOpt = Some(rmodel)).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
    // and the cross dispatcher derives d from the data (no 64
    // constant): its assignment term prices 256-wide vectors 4x the
    // d = 64 corpus's at the same (nQueries, nlist)
    val (nlist, _) = Similarity.scaledIvfConfig(wide.count())
    val b = Pca.CalibratedBudget(8, 1.0, measured = true, ok = true)
    val cdWide = Pca.crossDispatch(wide, nQueries = 1L, budgetOpt = Some(b),
      rmodelOpt = Some(rmodel))
    val cdBase = Pca.crossDispatch(emb, nQueries = 1L, budgetOpt = Some(b),
      rmodelOpt = Some(Pca.fitIvfResidual(emb, kDims = 16, nlist = nlist)))
    // same n, same nlist, same budget: the cost difference is exactly
    // the assignment term's width ratio
    val assignWide = 1.0 * nlist * 256
    val assignBase = 1.0 * nlist * 64
    (cdWide.analyticResidual - cdBase.analyticResidual) shouldBe
      (assignWide - assignBase) +- 1e-6
  }

  test("momentBudget refusal at d = 768 (r15 VERDICT task 4): the " +
      "scaled-geometry accumulator exceeds the default budget with the " +
      "arithmetic in the message, and the documented workaround (a " +
      "tighter nlist) fits") {
    // 200 rows: enough to exercise the full moment + fit + check path
    // at d = 768 while keeping the 768² Jacobi eigensolves to the
    // global fallback (every 16-cell is starved at 12 rows/cell)
    val wide = Dedup.materialize(widen(emb.filter(col("vec_id") < 200), 12))
    wide.select(org.apache.spark.sql.functions.size(col("embedding"))).head().getInt(0) shouldBe 768
    // at the n = 2e7 scaled geometry (nlist = 4495) a d = 768 task's
    // worst-case accumulator is 4495·(1+768+768·769/2)·8 ≈ 10.6 GB —
    // past the 2 GB default budget. The guard must refuse at PLAN
    // time with the arithmetic, not OOM mid-shuffle. Synthetic cents
    // (unit basis vectors cycled) stand in for a trained layout: the
    // refusal fires on the first row, before any assignment quality
    // matters.
    val cents: Similarity.Cents = Array.tabulate(910) { c =>
      val v = new Array[Float](768); v(c % 768) = 1f; (c, v, 1.0)
    }
    val needBytes = 910L * (1L + 768L + 768L * 769L / 2L) * 8L
    needBytes should be > Pca.maxMomentTaskBytes
    val e = intercept[org.apache.spark.SparkException] {
      Pca.fitIvfResidual(wide, kDims = 16, centsOpt = Some(cents))
    }
    e.getMessage should include("residualMoments")
    e.getMessage should include(needBytes.toString)
    // workaround 1 (documented in the message): reduce nlist — the
    // same corpus fits and holds the recall contract at nlist = 16
    val rmodel = Pca.fitIvfResidual(wide, kDims = 16, nlist = 16)
    rmodel.d shouldBe 768
    val row = Pca.ivfResidualCheck(wide, nprobe = rmodel.nlist,
      modelOpt = Some(rmodel)).head()
    row.getBoolean(0) shouldBe true
    row.getBoolean(1) shouldBe true
  }
}
