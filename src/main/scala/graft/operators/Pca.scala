package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.util.ShardedStore

/** Distributed principal-component analysis over an embedding column —
  * the dimensionality-reduction stage a 100 TB embedding pipeline runs
  * before ANN indexing or clustering (project 64-dim vectors to 16 and
  * every downstream distance computation is 4× cheaper at minimal
  * recall loss).
  *
  * Scale shape: fitting is ONE pass over the vectors accumulating
  * per-partition dense partials (count, Σv, Σv⊗v) — each partial is a
  * single `d + d²` double array, so the driver combines
  * `numPartitions` fixed-size blocks regardless of row count; nothing
  * corpus-sized is ever collected. The eigendecomposition runs on the
  * driver over the d×d covariance (d is the embedding width — small by
  * construction), exactly like the coarse-quantizer centroids.
  * Projection is map-only with the broadcast component matrix.
  *
  * Determinism: partials combine in partition-index order and the
  * cyclic Jacobi sweep is branch-deterministic, so the same input
  * layout yields bit-identical components; the verification gates are
  * INVARIANT-based (the eigen contract `C·w = λw`, orthonormality,
  * trace conservation, full-rank losslessness) — sharp enough that a
  * fabricated decomposition cannot satisfy them, yet independent of
  * sign/rotation conventions an external oracle could not pin.
  */
object Pca {

  /** Fitted model: column means, row-major components (one PRINCIPAL
    * AXIS per row, descending eigenvalue), and the eigenvalue spectrum
    * of the full covariance (all d values even when k < d — the tail
    * is what the captured-variance ratio is measured against).
    */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                      eigenvalues: Array[Double], d: Int) {
    def k: Int = components.length
    /** Fraction of total variance captured by the first `k` axes. */
    def varianceRatio: Double = {
      val tot = eigenvalues.sum
      if (tot <= 0d) 1d else eigenvalues.take(k).sum / tot
    }
  }

  /** Raw corpus moments `(n, acc)` with `acc = [Σv (d) | Σ v⊗v (d·d,
    * upper triangle filled)]` — the MERGEABLE summary the whole PCA
    * family reduces to: per-partition partials are one fixed-size
    * double array each whatever the row count, combined on the driver
    * in partition-index order (deterministic for a fixed input
    * layout), and two corpora's moments combine by plain addition —
    * which is what the incremental store exploits.
    */
  private def rawMoments(emb: DataFrame, vecCol: String): (Long, Int, Array[Double]) = {
    val spark = emb.sparkSession
    import spark.implicits._
    val vecs = emb.select(col(vecCol)).as[Array[Float]]
    val partials = vecs.rdd.mapPartitionsWithIndex { (pid, it) =>
      var acc: Array[Double] = null
      var d = 0
      var n = 0L
      it.foreach { v =>
        if (acc == null) { d = v.length; acc = new Array[Double](d + d * d) }
        require(v.length == d, s"ragged embedding width: ${v.length} vs $d")
        var i = 0
        while (i < d) {
          val vi = v(i).toDouble
          acc(i) += vi
          var j = i
          while (j < d) { acc(d + i * d + j) += vi * v(j); j += 1 }
          i += 1
        }
        n += 1L
      }
      if (acc == null) Iterator.empty else Iterator((pid, n, d, acc))
    }.collect().sortBy(_._1)
    require(partials.nonEmpty, "cannot fit PCA on an empty table")
    val d = partials.head._3
    val n = partials.map(_._2).sum
    val acc = new Array[Double](d + d * d)
    partials.foreach { case (_, _, pd, pacc) =>
      require(pd == d, "ragged embedding width across partitions")
      var i = 0
      while (i < acc.length) { acc(i) += pacc(i); i += 1 }
    }
    (n, d, acc)
  }

  /** (n, mean, population covariance) from raw moments. */
  private def momentsToCov(n: Long, d: Int,
                           acc: Array[Double]): (Long, Array[Double], Array[Array[Double]]) = {
    val mean = Array.tabulate(d)(i => acc(i) / n)
    // population covariance: C = E[v vᵀ] − mean meanᵀ, symmetrized
    val cov = Array.ofDim[Double](d, d)
    for (i <- 0 until d; j <- i until d) {
      val c = acc(d + i * d + j) / n - mean(i) * mean(j)
      cov(i)(j) = c; cov(j)(i) = c
    }
    (n, mean, cov)
  }

  /** Distributed one-pass covariance — see [[rawMoments]]. */
  private def covariance(emb: DataFrame, vecCol: String): (Long, Array[Double], Array[Array[Double]]) = {
    val (n, d, acc) = rawMoments(emb, vecCol)
    momentsToCov(n, d, acc)
  }

  /** The shared eigendecomposition tail: Jacobi on the covariance,
    * descending eigenvalue order with deterministic index tiebreak,
    * k-truncated components — ONE copy, so every fit path (one-shot,
    * store refit, invariants) derives models identically.
    */
  private def eigenModel(mean: Array[Double], cov: Array[Array[Double]],
                         k: Int): PcaModel = {
    val d = mean.length
    require(k >= 1 && k <= d, s"k must be in [1, $d]")
    val (values, vectors) = jacobiEigen(cov)
    val order = values.indices.sortBy(i => (-values(i), i))
    PcaModel(mean, order.take(k).map(i => vectors(i)).toArray,
      order.map(values(_)).toArray, d)
  }

  /** One-pass covariance fit + driver-side Jacobi eigendecomposition.
    * `k` is the number of components to keep (1 ≤ k ≤ d).
    */
  def fit(emb: DataFrame, k: Int, vecCol: String = "embedding"): PcaModel = {
    val (_, mean, cov) = covariance(emb, vecCol)
    eigenModel(mean, cov, k)
  }

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix: rotate
    * away the largest off-diagonal entries sweep by sweep until the
    * off-diagonal norm vanishes. Branch-deterministic (fixed sweep
    * order, fixed rotation formula), O(d³) per sweep — milliseconds at
    * embedding widths. Returns (eigenvalues, eigenvectors) with
    * `vectors(i)` the UNIT eigenvector of `values(i)`.
    */
  private[operators] def jacobiEigen(m: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = m.length
    val a = Array.tabulate(d, d)((i, j) => m(i)(j))
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1d else 0d)
    var sweep = 0
    while (sweep < 100 && offDiag(a) > 1e-12) {
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          if (math.abs(a(p)(q)) > 1e-15) {
            val theta = (a(q)(q) - a(p)(p)) / (2d * a(p)(q))
            // sign(0) must be +1: equal diagonal entries still need the
            // full 45° rotation (math.signum(0) = 0 would freeze them)
            val sgn = if (theta >= 0d) 1d else -1d
            val t = sgn / (math.abs(theta) + math.sqrt(theta * theta + 1d))
            val c = 1d / math.sqrt(t * t + 1d)
            val s = t * c
            var i = 0
            while (i < d) {
              val aip = a(i)(p); val aiq = a(i)(q)
              a(i)(p) = c * aip - s * aiq
              a(i)(q) = s * aip + c * aiq
              i += 1
            }
            i = 0
            while (i < d) {
              val api = a(p)(i); val aqi = a(q)(i)
              a(p)(i) = c * api - s * aqi
              a(q)(i) = s * api + c * aqi
              i += 1
            }
            i = 0
            while (i < d) {
              val vip = v(i)(p); val viq = v(i)(q)
              v(i)(p) = c * vip - s * viq
              v(i)(q) = s * vip + c * viq
              i += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    (Array.tabulate(d)(i => a(i)(i)), Array.tabulate(d)(i => Array.tabulate(d)(j => v(j)(i))))
  }

  private def offDiag(a: Array[Array[Double]]): Double = {
    var s = 0d
    for (i <- a.indices; j <- a.indices if i != j) s += a(i)(j) * a(i)(j)
    math.sqrt(s)
  }

  /** Project every vector onto the model's axes — map-only with the
    * broadcast component matrix; output keeps the id column and adds
    * `projCol` as an Array[Float] of width `model.k`.
    */
  /** Row kernel of [[project]]: one vector through the component
    * matrix — shared by the map-only projection and the reduced
    * residual layout's kernels so every reduction is bit-identical.
    */
  private def projectKernel(vec: Array[Float], m: PcaModel): Array[Float] = {
    val out = new Array[Float](m.k)
    var j = 0
    while (j < m.k) {
      val w = m.components(j)
      var s = 0d
      var i = 0
      while (i < m.d) { s += (vec(i) - m.mean(i)) * w(i); i += 1 }
      out(j) = s.toFloat
      j += 1
    }
    out
  }

  def project(emb: DataFrame, model: PcaModel, idCol: String = "vec_id",
              vecCol: String = "embedding", projCol: String = "proj"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    emb.select(col(idCol).cast("long"), col(vecCol)).as[(Long, Array[Float])]
      .mapPartitions { rows =>
        val m = bc.value
        rows.map { case (id, vec) => (id, projectKernel(vec, m)) }
      }.toDF(idCol, projCol)
  }

  /** Top-k cosine search THROUGH the reduction: candidates rank by
    * reduced-space cosine (k-dim dot products — `d/k`× cheaper than
    * full-width), the top `mult·k` per query rerank by EXACT
    * full-space cosine. The candidate stage here is the exhaustive
    * reduced-space scan — deliberately index-free so the gate isolates
    * "how much neighborhood structure does the projection keep" from
    * any index's own recall; the at-scale composition replaces it with
    * [[Similarity.ivfTopK]] over projected vectors, same rerank.
    * Output matches [[Similarity.bruteForceTopK]]: (query_id,
    * neighbor_id, cos, rank).
    */
  def pcaTopK(emb: DataFrame, queries: DataFrame, model: PcaModel,
              k: Int, mult: Int = 4): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val projAll = project(emb, model, projCol = "p")
    val projQ = project(queries, model, projCol = "qp")
      .withColumnRenamed("vec_id", "query_id")
    val cand = projAll.join(broadcast(projQ), col("query_id") =!= col("vec_id"))
      .withColumn("rcos", VectorFunctions.dot(col("qp"), col("p")) /
        (VectorFunctions.norm(col("qp")) * VectorFunctions.norm(col("p"))))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rcos").desc, col("vec_id"))
    val top = cand.withColumn("r", row_number().over(w))
      .filter(col("r") <= mult * k)
      .select(col("query_id"), col("vec_id").as("neighbor_id"))
    rerankExact(top, emb, queries, k)
  }

  /** Exact full-space rerank of (query_id, neighbor_id) candidate
    * pairs: fetch both sides' float vectors (candidate side keyed,
    * query side broadcast), score exact cosine, keep the top k per
    * query. Shared tail of every reduced-space candidate generator —
    * emitted cosines are exact by construction, whatever produced the
    * candidates.
    */
  private def rerankExact(cand: DataFrame, emb: DataFrame,
                          queries: DataFrame, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import graft.functions.VectorFunctions
    val full = emb.select(col("vec_id").as("neighbor_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("c_nrm"))
    val qs = queries.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      VectorFunctions.norm(col("embedding")).as("q_nrm"))
    val reranked = cand.join(full, "neighbor_id").join(broadcast(qs), "query_id")
      .withColumn("cos", round(
        VectorFunctions.dot(col("q_emb"), col("embedding")) /
          (col("q_nrm") * col("c_nrm")), 6))
    val w2 = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    reranked.withColumn("rank", row_number().over(w2).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** ANN through the reduction AT SCALE — the composition [[pcaTopK]]'s
    * doc promises: project corpus and queries to `model.k` dims
    * (map-only with broadcast components), bound candidate generation
    * with [[Similarity.ivfTopK]]'s cell equi-join in REDUCED space —
    * each probed distance is d/k× cheaper AND each query reads only its
    * nprobe/nlist cell share, so the candidate stage is doubly bounded
    * — then rerank the `mult·k` reduced-space survivors per query by
    * exact FULL-space cosine. Emitted cosines are exact; only the
    * candidate SET is approximate (projection loss × probe loss, both
    * gated by [[pcaIvfCheck]]).
    */
  def pcaIvfTopK(emb: DataFrame, queries: DataFrame, model: PcaModel, k: Int,
                 nlist: Int = 16, nprobe: Int = 4, coarseIters: Int = 3,
                 mult: Int = 8,
                 centsOpt: Option[Similarity.Cents] = None): DataFrame = {
    val projAll = project(emb, model, projCol = "embedding")
    val projQ = project(queries, model, projCol = "embedding")
    val cand = Similarity.ivfTopK(projAll, projQ, mult * k,
        nlist = nlist, nprobe = nprobe, coarseIters = coarseIters,
        centsOpt = centsOpt)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(cand, emb, queries, k)
  }

  /** Rerank-pool size (as the `mult` of [[pcaIvfTopK]]) derived from
    * PROBED-CELL MASS, not global n — the r14 replacement for the
    * linear n/25 [[adaptiveMult]] on the IVF path. What degrades
    * reduced-space recall as the corpus grows is the count of
    * projection-error near-ties around the k-th neighbor, and on the
    * IVF path those near-ties live INSIDE the probed cells — so the
    * pool takes a fixed share of the expected probed mass
    * `nprobe · n / nlist`. Under the scaled geometry
    * ([[Similarity.scaledIvfConfig]], nlist ≈ √n) that is
    * `share · nprobe · √n` — sublinear in n, against n/25's
    * constant-factor-25 scan — while the floor keeps the small-corpus
    * budgets the sf0.01 gates were calibrated at.
    */
  private[operators] def probedMassMult(n: Long, nlist: Int, nprobe: Int,
                                        k: Int, mult: Int,
                                        share: Double = 0.25): Int =
    math.max(mult,
      math.ceil(share * nprobe * (n.toDouble / nlist) / k).toInt)

  /** Search-quality contract of [[pcaIvfTopK]] on a corpus, ONE
    * invariant row mirroring [[pcaSearchCheck]]: recall@k against the
    * exact full-space reference ≥ `minRecall` AND every emitted cosine
    * equals the reference's — the composed pipeline (projection →
    * trained-IVF probe → exact rerank) keeps the neighborhood, and the
    * rerank really is exact.
    *
    * The probe budget is wider than full-space IVF's (nprobe 8/16 vs
    * 4/16): the composition stacks projection loss on probe loss, and
    * the reduced-space cell ranking is itself computed on projections.
    * Geometry is the OCCUPANCY-SCALED config by default (`nlist = 0`
    * sentinel → [[Similarity.scaledIvfConfig]]: nlist ≈ √n, log-scaled
    * nprobe ≥ this method's old fixed 8) and the rerank pool derives
    * from probed-cell mass ([[probedMassMult]]) — both sublinear in n,
    * replacing the r13 fixed-16-cells + n/25-pool shape whose
    * per-query cost was a constant fraction of the corpus. At the
    * sf0.01 gate scale the scaled config IS the old one (√202 < 16
    * floor, nprobe floor 8), so the calibrated bars carry over; at
    * every larger probed scale the bar is re-measured
    * (sf0.1/ScaleProbe).
    */
  /** Recall is ε-TOLERANT (the ann-benchmarks convention): a returned
    * neighbor counts as a hit when its EXACT cosine reaches the
    * query's k-th true cosine minus `epsTies`. Strict identity
    * recall@k degenerates on large clustered corpora — measured at
    * n = 50,500: 269 corpus vectors sit within 1e-3 of the 5 gate
    * queries' 10th-best cosines, so "the" top-10 is an arbitrary
    * selection among near-ties that no reduced-dimension sketch can
    * (or should) reproduce, and holding the strict bar would force the
    * rerank pool back to a constant corpus fraction — the r13 n/25
    * degenerate shape this check exists to rule out. ε-recall ≥ strict
    * recall always, so every configuration that passed strict keeps
    * passing; 1e-3 is beneath any caller-visible resolution (emitted
    * cosines round to 6 dp, but neighbor SETS among 1e-3-ties are
    * interchangeable by construction).
    */
  /** `queriesOpt` overrides the default `vec_id < 5` slice — the knob
    * that lets a probe grade BOTH ranking arms on the same
    * deterministic spread sample ([[ivfResidualCheck]]'s residue-13
    * slice): consecutive low ids are a pessimistic blob-fringe
    * artifact on clustered corpora (measured at n = 505k:
    * whole-population ε-recall ≥ 0.95 where the 5-query low-id slice
    * reads < 0.9), so two arms compared on DIFFERENT populations
    * would print incomparable verdicts. The gate keeps the default
    * slice (its hash-pinned calibration).
    */
  def pcaIvfCheck(emb: DataFrame, k: Int = 10, kDims: Int = 16,
                  nlist: Int = 0, nprobe: Int = 0, coarseIters: Int = 3,
                  mult: Int = 8, minRecall: Double = 0.9,
                  modelOpt: Option[PcaModel] = None,
                  centsOpt: Option[Similarity.Cents] = None,
                  epsTies: Double = 1e-3,
                  queriesOpt: Option[DataFrame] = None): DataFrame = {
    val queries = queriesOpt.getOrElse(emb.filter(col("vec_id") < 5))
    val model = modelOpt.getOrElse(fit(emb, kDims))
    val n = emb.count()
    val (nl, np) = Similarity.scaledIvfConfig(n)
    val nlistUse = if (nlist > 0) nlist else nl
    val nprobeUse = math.min(nlistUse, if (nprobe > 0) nprobe else math.max(8, np))
    gradeExact(emb, queries, k, minRecall, Some(epsTies),
      pcaIvfTopK(emb, queries, model, k, nlistUse, nprobeUse,
        coarseIters, probedMassMult(n, nlistUse, nprobeUse, k, mult), centsOpt))
  }

  /** [[Similarity.gradeTopK]] of `approx` against the exact top-k of
    * `queries` over `emb`. The exact reference is a broadcast
    * nested-loop scan; it is snapshotted ([[Dedup.materialize]]) so it
    * runs once and stays out of the graded plan.
    */
  private def gradeExact(emb: DataFrame, queries: DataFrame, k: Int,
                         minRecall: Double, epsTies: Option[Double],
                         approx: DataFrame): DataFrame =
    Similarity.gradeTopK(approx,
      Dedup.materialize(Similarity.bruteForceTopK(emb, queries, k)),
      minRecall, epsTies)

  /** Search-quality contract of [[pcaTopK]] as ONE invariant row:
    * `recall_ok` — recall@k against the exact full-space reference is
    * at least `minRecall`; `cosines_exact` — every emitted cosine
    * equals the reference's value for the same (query, neighbor) pair
    * (the rerank really is exact, only the candidate SET is
    * approximate). Driver state: two counts.
    */
  /** Oversample that holds the reduced-space recall contract as the
    * corpus grows — ON THE NON-IVF PATH ONLY ([[pcaSearchCheck]] /
    * [[pcaTopK]], whose candidate stage is a full reduced-space scan
    * and therefore linear BY DESIGN; a linear pool is consistent with
    * a linear operator there). A FIXED candidate pool over more
    * vectors packs more near-ties into the reduced space and recall
    * decays with n — the r13 sf0.1 sweep caught the old fixed
    * `mult = 8` dropping `recall_ok` at n = 2,000. The IVF path uses
    * [[probedMassMult]] instead (sublinear, matching its sublinear
    * candidate stage).
    */
  private def adaptiveMult(n: Long, mult: Int): Int =
    math.max(mult, math.ceil(n / 25.0).toInt)

  def pcaSearchCheck(emb: DataFrame, k: Int = 10, kDims: Int = 16,
                     mult: Int = 8, minRecall: Double = 0.9,
                     modelOpt: Option[PcaModel] = None): DataFrame = {
    val queries = emb.filter(col("vec_id") < 5)
    val model = modelOpt.getOrElse(fit(emb, kDims))
    gradeExact(emb, queries, k, minRecall, None,
      pcaTopK(emb, queries, model, k, adaptiveMult(emb.count(), mult)))
  }

  /** The verification surface: ONE invariant row asserting the eigen
    * contract on the fitted model — properties a fabricated
    * decomposition cannot satisfy, yet independent of the sign and
    * rotation conventions no external engine could reproduce.
    *
    *  - `eigen_ok`: every kept axis satisfies `C·w = λw` to 1e-8
    *    (verified against a covariance REBUILT from the data);
    *  - `orthonormal_ok`: max |WᵀW − I| ≤ 1e-8;
    *  - `descending_ok`: the spectrum is non-increasing;
    *  - `trace_ok`: Σλ equals tr(C) to 1e-8 relative — the
    *    decomposition conserves total variance;
    *  - `lossless_ok`: at k = d, projecting and reconstructing a
    *    deterministic row sample (`vec_id < 32`) recovers every
    *    coordinate to 1e-4 (float inputs) — full rank loses nothing;
    *  - `ratio_ok`: captured variance at the reduced k is a proper
    *    fraction strictly above d·k/d·ε floor 0 and ≤ 1.
    */
  def pcaInvariants(emb: DataFrame, k: Int, vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // one distributed covariance pass serves both the fits and the
    // residual check — never a corpus-sized collect
    val (_, mean, cov) = covariance(emb, vecCol)
    val d = mean.length
    val full = eigenModel(mean, cov, d)
    val reduced = PcaModel(mean, full.components.take(k), full.eigenvalues, d)
    def residual(w: Array[Double], lambda: Double): Double =
      (0 until d).map { i =>
        math.abs((0 until d).map(j => cov(i)(j) * w(j)).sum - lambda * w(i))
      }.max
    val eigenOk = reduced.components.zip(reduced.eigenvalues)
      .forall { case (w, l) => residual(w, l) <= 1e-8 }
    val orthoOk = {
      var worst = 0d
      for (a <- reduced.components.indices; b <- reduced.components.indices) {
        val dot = (0 until d).map(i => reduced.components(a)(i) * reduced.components(b)(i)).sum
        worst = math.max(worst, math.abs(dot - (if (a == b) 1d else 0d)))
      }
      worst <= 1e-8
    }
    val descOk = reduced.eigenvalues.sliding(2)
      .forall(p => p.length < 2 || p(0) >= p(1) - 1e-12)
    val trace = (0 until d).map(i => cov(i)(i)).sum
    val traceOk = math.abs(full.eigenvalues.sum - trace) <= 1e-8 * math.max(trace, 1d)
    val sample = emb.filter(col("vec_id") < 32)
      .select(col(vecCol)).as[Array[Float]].collect()
    val losslessOk = sample.forall { v =>
      val p = new Array[Double](d)
      for (j <- 0 until d) {
        val w = full.components(j)
        p(j) = (0 until d).map(i => (v(i) - mean(i)) * w(i)).sum
      }
      (0 until d).forall { i =>
        val rec = mean(i) + (0 until d).map(j => p(j) * full.components(j)(i)).sum
        math.abs(rec - v(i)) <= 1e-4
      }
    }
    val ratio = reduced.varianceRatio
    val ratioOk = ratio > 0d && ratio <= 1d + 1e-12
    spark.createDataFrame(
      java.util.List.of(Row(eigenOk, orthoOk, descOk, traceOk, losslessOk, ratioOk)),
      StructType(Seq("eigen_ok", "orthonormal_ok", "descending_ok", "trace_ok",
        "lossless_ok", "ratio_ok").map(StructField(_, BooleanType, nullable = false))))
  }

  // ── per-cell residual projection (IVF-residual ranking) ────────────
  //
  // The r14 scaled-IVF frontier (BENCH_NOTES "occupancy-scaled IVF"):
  // ONE global 16-dim projection ranks every probed candidate, and at
  // n = 505,000 the within-blob ranking noise of 126k-vector blobs
  // swamps the ε-recall bar at every probe/pool budget tried — the
  // global axes spend their variance separating blobs that cell
  // assignment has ALREADY separated, leaving little resolution for
  // the within-cell ordering that actually decides the top-k. The
  // classical fix (the IVF-residual recipe; reference: Jégou et al.,
  // "Product Quantization for Nearest Neighbor Search", §IV — here
  // applied to a projection instead of PQ codes) is to rank by the
  // CELL-LOCAL geometry. Decompose the exact cosine of unit vectors
  //
  //     q̂·û = q̂·(ĉ + μ_c)  +  q̂·ρ,      ρ = û − ĉ − μ_c
  //
  // (ĉ the cell's unit centroid direction, μ_c the cell's mean
  // residual — both per-cell constants) and approximate ONLY the small
  // within-cell term q̂·ρ by (W_c q̂)·(W_c ρ), with W_c the cell's top
  // kDims RESIDUAL principal axes. Because W_c is fit on the cell's
  // own residual cloud, its kDims axes capture the within-cell
  // variance the global projection dilutes across blob separation —
  // and the first term is EXACT, so the approximation error is bounded
  // by the residual energy outside W_c's span, which per-cell fitting
  // minimizes by construction. At kDims = d the expansion is exact
  // (W_c orthonormal ⇒ (W q̂)·(W ρ) = q̂·ρ), a spec-pinned invariant no
  // fabricated ranking satisfies.
  //
  // Scale shape: per-cell moment accumulation is one distributed pass
  // (map-side per-cell partials, cell-keyed combine — the groupBy
  // analog of [[rawMoments]]); the driver eigendecomposes d×d blocks
  // per cell in parallel (nlist × O(d³) — milliseconds each); the
  // model broadcasts at nlist × (kDims+1) × d floats (√n-scaled: 10⁸
  // vectors → 10⁴ cells × 17 × 64 × 4 B ≈ 44 MB — executor-resident,
  // never per-row); index projection and query preparation are
  // map-only kernels; candidates still come from the probed-cell
  // equi-join, so the per-query cost stays nprobe·√n candidates ranked
  // by a kDims-dot each plus a pool × d exact rerank.

  /** Per-cell residual projection model: `centers(c) = ĉ_c + μ_c`
    * (the effective per-cell offset the exact term scores against) and
    * `axes(c)` = kDims orthonormal residual axes, both indexed by cell
    * id; `cents` is the coarse layout shared with every IVF entry
    * point. `d` is the width the layout lives at.
    *
    * `reducer` is the width reduction for wide embeddings. With `None`
    * the layout lives at the corpus width. With `Some(r)` it lives in
    * r's `d = r.k`-dim projected space: every entry point projects the
    * corpus and the queries through `r` before assignment and ranking,
    * and still reranks and verifies by exact cosine at the full width
    * `r.d`. The reduction exists because [[residualMoments]]' per-task
    * accumulator is nlist · d²/2 doubles, which [[maxMomentTaskBytes]]
    * refuses at embedding widths (~10.6 GB per task at d = 768 under the
    * n = 2e7 scaled geometry). One global PCA fit is width-quadratic
    * but nlist-free (~2.4 MB per task at d = 768), and in the projected
    * space the per-cell moments are back at the design point. The
    * projection loss only moves the candidate set, and the measured
    * calibration ladder prices it like every other loss: recall is
    * always graded against the full-width exact reference.
    */
  case class IvfResidualModel(cents: Similarity.Cents,
                              centers: Array[Array[Double]],
                              axes: Array[Array[Array[Double]]],
                              d: Int, kDims: Int,
                              reducer: Option[PcaModel] = None) {
    def nlist: Int = cents.length
  }

  /** `(vec_id, embedding)` rows in the model's layout space: projected
    * through the reducer when the model has one, `df` itself otherwise.
    */
  private def inLayout(df: DataFrame, model: IvfResidualModel): DataFrame =
    model.reducer.fold(df)(r => project(df, r, projCol = "embedding"))

  /** `(vec_id, embedding, full)` rows: the vector in the model's layout
    * space under `embedding` (what cell assignment and probing read)
    * and at full width under `full` (what exact scoring reads) — one
    * map-only pass.
    */
  private def withFullWidth(df: DataFrame, model: IvfResidualModel): DataFrame =
    model.reducer match {
      case None => df.select(col("vec_id"), col("embedding"),
        col("embedding").as("full"))
      case Some(r) =>
        val spark = df.sparkSession
        import spark.implicits._
        val bc = spark.sparkContext.broadcast(r)
        df.select(col("vec_id").cast("long"), col("embedding"))
          .as[(Long, Array[Float])]
          .mapPartitions { it =>
            val m = bc.value
            it.map { case (id, v) => (id, projectKernel(v, m), v) }
          }.toDF("vec_id", "embedding", "full")
    }

  /** Unit-direction of one centroid (zero-norm guarded like the PQ
    * kernels: a zero centroid must not NaN every residual).
    */
  private def centDir(c: (Int, Array[Float], Double)): Array[Double] = {
    val nrm = if (c._3 == 0.0) 1.0 else c._3
    c._2.map(_ / nrm)
  }

  /** Nearest-cell id of a raw vector against the broadcast layout —
    * the kernel-side assignment ([[Similarity.probeCellsOf]] at
    * nprobe = 1, shared arithmetic).
    */
  private def cellOfKernel(emb: Array[Float], cents: Similarity.Cents): Int =
    Similarity.probeCellsOf(emb, cents, 1)(0)

  /** Fit per-cell residual axes over a corpus: one distributed
    * moment pass (per-partition per-cell partials combined cell-keyed
    * in partition-index order — deterministic for a fixed layout, like
    * [[rawMoments]]), then an nlist-parallel driver eigendecomposition.
    * Cells too starved to support a covariance (fewer than
    * `max(2·kDims, 8)` members) fall back to the GLOBAL residual axes
    * (the summed moments — free), so a starved cell ranks no worse
    * than the global-projection baseline.
    *
    * `dRed > 0` fits the reduced layout ([[IvfResidualModel]]'s
    * `reducer`): a global PCA to `dRed` dims first, then the same fit
    * on the projected corpus (`centsOpt` is then a projected-space
    * layout). Two corpus passes more than the full-width fit: the
    * global moments and the projection.
    */
  def fitIvfResidual(emb: DataFrame, kDims: Int = 16, nlist: Int = 0,
                     coarseIters: Int = -1, vecCol: String = "embedding",
                     centsOpt: Option[Similarity.Cents] = None,
                     trainSample: Long = 0, dRed: Int = 0): IvfResidualModel = {
    if (dRed > 0) {
      val d = emb.select(size(col(vecCol))).head().getInt(0)
      require(dRed < d,
        s"fitIvfResidual(dRed = $dRed) reduces $d -> $dRed; at dRed >= d " +
          "leave dRed = 0 (no reduction to pay for)")
      require(kDims <= dRed, s"kDims ($kDims) must fit in dRed ($dRed)")
      val reducer = fit(emb, dRed, vecCol)
      val red = Dedup.materialize(project(emb, reducer, vecCol = vecCol,
        projCol = "embedding"))
      return fitIvfResidual(red, kDims, nlist, coarseIters,
          centsOpt = centsOpt, trainSample = trainSample)
        .copy(reducer = Some(reducer))
    }
    val spark = emb.sparkSession
    import spark.implicits._
    val n = emb.count()
    val nlistUse = if (nlist > 0) nlist else Similarity.scaledIvfConfig(n)._1
    val itersUse = if (coarseIters >= 0) coarseIters
                   else Similarity.scaledIvfIters(nlistUse)
    val cents = centsOpt.getOrElse(
      Similarity.coarseCentroids(emb.select(col("vec_id"), col(vecCol).as("embedding")),
        nlistUse, itersUse, trainSample))
    residualModelFrom(cents, residualMoments(emb, cents, vecCol), kDims)
  }

  /** Per-cell residual moments `[n | Σr | Σ r⊗r upper]` of one corpus
    * tranche against a FIXED cell layout — the mergeable summary the
    * whole residual family reduces to (two tranches' moments combine
    * by per-cell addition, which is what the incremental store
    * exploits). One distributed pass: per-partition per-cell partials,
    * combined per cell in partition-index order (grouped partials are
    * ≤ numPartitions fixed-size arrays per cell — distributed, small),
    * nlist rows collected.
    */
  /** Per-task accumulator budget for [[residualMoments]]: in the worst
    * case every cell is touched by every task, so a task can hold up
    * to `nlist · (1 + d + d(d+1)/2) · 8` bytes of moment partials —
    * QUADRATIC in the embedding width. At the probed geometries
    * (d = 64, nlist ≈ √n up to ~4.5k at n = 2e7) that is ≤ ~75 MB;
    * at d = 768 the same nlist would need ~10.6 GB per task and the
    * driver collect several more — a silent OOM class. The guard
    * REFUSES past the budget with the arithmetic in the message, so a
    * wide-embedding deployment learns the bound at plan time (the
    * fix is a tighter nlist, a PCA pre-reduction, or raising the
    * budget on executors actually sized for it).
    */
  private[graft] var maxMomentTaskBytes: Long = 2L * 1024 * 1024 * 1024

  // ── packed upper-triangular second-moment layout (r16) ──────────────
  // Σ r⊗r is symmetric, so only the upper triangle is accumulated and
  // shipped: a moment array is [count | Σr (d) | packed Σr⊗r
  // (d(d+1)/2)], total 1 + d + d(d+1)/2 doubles — HALF the r15 full-d²
  // layout's footprint in task memory, shuffle payload (the per-cell
  // partials are exchanged cell-keyed), store bytes, and driver
  // collect. The flop count was already triangular (the accumulation
  // loop only ever wrote j >= i); the layout now matches it.
  /** Packed index of (i, j), j >= i: row i's entries are contiguous. */
  @inline private def utIdx(d: Int, i: Int, j: Int): Int =
    i * d - (i * (i - 1)) / 2 + (j - i)
  private def utLen(d: Int): Int = d * (d + 1) / 2
  /** Width from a packed array length 1 + d + d(d+1)/2 — the positive
    * root of d² + 3d − 2(len − 1) = 0.
    */
  private def utWidth(len: Int): Int =
    ((math.sqrt(9.0 + 8.0 * (len - 1)) - 3.0) / 2.0).round.toInt

  private def residualMoments(emb: DataFrame, cents: Similarity.Cents,
                              vecCol: String): Array[(Int, Array[Double])] = {
    val spark = emb.sparkSession
    import spark.implicits._
    val momentBudget = maxMomentTaskBytes
    val bcCents = spark.sparkContext.broadcast(cents)
    val dirs = cents.sortBy(_._1).map(centDir)
    val bcDirs = spark.sparkContext.broadcast(dirs)
    // explicit-width exchange: the moment pass is nlist·d assignment
    // MACs + d²/2 accumulation flops per byte-light row — a
    // parquet-byte-sized scan would run it in 1-2 tasks (the
    // trainCentroids failure mode). Float accumulation is
    // order-sensitive and shuffle-fetch order is not deterministic, so
    // the exchange hashes on vec_id (deterministic membership) and
    // sorts within partitions (deterministic order) — bit-identical
    // partials for a fixed corpus at a fixed width. Width is the r16
    // scale-adaptive rule ([[Width.partsFor]]): ~100k FLOPs/row still
    // amortizes per-task overhead at 256 KB/task, and any at-scale
    // corpus saturates the conf cap (results were never
    // partition-count-canonical across deployments — Verify runs at 8
    // cores, Bench at 32 — and every oracle comparison rounds).
    val partials = emb
      .select(col("vec_id"), col(vecCol))
      .repartition(Width.partsFor(emb.select(col("vec_id"), col(vecCol))),
        col("vec_id"))
      .sortWithinPartitions(col("vec_id"))
      .select(col(vecCol))
      .as[Array[Float]].rdd
      .mapPartitionsWithIndex { (pid, it) =>
        val cs = bcCents.value
        val ds = bcDirs.value
        val acc = scala.collection.mutable.HashMap.empty[Int, Array[Double]]
        var d = 0
        it.foreach { v =>
          if (d == 0) {
            d = v.length
            val need = cs.length.toLong * (1L + d + d.toLong * (d + 1) / 2) * 8L
            require(need <= momentBudget,
              s"residualMoments: worst-case per-task accumulator " +
                s"nlist=${cs.length} x (1+$d+$d($d+1)/2) x 8B = $need bytes " +
                s"exceeds the $momentBudget-byte budget (quadratic in " +
                "embedding width) — reduce nlist, fit the reduced " +
                "layout (Pca.fitIvfResidual(dRed = …): global PCA " +
                "pre-reduction, nlist-free moments at full width), or raise " +
                "Pca.maxMomentTaskBytes on executors sized for it")
          }
          require(v.length == d, s"ragged embedding width: ${v.length} vs $d")
          val cell = cellOfKernel(v, cs)
          val a = acc.getOrElseUpdate(cell, new Array[Double](1 + d + utLen(d)))
          val nrm0 = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
          val nrm = if (nrm0 == 0.0) 1.0 else nrm0
          val dir = ds(cell)
          val r = new Array[Double](d)
          var i = 0
          while (i < d) { r(i) = v(i) / nrm - dir(i); i += 1 }
          a(0) += 1d
          i = 0
          while (i < d) {
            a(1 + i) += r(i)
            val ri = r(i)
            // row i of the packed upper triangle is contiguous
            var idx = 1 + d + utIdx(d, i, i)
            var j = i
            while (j < d) { a(idx) += ri * r(j); idx += 1; j += 1 }
            i += 1
          }
        }
        acc.iterator.map { case (cell, a) => (cell, (pid, a)) }
      }
    partials.groupByKey(math.min(
        spark.sessionState.conf.numShufflePartitions, math.max(cents.length, 1)))
      .mapValues { ps =>
        val sorted = ps.toArray.sortBy(_._1).map(_._2)
        val out = sorted.head.clone()
        sorted.tail.foreach { a =>
          var i = 0
          while (i < out.length) { out(i) += a(i); i += 1 }
        }
        out
      }.collect().sortBy(_._1)
  }

  /** Eigendecompose combined per-cell moments into the ranking model —
    * the shared tail of the one-shot fit and the store refit, so both
    * derive models identically (the [[eigenModel]] convention).
    */
  private def residualModelFrom(cents: Similarity.Cents,
                                combined: Array[(Int, Array[Double])],
                                kDims: Int): IvfResidualModel = {
    require(combined.nonEmpty, "cannot fit residual axes on an empty table")
    val dirs = cents.sortBy(_._1).map(centDir)
    val d = utWidth(combined.head._2.length)
    require(1 + d + utLen(d) == combined.head._2.length,
      s"moment array length ${combined.head._2.length} is not a packed " +
        s"upper-triangular layout (derived d=$d)")
    require(kDims >= 1 && kDims <= d, s"kDims must be in [1, $d]")
    // global residual moments: the starved-cell fallback axes
    val global = new Array[Double](1 + d + utLen(d))
    combined.foreach { case (_, a) =>
      var i = 0
      while (i < global.length) { global(i) += a(i); i += 1 }
    }
    def eigenAxes(a: Array[Double]): (Array[Double], Array[Array[Double]]) = {
      val cn = a(0)
      val mu = Array.tabulate(d)(i => a(1 + i) / cn)
      val cov = Array.ofDim[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val c = a(1 + d + utIdx(d, i, j)) / cn - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
      }
      val (values, vectors) = jacobiEigen(cov)
      val order = values.indices.sortBy(i => (-values(i), i))
      (mu, order.take(kDims).map(vectors(_)).toArray)
    }
    val (_, globalAxes) = eigenAxes(global)
    val starvedFloor = math.max(2 * kDims, 8)
    val fitted = new java.util.concurrent.ConcurrentHashMap[Int, (Array[Double], Array[Array[Double]])]()
    // independent per-cell eigenproblems — driver-parallel, results
    // keyed by cell id so the parallelism cannot reorder anything
    import scala.collection.parallel.CollectionConverters._
    combined.par.foreach { case (cell, a) =>
      fitted.put(cell,
        if (a(0) < starvedFloor) (Array.tabulate(d)(i => a(1 + i) / a(0)), globalAxes)
        else eigenAxes(a))
    }
    val centers = Array.tabulate(cents.length) { cell =>
      val dir = dirs(cell)
      Option(fitted.get(cell)) match {
        case Some((mu, _)) => Array.tabulate(d)(i => dir(i) + mu(i))
        case None          => dir // empty cell: no members, exact term only
      }
    }
    val axes = Array.tabulate(cents.length) { cell =>
      Option(fitted.get(cell)).map(_._2).getOrElse(globalAxes)
    }
    IvfResidualModel(cents, centers, axes, d, kDims)
  }

  /** Approximate top-k through the per-cell residual projection:
    * probed-cell equi-join candidates (the IVF shape), ranked by the
    * exact-plus-projected decomposition above, top `pool` per query
    * reranked by exact full-space cosine. Output matches
    * [[Similarity.bruteForceTopK]]: (query_id, neighbor_id, cos, rank)
    * with EXACT emitted cosines — only the candidate set approximates.
    */
  def ivfResidualTopK(emb: DataFrame, queries: DataFrame,
                      model: IvfResidualModel, k: Int, nprobe: Int,
                      pool: Int, indexOpt: Option[DataFrame] = None): DataFrame =
    residualTopKImpl(emb, queries, model, k, nprobe, pool,
      excludeSelf = true, indexOpt = indexOpt)

  /** Cross-SET serving at the residual geometry — the
    * semantic-decon / label-propagation workhorse shape (new queries
    * against a frozen corpus, different tables on the two sides):
    * query-side vectors probe the CORPUS's frozen cell layout, probed
    * candidates rank by the same exact-plus-projected decomposition as
    * [[ivfResidualTopK]], the top `pool` rerank by exact full-space
    * cosine, and rows below `threshold` drop (the [[Similarity.
    * knnJoinCross]] contract: "nearest near-matches" — a query with no
    * corpus neighbor above the band emits nothing). No self-exclusion:
    * the two sides are distinct tables, exactly as in the banded cross
    * path. Output matches knnJoinCross: (query_id, neighbor_id, cos).
    *
    * Scale shape vs the banded arm: [[Similarity.crossMatches]] signs
    * the WHOLE corpus on every call (n · planes), while this path
    * probes `nprobe / nlist` of a corpus whose model is fit once and
    * extended incrementally ([[residualStore]]) — the r14
    * two-arm measurements show the banded arm losing past ~5e5 on
    * clustered corpora, which is what [[crossDispatch]] prices.
    */
  def ivfResidualTopKCross(corpus: DataFrame, queries: DataFrame,
                           model: IvfResidualModel, k: Int, nprobe: Int,
                           pool: Int,
                           threshold: Double = Double.NegativeInfinity,
                           indexOpt: Option[DataFrame] = None): DataFrame =
    residualTopKImpl(corpus, queries, model, k, nprobe, pool,
      excludeSelf = false, indexOpt = indexOpt)
      .filter(col("cos") >= threshold)
      .select(col("query_id"), col("neighbor_id"), col("cos"))

  /** The SERVING INDEX of the residual family: (neighbor_id, cell,
    * W_c ρ) for every corpus vector — one map-only pass (nlist·d
    * assignment + kDims·d projection flops per byte-light row,
    * explicit-width like the fit). At scale this pass is the dominant
    * per-call cost (n·nlist·d MACs — ~6e12 at n = 2e7 / nlist ≈ 4.5k),
    * so a serving loop (or a calibration ladder, which searches the
    * SAME corpus at several budgets) must compute it ONCE and pass it
    * back via the `indexOpt` of [[ivfResidualTopK]]/
    * [[ivfResidualTopKCross]] — the build-once/serve-many shape every
    * persisted index here follows. Materialize it (e.g.
    * [[Dedup.materialize]]) before reuse, or each consumer re-runs the
    * lazy plan. A reduced model indexes the projected corpus.
    */
  def buildResidualIndex(emb: DataFrame,
                         model: IvfResidualModel): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(model)
    val src = inLayout(emb, model)
    src.select(col("vec_id").cast("long"), col("embedding"))
      // r16: scale-adaptive width (see [[Width]]) — the per-row kernel
      // is nlist·d MACs; a small tranche no longer pays full-box task
      // overhead, an at-scale corpus still saturates the conf cap
      .repartition(Width.partsFor(src))
      .as[(Long, Array[Float])]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (id, v) =>
          val cell = cellOfKernel(v, m.cents)
          val nrm0 = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
          val nrm = if (nrm0 == 0.0) 1.0 else nrm0
          val ctr = m.centers(cell)
          val rho = Array.tabulate(m.d)(i => v(i) / nrm - ctr(i))
          val w = m.axes(cell)
          val proj = new Array[Float](m.kDims)
          var j = 0
          while (j < m.kDims) {
            var s = 0d; var i = 0
            while (i < m.d) { s += w(j)(i) * rho(i); i += 1 }
            proj(j) = s.toFloat; j += 1
          }
          (id, cell, proj)
        }
      }.toDF("neighbor_id", "cell", "rproj")
  }

  /** Probe → residual rank → top `pool` candidates per query, all in
    * the model's layout space, then the exact full-width rerank.
    */
  private def residualTopKImpl(emb: DataFrame, queries: DataFrame,
                               model: IvfResidualModel, k: Int, nprobe: Int,
                               pool: Int, excludeSelf: Boolean,
                               indexOpt: Option[DataFrame] = None): DataFrame = {
    require(pool >= k, "rerank pool must cover k")
    require(nprobe >= 1 && nprobe <= model.nlist)
    val indexed = indexOpt.getOrElse(buildResidualIndex(emb, model))
    val spark = queries.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val bc = spark.sparkContext.broadcast(model)
    // query side: explode into probed cells, then per (query, cell)
    // the exact offset term and the projected query — tiny, broadcast
    val q = Similarity.withProbeCells(
        inLayout(queries, model)
          .select(col("vec_id").cast("long").as("query_id"), col("embedding")),
        model.cents, nprobe)
      .select(col("query_id"), col("embedding"), col("probe_cell"))
      .as[(Long, Array[Float], Int)]
      .mapPartitions { it =>
        val m = bc.value
        it.map { case (qid, v, cell) =>
          val nrm0 = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
          val nrm = if (nrm0 == 0.0) 1.0 else nrm0
          val ctr = m.centers(cell)
          var base = 0d
          var i = 0
          while (i < m.d) { base += (v(i) / nrm) * ctr(i); i += 1 }
          val w = m.axes(cell)
          val qp = new Array[Float](m.kDims)
          var j = 0
          while (j < m.kDims) {
            var s = 0d; i = 0
            while (i < m.d) { s += w(j)(i) * (v(i) / nrm); i += 1 }
            qp(j) = s.toFloat; j += 1
          }
          (qid, cell, base, qp)
        }
      }.toDF("query_id", "probe_cell", "base", "qproj")
    import graft.functions.VectorFunctions
    val joinCond =
      if (excludeSelf) col("cell") === col("probe_cell") &&
        col("query_id") =!= col("neighbor_id")
      else col("cell") === col("probe_cell")
    val cand = indexed.join(broadcast(q), joinCond)
      .withColumn("approx",
        col("base") + VectorFunctions.dot(col("qproj"), col("rproj")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("approx").desc, col("neighbor_id"))
    val top = cand.withColumn("r", row_number().over(w))
      .filter(col("r") <= pool)
      .select(col("query_id"), col("neighbor_id"))
    rerankExact(top, emb, queries, k)
  }

  /** Search-quality contract of [[ivfResidualTopK]], mirroring
    * [[pcaIvfCheck]] row-for-row (ε-tolerant recall vs the exact
    * full-space reference; emitted-cosine exactness): geometry from
    * the occupancy-scaled config, rerank pool from probed-cell mass —
    * the same sublinear budgets the global-projection path is graded
    * at, so the two checks are directly comparable at every scale.
    */
  /** End-to-end probe-budget calibration for the residual pipeline:
    * seed at the ε-prefix NECESSARY bound ([[Similarity.
    * calibratedNprobe]] — fewer probes cannot even hold k acceptable
    * candidates), then ladder ×1.5 until the PIPELINE's own sampled
    * ε-recall (the full probe → residual-rank → pool → exact-rerank
    * chain over a deterministic 32-query sample) reaches the bar plus
    * a half-margin (the [[calibrateLadder]] acceptance rule).
    * Measured at n = 505k / nlist = 711: analytic rule 14 (red),
    * ε-prefix seed 38 (red — holding k acceptables is necessary but
    * ranking noise near the pool cut needs headroom), ladder lands in
    * the 55–90 range where the budget sweep measured green — the
    * end-to-end sample is the only signal that prices the ranking
    * loss in. Calibration is training-class work (a few sample-sized
    * searches + one corpus scoring pass), amortized like centroid
    * training; serving cost is what it prices: nprobe · n/nlist
    * candidates per query.
    */
  /** A calibration result that carries its own evidence: the budget,
    * the sampled ε-recall MEASURED AT that budget, whether anything
    * was measured at all (false only on a degenerate empty sample),
    * and whether the measurement cleared the acceptance bar. `ok =
    * false` with `measured = true` is the definitive ranking-bound
    * verdict — no budget up to the cap reaches the bar on this
    * corpus — and is what [[annDispatch]] votes on.
    */
  case class CalibratedBudget(nprobe: Int, recall: Double,
                              measured: Boolean, ok: Boolean)

  /** Shared ×1.5 calibration ladder: walk nprobe up from `seed` until
    * the supplied search's sampled ε-recall (over the deterministic
    * residue-7 calibration sample) reaches bar + HALF-MARGIN
    * (`bar + (1 − bar)/2`, e.g. 0.95 at bar 0.9) — a budget that only
    * just clears the bar on the 32-query sample leaves nothing for a
    * harder serving slice, and the half-margin is what made the 505k
    * calibration land on the sweep-verified green range instead of
    * its red lower edge. The returned budget is always MEASURED: when
    * the ladder exhausts (or seeds at/above the cap) the final rung
    * evaluates at the cap itself, so a ranking-bound corpus is
    * detected here — `ok = false` — rather than only at the
    * downstream gate.
    */
  private def calibrateLadder(emb: DataFrame, k: Int, bar: Double,
                              epsTies: Double, seed: Int, cap: Int,
                              sample: Int)
                             (searchAt: (DataFrame, Int) => DataFrame): CalibratedBudget = {
    val qdf = emb.filter(pmod(col("vec_id"), lit(101)) === 7)
      .orderBy("vec_id").limit(sample)
      .select(col("vec_id"), col("embedding"))
    // r16: materialize the exact reference once — `kth` joins into
    // EVERY ladder rung, so without a snapshot each rung re-ran the
    // brute-force reference (the dominant calibration cost at scale:
    // BENCH_NOTES r15 measured calibration at 70 s of the 135 s
    // total at n = 2.02M)
    val exact = Dedup.materialize(Similarity.bruteForceTopK(emb, qdf, k))
    val total = exact.count()
    if (total == 0)
      return CalibratedBudget(math.max(1, math.min(cap, seed)), 1.0,
        measured = false, ok = true)
    val kth = exact.groupBy(col("query_id")).agg(min(col("cos")).as("kth"))
    val barUse = math.min(1.0, bar + (1.0 - bar) / 2)
    var np = math.max(1, math.min(cap, seed))
    while (true) {
      val hits = searchAt(qdf, np).join(kth, "query_id")
        .filter(col("cos") >= col("kth") - epsTies).count()
      val recall = hits.toDouble / total
      if (recall >= barUse)
        return CalibratedBudget(np, recall, measured = true, ok = true)
      if (np >= cap)
        return CalibratedBudget(cap, recall, measured = true, ok = false)
      np = math.min(cap, math.ceil(np * 1.5).toInt)
    }
    sys.error("unreachable")
  }

  /** `indexOpt`: a prebuilt MATERIALIZED [[buildResidualIndex]] —
    * without it every ladder rung re-derives the corpus-sized index
    * plan (n·nlist·d MACs per rung), which is immaterial at gate
    * scale but the dominant cost at n ≥ 1e6; the at-scale callers
    * (ScaleProbe, serving loops) build once and pass it through.
    *
    * The seed is where the two layouts differ: at full width the
    * ε-prefix necessary bound; for a reduced model the analytic
    * `floor`, because its cells live in the projected space, where the
    * prefix's full-width acceptability accounting doesn't transfer.
    * Recall is graded at full width either way, so the reduction's
    * loss is priced into the budget with everything else.
    */
  def calibrateResidualBudget(emb: DataFrame, model: IvfResidualModel,
                              k: Int = 10, bar: Double = 0.9,
                              epsTies: Double = 1e-3, mult: Int = 8,
                              sample: Int = 32, floor: Int = 8,
                              indexOpt: Option[DataFrame] = None): CalibratedBudget = {
    val n = emb.count()
    val seed =
      if (model.reducer.isDefined) floor
      else Similarity.calibratedNprobe(emb, model.cents, k, bar, sample,
        floor, epsTies)
    calibrateLadder(emb, k, bar, epsTies, seed, model.nlist, sample) {
      (qdf, np) =>
        ivfResidualTopK(emb, qdf, model, k, np,
          probedMassMult(n, model.nlist, np, k, mult) * k,
          indexOpt = indexOpt)
    }
  }

  /** The same measured ladder for the GLOBAL-projection arm
    * ([[pcaIvfTopK]]) — so a probe can quantify, at any scale, what
    * budget the global ranking needs to reach the same ε-recall bar
    * the residual arm holds (or that no budget up to nlist reaches it
    * — the definitive ranking-bound verdict). No ε-prefix seed: the
    * global arm probes cells laid out in PROJECTED space, where the
    * prefix's full-space acceptability accounting doesn't transfer —
    * the ladder starts at the analytic floor.
    */
  def calibratePcaIvfBudget(emb: DataFrame, model: PcaModel,
                            cents: Similarity.Cents, k: Int = 10,
                            bar: Double = 0.9, epsTies: Double = 1e-3,
                            mult: Int = 8, sample: Int = 32,
                            floor: Int = 8): CalibratedBudget = {
    val n = emb.count()
    val nlist = cents.length
    calibrateLadder(emb, k, bar, epsTies, floor, nlist, sample) {
      (qdf, np) =>
        pcaIvfTopK(emb, qdf, model, k, nlist, np,
          mult = probedMassMult(n, nlist, np, k, mult),
          centsOpt = Some(cents))
    }
  }

  /** `nprobe = 0` (the default) resolves by the MEASURED end-to-end
    * calibration above, floored at the analytic scaled rule — at the
    * gate scales the floor usually binds (true neighbors concentrate
    * in the top cells), while at n = 505k the calibration lifts the
    * budget to the crossover the analytic rule misses by 4×.
    */
  /** The graded queries are [[Similarity.spreadSample]] — disjoint
    * from the calibration's residue-7 slice: budget chosen on one
    * slice, graded on another, the train/validation split that keeps
    * the measurement honest. A reduced model is graded the same way,
    * against the FULL-width exact reference.
    */
  def ivfResidualCheck(emb: DataFrame, k: Int = 10, kDims: Int = 16,
                       nprobe: Int = 0, mult: Int = 8,
                       minRecall: Double = 0.9,
                       modelOpt: Option[IvfResidualModel] = None,
                       epsTies: Double = 1e-3,
                       indexOpt: Option[DataFrame] = None): DataFrame = {
    val queries = Similarity.spreadSample(emb)
    val n = emb.count()
    val model = modelOpt.getOrElse(fitIvfResidual(emb, kDims))
    val (_, np) = Similarity.scaledIvfConfig(n)
    val nprobeUse = math.min(model.nlist,
      if (nprobe > 0) nprobe
      else calibrateResidualBudget(emb, model, k, minRecall,
        epsTies = epsTies, mult = mult, floor = math.max(8, np),
        indexOpt = indexOpt).nprobe)
    val pool = probedMassMult(n, model.nlist, nprobeUse, k, mult) * k
    gradeExact(emb, queries, k, minRecall, Some(epsTies),
      ivfResidualTopK(emb, queries, model, k, nprobeUse, pool,
        indexOpt = indexOpt))
  }

  /** Search-quality contract of [[ivfResidualTopKCross]]: for a
    * deterministic spread sample of QUERY-side vectors against the
    * corpus, ε-tolerant recall vs the exact cross reference
    * ([[Similarity.bruteForceTopK]] — already cross-shaped: a query
    * set against a corpus) at least `minRecall`, and every emitted
    * cosine exactly the reference's (the rerank is exact, only the
    * candidate set approximates). The model fits on the CORPUS side
    * only — queries never influence the layout, the frozen-store
    * serving contract.
    */
  def ivfResidualCrossCheck(corpus: DataFrame, queries: DataFrame,
                            k: Int = 10, kDims: Int = 16, nprobe: Int = 0,
                            mult: Int = 8, minRecall: Double = 0.9,
                            modelOpt: Option[IvfResidualModel] = None,
                            epsTies: Double = 1e-3,
                            indexOpt: Option[DataFrame] = None): DataFrame = {
    // SPREAD deterministic sample of the query side: ordering by a
    // residue before the id spreads the 32 graded queries across the
    // whole id space — consecutive low ids grade a single blob fringe
    // on clustered corpora (the r14 ADVICE sampling artifact; measured
    // here too: the low-id slice read recall < bar at sf0.1 where the
    // spread slice holds it)
    val qs = queries.orderBy(pmod(col("vec_id"), lit(97)), col("vec_id"))
      .limit(32)
      .select(col("vec_id"), col("embedding"))
    val n = corpus.count()
    val model = modelOpt.getOrElse(fitIvfResidual(corpus, kDims))
    val (_, np) = Similarity.scaledIvfConfig(n)
    val nprobeUse = math.min(model.nlist,
      if (nprobe > 0) nprobe
      else calibrateResidualBudget(corpus, model, k, minRecall,
        epsTies = epsTies, mult = mult, floor = math.max(8, np),
        indexOpt = indexOpt).nprobe)
    val pool = probedMassMult(n, model.nlist, nprobeUse, k, mult) * k
    gradeExact(corpus, qs, k, minRecall, Some(epsTies),
      ivfResidualTopKCross(corpus, qs, model, k, nprobeUse, pool,
        indexOpt = indexOpt))
  }

  // ── ANN serving auto-dispatch ───────────────────────────────────────
  //
  // r14 measured the two top-k ranking arms head-to-head at three
  // scales (BENCH_NOTES "two-arm budget comparison"): the GLOBAL
  // projection arm (pcaIvfTopK — one 16-dim PCA ranks every probed
  // candidate) needs a flat ~quarter of the corpus per query by 505k
  // and is ranking-bound at 2M, while the PER-CELL residual arm's
  // calibrated budget keeps FALLING as a corpus fraction
  // (0.35 → 0.0061 at 2.02M — 41× cheaper). But the residual arm was
  // caller-opt-in; the engine's serving entry point still defaulted to
  // the arm the measurements retired. annDispatch makes the choice the
  // ENGINE's, by the same evidence the probes print: calibrate BOTH
  // arms' budgets on the corpus (training-class work, amortized like
  // the model fits it rides on) and serve the arm whose MEASURED
  // budget is cheaper — with a measured-green requirement, so an arm
  // whose ladder exhausted unverified (CalibratedBudget.ok = false)
  // can never be chosen over one that holds the bar.

  /** The decision and its evidence: both arms' measured budgets plus
    * the choice. Serving cost per query is `nprobe · n/nlist`
    * candidates ranked by a kDims-dot on EITHER arm (same nlist
    * geometry, same pool rule), so the calibrated nprobe IS the
    * comparable price; ties prefer the global arm (one d×d
    * eigenproblem and reduced-space cell scoring vs nlist of each).
    */
  /** `n` is the corpus count the dispatch was calibrated on (−1 when
    * the caller never measured it): serving paths need n only for
    * [[probedMassMult]], so carrying it here makes a dispatch-supplied
    * [[annTopKAuto]] call scan-free — the serve-many shape (r15
    * VERDICT: a full `emb.count()` per serving call is a corpus scan
    * the declared serving entry point must not pay).
    */
  case class AnnDispatch(residual: Boolean, nlist: Int,
                         global: CalibratedBudget,
                         resid: CalibratedBudget,
                         n: Long = -1L)

  /** The decision alone, from budgets already in hand — the path for
    * probes that measured both ladders themselves and must not pay
    * them twice. Pass the corpus count `n` when known so downstream
    * serving is scan-free.
    */
  def annDispatchFrom(g: CalibratedBudget, r: CalibratedBudget,
                      nlist: Int, n: Long = -1L): AnnDispatch = {
    val residual =
      if (g.ok != r.ok) r.ok                 // only one arm verified green
      else if (g.ok) r.nprobe < g.nprobe     // both green: cheaper budget
      else r.recall > g.recall               // neither: least-bad evidence
    if (sys.env.contains("GRAFT_PROBE"))
      println(f"[probe]   annDispatch nlist=$nlist " +
        f"global=${g.nprobe}(ok=${g.ok},rec=${g.recall}%.3f) " +
        f"residual=${r.nprobe}(ok=${r.ok},rec=${r.recall}%.3f) -> " +
        (if (residual) "residual" else "global"))
    AnnDispatch(residual, nlist, g, r, n)
  }

  def annDispatch(emb: DataFrame, model: PcaModel,
                  cents: Similarity.Cents, rmodel: IvfResidualModel,
                  k: Int = 10, bar: Double = 0.9, epsTies: Double = 1e-3,
                  mult: Int = 8, sample: Int = 32, floor: Int = 8): AnnDispatch =
    annDispatchFrom(
      calibratePcaIvfBudget(emb, model, cents, k, bar, epsTies, mult,
        sample, floor),
      calibrateResidualBudget(emb, rmodel, k, bar, epsTies, mult,
        sample, floor),
      rmodel.nlist,
      // the calibration above already scanned the corpus; one count
      // here makes every dispatch-supplied serving call scan-free
      emb.count())

  /** Top-k ANN serving through whichever ranking arm [[annDispatch]]
    * measured cheaper at the recall bar. The dispatch (like the two
    * model fits it compares) is training-class work — calibrate once
    * per (corpus, layout), serve many; pass the `AnnDispatch` back in
    * to skip re-calibration.
    */
  def annTopKAuto(emb: DataFrame, queries: DataFrame, model: PcaModel,
                  cents: Similarity.Cents, rmodel: IvfResidualModel,
                  k: Int = 10, mult: Int = 8,
                  dispatchOpt: Option[AnnDispatch] = None): DataFrame = {
    val d = dispatchOpt.getOrElse(annDispatch(emb, model, cents, rmodel, k))
    // n comes from the dispatch when it carries one — a supplied
    // dispatch makes serving scan-free (r15 VERDICT finding 2); only a
    // legacy dispatch without a count pays the corpus scan here
    val n = if (d.n >= 0L) d.n else emb.count()
    if (d.residual)
      ivfResidualTopK(emb, queries, rmodel, k, d.resid.nprobe,
        probedMassMult(n, rmodel.nlist, d.resid.nprobe, k, mult) * k)
    else
      pcaIvfTopK(emb, queries, model, k, cents.length, d.global.nprobe,
        mult = probedMassMult(n, cents.length, d.global.nprobe, k, mult),
        centsOpt = Some(cents))
  }

  /** Contract row of the auto-dispatched serving path, graded on the
    * SPREAD sample disjoint from the calibration slice (residue 13 vs
    * 7 — the [[ivfResidualCheck]] train/validation split): ε-recall vs
    * the exact reference ≥ `minRecall` and emitted-cosine exactness,
    * through whichever arm the dispatcher chose. The chosen arm is
    * deliberately NOT a gate column (it is a measured decision, not an
    * oracle-predictable value) — specs pin the crossover, ScaleProbe
    * prints it.
    */
  def annAutoCheck(emb: DataFrame, model: PcaModel,
                   cents: Similarity.Cents, rmodel: IvfResidualModel,
                   k: Int = 10, mult: Int = 8, minRecall: Double = 0.9,
                   epsTies: Double = 1e-3,
                   dispatchOpt: Option[AnnDispatch] = None): DataFrame = {
    val queries = Similarity.spreadSample(emb)
    gradeExact(emb, queries, k, minRecall, Some(epsTies),
      annTopKAuto(emb, queries, model, cents, rmodel, k, mult, dispatchOpt))
  }

  // ── cross-set arm dispatch ──────────────────────────────────────────
  //
  // The cross-set families (knnJoinCross, semanticDecontaminate,
  // propagateLabels) ride hyperplane LSH, which signs the WHOLE corpus
  // on every call — n · planes signature MACs before any candidate
  // work, plus collision verification. The residual arm probes a
  // trained layout instead: per query-side vector, nprobe · n/nlist
  // candidates ranked by kDims-dots (the model fit amortizes across
  // calls like every trained artifact). The analytic crossover is
  //
  //     nq · nprobe · (n/nlist) · kDims  + nq · nlist · d
  //  vs      n · planes  (+ verification on collision mass)
  //
  // — the banded arm wins when the query set is large relative to the
  // corpus (its scan amortizes over queries), the residual arm when a
  // small query set probes a big frozen corpus (the serving shape).
  // Recall is a CONTRACT, not a estimate: the banded arm runs at its
  // recall-1.0 gate geometry, so the residual arm is only eligible
  // when its calibration MEASURED green at the caller's bar — an
  // unverified budget falls back to the banded arm.

  /** The cross-arm decision with its evidence. `resid` is None when
    * stage 1 (the analytic cost comparison) kept the banded arm
    * without fitting anything — the cheap path for query-heavy calls.
    * `n` (corpus count) and `d` (embedding width) are what the
    * dispatch measured, so serving either arm from a supplied
    * dispatch scans nothing (the [[AnnDispatch]] `n` contract).
    */
  case class CrossDispatch(residual: Boolean, nlist: Int,
                           analyticBanded: Double, analyticResidual: Double,
                           rmodel: Option[IvfResidualModel],
                           resid: Option[CalibratedBudget],
                           n: Long, d: Int)

  /** Worst-case [[residualMoments]] per-task accumulator for a given
    * (nlist, d) — the arithmetic of the plan-time refusal.
    */
  private[graft] def plainMomentBytes(nlist: Int, d: Int): Long =
    nlist.toLong * (1L + d + d.toLong * (d + 1) / 2) * 8L

  /** The cross dispatchers' residual fit on a `d`-wide corpus at
    * `nlist` cells: full width when the per-cell moments fit
    * [[maxMomentTaskBytes]], else a reduced layout at
    * `dRed = min(64, d − 1)` — so the residual arm stays dispatchable at
    * any width instead of walking into the plan-time refusal.
    */
  private[operators] def fitCrossResidual(corpus: DataFrame, kDims: Int,
                                          nlist: Int, d: Int): IvfResidualModel =
    fitIvfResidual(corpus, kDims, nlist,
      dRed = if (plainMomentBytes(nlist, d) > maxMomentTaskBytes) math.min(64, d - 1)
             else 0)

  /** Analytic recall bar the AUTO cross-set banded arm is served (and
    * priced) at — the [[Similarity.scaledLshConfigWideArm]] escalation
    * target. 0.99999 is the `sim_pairs_auto_banded` convention: at the
    * gate corpora it resolves to geometries whose recall the exact
    * oracles re-derive as 1.0 on every driver run, and at scale the
    * expected-miss arithmetic stays below one pair per ~1e5 borderline
    * pairs.
    */
  private[graft] val crossBandRecallBar = 0.99999

  /** `force` pins an arm for gate/spec verification of both branches
    * against one oracle (the [[Similarity.similarPairsAuto]]
    * convention): `Some(false)` stops after stage 1 on the banded arm,
    * `Some(true)` skips stage 1's banded exit and takes the residual
    * arm at the stage-2 fit and budget whatever the costs say.
    */
  def crossDispatch(corpus: DataFrame, nQueries: Long, k: Int = 10,
                    bar: Double = 0.9, kDims: Int = 16,
                    threshold: Double = 0.4,
                    rmodelOpt: Option[IvfResidualModel] = None,
                    budgetOpt: Option[CalibratedBudget] = None,
                    force: Option[Boolean] = None): CrossDispatch = {
    val n = corpus.count()
    val (nlist, npFloor) = Similarity.scaledIvfConfig(n)
    // price the geometry the banded branch actually SERVES (the wide
    // recall-escalated arm at the caller's threshold) — r15 ADVICE: a
    // dispatcher that prices one geometry and serves another compares
    // nothing
    val (planes, _, _) = Similarity.scaledLshConfigWideArm(n, threshold,
      recallBar = crossBandRecallBar)
    // embedding width from one corpus row — d enters the assignment
    // term linearly, and the d = 64 constant this replaces (r15 VERDICT
    // finding 3) mispriced it 12x at d = 768
    val d = corpus.select(col("embedding")).head.getSeq[Float](0).length
    // stage 1: analytic costs at the SCALED geometries — the residual
    // side priced at the analytic probe floor (its calibrated budget
    // can only be larger, so a stage-1 banded win is safe without
    // fitting; a residual win is then CONFIRMED by calibration)
    val costBanded = n.toDouble * planes
    val costResidual = nQueries.toDouble * math.max(8, npFloor) *
      (n.toDouble / nlist) * kDims + nQueries.toDouble * nlist * d
    if (force.contains(false) || (force.isEmpty && costResidual >= costBanded))
      return CrossDispatch(residual = false, nlist, costBanded, costResidual,
        None, None, n, d)
    // stage 2: the residual arm must hold the caller's bar at a
    // MEASURED budget (fit + calibration are training-class, amortized
    // via rmodelOpt/budgetOpt on repeated serving) — and the cost
    // inequality RE-EVALUATES at the calibrated nprobe, keeping the
    // per-query assignment term, so a budget that ballooned past the
    // analytic floor cannot ride the stage-1 comparison into a
    // dispatch the banded arm now wins (r15 ADVICE finding 1).
    val rmodel = rmodelOpt.getOrElse(fitCrossResidual(corpus, kDims, nlist, d))
    val budget = budgetOpt.getOrElse(
      calibrateResidualBudget(corpus, rmodel, k, bar,
        floor = math.max(8, npFloor)))
    // a reduced layout assigns in the reduced space and pays the query
    // reduction itself (d·dRed MACs per query)
    val assignCost = rmodel.reducer match {
      case None => nQueries.toDouble * nlist * d
      case Some(r) => nQueries.toDouble * (nlist.toDouble * r.k + d.toDouble * r.k)
    }
    val costCalibrated = nQueries.toDouble * budget.nprobe *
      (n.toDouble / nlist) * kDims + assignCost
    CrossDispatch(force.getOrElse(budget.ok && costCalibrated < costBanded),
      nlist, costBanded, costCalibrated, Some(rmodel), Some(budget), n, d)
  }

  /** MEASURED probe-budget calibration for THRESHOLD-match coverage —
    * the [[Similarity.calibratedNprobe]] device re-pointed at the
    * quantity [[residualThresholdCross]] actually owes: for each
    * sampled query-side vector, the smallest cell-rank prefix holding
    * at least `bar` of its TRUE above-threshold corpus partners (not
    * its top-k — a decon query's kill set can be far larger than k
    * and spread over more cells, which is exactly why the r15 sf0.01
    * gate caught the kNN budget under-covering kills). One distributed
    * corpus pass against the broadcast sample (the calibratedNprobe
    * cost class — training work, amortized per (corpus, layout));
    * the driver walks each query's own centroid-score cell order and
    * takes the max over the sample (bar-quantile at sample ≥ 16),
    * floored at the analytic rule, capped at nlist.
    */
  /** `minEvidence`: the sampled calibration only prunes when the
    * sample actually SAW at least this many above-threshold partners —
    * in a kill-sparse regime (measured at sf0.01: 3 kills across the
    * whole bench, 0-3 visible to any 32-query sample) the sample
    * carries no information about where kills live, and a budget
    * extrapolated from nothing silently misses the few that exist
    * (coverage 2/3 at the floor budget, r15 measured). Absent
    * evidence the honest budget is nlist — probe everything, the
    * exact answer at the un-pruned cost. Real contamination at scale
    * IS the evidence-rich regime, where the calibration prunes.
    */
  /** A reduced model's cell layout lives in the reduced space, so
    * assignment and each query's probe-cell order run through the
    * reducer — while the partner counting stays at FULL width (a kill
    * is a full-width cosine ≥ threshold, whatever space the pruning
    * lives in).
    */
  def calibrateThresholdNprobe(corpus: DataFrame, model: IvfResidualModel,
                               queries: DataFrame, threshold: Double,
                               bar: Double = 0.9, sample: Int = 32,
                               floor: Int = 8, minEvidence: Long = 8): Int = {
    import graft.functions.VectorFunctions
    val cents = model.cents
    val nlist = cents.length
    val spreadQ = queries.filter(pmod(col("vec_id"), lit(101)) === 7)
      .orderBy("vec_id").limit(sample)
      .select(col("vec_id"), col("embedding"))
    val qdf = if (spreadQ.isEmpty)
                queries.orderBy("vec_id").limit(sample)
                  .select(col("vec_id"), col("embedding"))
              else spreadQ
    val qvecs = qdf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (qvecs.isEmpty) return math.min(nlist, math.max(1, floor))
    // probe-order vectors live in the layout's own space
    val probeVecs: Map[Long, Array[Float]] = qvecs.map { case (id, v) =>
      id -> model.reducer.fold(v)(projectKernel(v, _)) }.toMap
    val q = qdf.select(col("vec_id").as("query_id"),
      col("embedding").as("q_emb"),
      VectorFunctions.norm(col("embedding")).as("q_nrm"))
    val assigned = Similarity.cellAssign(
      withFullWidth(corpus, model).select(col("vec_id"), col("embedding"),
        col("full"), VectorFunctions.norm(col("full")).as("c_nrm")),
      cents, "cell")
    // count the SAME population the serving path must cover: the two
    // sides are distinct tables (the ivfResidualTopKCross contract), so
    // a query_id == vec_id row is a real partner residualThresholdCross
    // emits and the gate oracle counts — excluding it (the r15 shape)
    // undercounted exactly the same-id near-duplicate partners on
    // overlapping id spaces (r15 ADVICE finding 4)
    val counts = assigned.join(broadcast(q), lit(true))
      .filter(round(VectorFunctions.dot(col("q_emb"), col("full")) /
        (col("q_nrm") * col("c_nrm")), 6) >= threshold)
      .groupBy(col("query_id"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQuery = counts.groupBy(_._1)
    if (counts.map(_._3).sum < minEvidence) return nlist
    val perQueryPrefix = qvecs.map { case (qid, _) =>
      val cellCnt = byQuery.getOrElse(qid, Array.empty[(Long, Int, Long)])
        .map { case (_, cell, cnt) => cell -> cnt }.toMap
      val total = cellCnt.values.sum
      if (total == 0L) floor
      else {
        val need = math.ceil(bar * total).toLong
        val order = Similarity.probeCellsOf(probeVecs(qid), cents, nlist)
        var acc = 0L
        var p = 0
        while (p < order.length && acc < need) {
          acc += cellCnt.getOrElse(order(p), 0L)
          p += 1
        }
        if (acc < need) nlist else p
      }
    }.sorted
    val p =
      if (perQueryPrefix.length >= 16) {
        val idx = math.min(perQueryPrefix.length - 1,
          math.max(0, math.ceil(bar * perQueryPrefix.length).toInt - 1))
        perQueryPrefix(idx)
      } else perQueryPrefix.last
    math.min(nlist, math.max(math.max(1, floor), p))
  }

  /** Cross-set THRESHOLD match at the residual-store geometry — the
    * [[Similarity.crossMatches]] shape (every (corpus, query) pair
    * with cosine ≥ `threshold`) probed instead of banded: query-side
    * vectors probe the corpus's frozen cell layout and every probed
    * candidate verifies by EXACT cosine. The residual axes are unused
    * here — threshold semantics owe ALL matches, not a ranked pool, so
    * there is nothing for an approximate ranking to prune; the model
    * contributes its trained cell layout (and its store lifecycle). A
    * reduced model prunes in the reduced space and still verifies every
    * candidate at full width, so precision is exact at any d.
    * Precision is exact by construction; recall is the probe-coverage
    * contract the caller's calibrated budget prices — the gates pin it
    * in-engine against the exact kill set. Output matches
    * crossMatches: (id_a = corpus id, id_b = query id, cos).
    */
  def residualThresholdCross(corpus: DataFrame, queries: DataFrame,
                             model: IvfResidualModel, nprobe: Int,
                             threshold: Double): DataFrame = {
    import graft.functions.VectorFunctions
    require(nprobe >= 1 && nprobe <= model.nlist)
    // NOT spread (measured r17): repartitioning the corpus side to the
    // adaptive width tripled the gate's CPU (4.9 → 15-16 s; ~0.4 s of
    // fixed per-task work × 32) while the wall stayed ~5.3 s — the
    // bottleneck is not this stage's parallelism.
    val assigned = Similarity.cellAssign(
      withFullWidth(corpus, model).select(col("vec_id").as("id_a"),
        col("embedding"), col("full"),
        VectorFunctions.norm(col("full")).as("nrm_a")),
      model.cents, "cell")
    // withProbeCells probes the layout-space vector under `embedding`;
    // only the full-width one is kept past the probe expansion
    val q = Similarity.withProbeCells(
        withFullWidth(queries, model).select(col("vec_id").as("id_b"),
          col("embedding"), col("full").as("q_emb"),
          VectorFunctions.norm(col("full")).as("nrm_b")),
        model.cents, nprobe)
      .drop("embedding")
    assigned.join(broadcast(q), col("cell") === col("probe_cell"))
      .withColumn("cos", round(
        VectorFunctions.dot(col("full"), col("q_emb")) /
          (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      // no distinct needed: a corpus row lives in exactly ONE cell and
      // a query's probe cells are distinct, so each (id_a, id_b) pair
      // meets at most once — the equi-join cannot duplicate
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** [[Similarity.knnJoinCross]] routed through [[crossDispatch]]: the
    * engine picks the banded recall-1.0 arm or the calibrated residual
    * arm from the measured costs. `force` pins an arm (see
    * [[crossDispatch]]); a supplied dispatch serves without a scan.
    */
  def knnJoinCrossAuto(left: DataFrame, right: DataFrame,
                       threshold: Double, k: Int, kDims: Int = 16,
                       bar: Double = 0.9, mult: Int = 8,
                       dispatchOpt: Option[CrossDispatch] = None,
                       force: Option[Boolean] = None): DataFrame = {
    val d = dispatchOpt.getOrElse(
      crossDispatch(right, left.count(), k, bar, kDims, threshold, force = force))
    if (sys.env.contains("GRAFT_PROBE"))
      println(f"[probe]   knnJoinCrossAuto costBanded=${d.analyticBanded}%.3g " +
        f"costResidual=${d.analyticResidual}%.3g " +
        f"budget=${d.resid.map(_.nprobe).getOrElse(-1)} -> " +
        (if (d.residual) "residual" else "banded"))
    if (d.residual) {
      val np = d.resid.get.nprobe
      val rm = d.rmodel.get
      ivfResidualTopKCross(right, left, rm, k, np,
        probedMassMult(d.n, rm.nlist, np, k, mult) * k, threshold)
    } else {
      // serve the banded arm at the geometry the dispatcher PRICED —
      // the occupancy-scaled wide arm at the analytic recall bar, not
      // the fixed 32x16 default (r15 ADVICE finding 2: the default's
      // 2-bit bands put ~n/4 rows per bucket at large n, a
      // near-quadratic candidate stream nothing in the cost model
      // represents); hyperplane width is the dispatch's measured one
      val (planes, bands, mp) = Similarity.scaledLshConfigWideArm(d.n,
        threshold, recallBar = crossBandRecallBar)
      Similarity.knnJoinCross(left, right, threshold, k, planes, bands,
        d.d, multiProbe = mp)
    }
  }
  //
  // The residual model's sufficient statistics are per-cell moment
  // arrays against a FROZEN cell layout — additive across tranches, so
  // the model has the same build-once/fold-in-shards lifecycle as the
  // PCA moment store: the build trains and freezes the coarse layout,
  // each extend scans ONLY its tranche (assignment against the frozen
  // cells keeps the moments commensurable), re-delivery is a ledgered
  // no-op, and refitting after an append is driver-side
  // eigendecomposition over summed moments — the indexed corpus is
  // never rescanned. The freeze is load-bearing the same way
  // [[graft.operators.Pq]]'s persisted ANN index's is: re-training
  // cells on an extended corpus would reassign OLD vectors, and their
  // already-folded moments cannot follow — that lifecycle step is a
  // rebuild (or [[Pq.rebalanceAnnIndex]]'s explicit migration), not an
  // extend.
  //
  //   <path>/cents/    (cid, vec)              frozen coarse layout
  //   <path>/moments/  (shard_id, cell, acc)   per-(shard, cell) rows
  //   <path>/_meta/    generation manifests (graft.util.Manifest)

  private def writeResidualShard(emb: DataFrame, path: String,
                                 cents: Similarity.Cents, shardId: String,
                                 vecCol: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    residualMoments(emb, cents, vecCol).toSeq
      .map { case (cell, acc) => (shardId, cell, acc.toSeq) }
      .toDF("shard_id", "cell", "acc")
      .coalesce(1)
      .write.mode("append").parquet(s"$path/moments")
  }

  /** The IVF residual model as a [[graft.util.ShardedStore]] —
    * continuous ANN ranking-model maintenance, batch or streamed: the
    * build trains the coarse layout on its tranche (scaled to the
    * tranche size), FREEZES it in `cents` and writes the tranche's
    * per-cell moments; every extend scans its TRANCHE only, assigned
    * against the frozen cells read back from the committed head, and
    * appends its own per-cell moment rows. A re-delivered ledgered
    * shard is a no-op instead of double-counted moments rotating every
    * cell's axes. Moments are additive per cell, so refitting from the
    * store solves the same per-cell eigenproblems as a one-shot fit
    * over everything folded in ([[ivfResidualStoreCheck]]).
    */
  def residualStore(path: String, vecCol: String = "embedding"): ShardedStore = {
    val layout = ShardedStore.Pin[Similarity.Cents](
      fit = { emb =>
        val nlist = Similarity.scaledIvfConfig(emb.count())._1
        Similarity.coarseCentroids(
          emb.select(col("vec_id"), col(vecCol).as("embedding")),
          nlist, Similarity.scaledIvfIters(nlist))
      },
      save = (spark, cents) => Similarity.writeCents(spark, cents, s"$path/cents"),
      load = Similarity.readCents(_, path))
    ShardedStore.additive(path, "moments")(layout) { (emb, tag, cents) =>
      writeResidualShard(emb, path, cents, tag, vecCol)
    }
  }

  /** Combined store moments per cell, shard rows summed in shard_id
    * order — deterministic for a given shard SET, independent of
    * append order or read partitioning.
    */
  private def loadResidualMoments(spark: SparkSession, path: String,
                                  asOf: Option[Int]): (Int, Array[(Int, Array[Double])]) = {
    val rows = graft.util.Manifest.read(spark, path, "moments", asOf).collect()
      .map(r => (r.getString(0), r.getInt(1), r.getSeq[Double](2).toArray))
    require(rows.nonEmpty, "empty residual store")
    val nShards = rows.map(_._1).distinct.length
    val combined = rows.groupBy(_._2).map { case (cell, shardRows) =>
      val sorted = shardRows.sortBy(_._1).map(_._3)
      val out = sorted.head.clone()
      sorted.tail.foreach { a =>
        var i = 0
        while (i < out.length) { out(i) += a(i); i += 1 }
      }
      (cell, out)
    }.toArray.sortBy(_._1)
    (nShards, combined)
  }

  /** Refit the ranking model from the stored moments alone — a
    * driver-side eigendecomposition per populated cell, zero jobs over
    * the corpus (the refit a serving pipeline runs after each append).
    */
  def ivfResidualFromStore(spark: SparkSession, path: String,
                           kDims: Int = 16,
                           asOf: Option[Int] = None): IvfResidualModel = {
    val cents = Similarity.readCents(spark, path, asOf)
    val (_, combined) = loadResidualMoments(spark, path, asOf)
    residualModelFrom(cents, combined, kDims)
  }

  /** Driver-visible contract of the incremental residual lifecycle,
    * ONE row (the [[incrementalCheck]] shape):
    *
    *  - `moments_match`: the store's combined per-cell moments equal a
    *    fresh full-corpus pass against the SAME frozen layout — counts
    *    exactly, sums to 1e-9 relative (float association differs
    *    shard-wise; a double-counted or dropped shard is off by whole
    *    rows);
    *  - `eigen_ok`: every store-fitted axis `w` of every non-starved
    *    cell satisfies `C_cell·w = (wᵀC_cell w)·w` to 1e-6 against the
    *    cell covariance REBUILT from the fresh moments — the store fit
    *    solves each cell's eigenproblem, not a drifted one (starved
    *    cells verify against the global covariance their fallback axes
    *    come from);
    *  - `orthonormal_ok`: max |WᵀW − I| ≤ 1e-8 per cell;
    *  - `shards_ok`: exactly `expectShards` distinct shard ids — the
    *    re-delivered shard appended NOTHING.
    */
  def ivfResidualStoreCheck(emb: DataFrame, path: String, kDims: Int,
                            expectShards: Int,
                            vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val cents = Similarity.readCents(spark, path)
    val (nShards, stored) = loadResidualMoments(spark, path, None)
    val fresh = residualMoments(emb, cents, vecCol)
    def rel(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(1d, math.max(math.abs(a), math.abs(b)))
    val momentsMatch = stored.length == fresh.length &&
      stored.zip(fresh).forall { case ((ca, aa), (cb, ab)) =>
        ca == cb && aa(0) == ab(0) && aa.indices.forall(i => rel(aa(i), ab(i)))
      }
    val model = residualModelFrom(cents, stored, kDims)
    val freshByCell = fresh.toMap
    val d = model.d
    // fresh per-cell covariances (starved cells: the global fallback)
    val starvedFloor = math.max(2 * kDims, 8)
    val global = new Array[Double](1 + d + utLen(d))
    fresh.foreach { case (_, a) =>
      var i = 0
      while (i < global.length) { global(i) += a(i); i += 1 }
    }
    def covOf(a: Array[Double]): Array[Array[Double]] = {
      val cn = a(0)
      val mu = Array.tabulate(d)(i => a(1 + i) / cn)
      val cov = Array.ofDim[Double](d, d)
      for (i <- 0 until d; j <- i until d) {
        val c = a(1 + d + utIdx(d, i, j)) / cn - mu(i) * mu(j)
        cov(i)(j) = c; cov(j)(i) = c
      }
      cov
    }
    val globalCov = covOf(global)
    var eigenOk = true
    var orthoOk = true
    model.cents.map(_._1).foreach { cell =>
      freshByCell.get(cell).foreach { a =>
        val cov = if (a(0) < starvedFloor) globalCov else covOf(a)
        val w = model.axes(cell)
        for (axis <- w) {
          val cw = Array.tabulate(d)(i => (0 until d).map(j => cov(i)(j) * axis(j)).sum)
          val lambda = (0 until d).map(i => axis(i) * cw(i)).sum
          val resid = (0 until d).map(i => math.abs(cw(i) - lambda * axis(i))).max
          if (resid > 1e-6) eigenOk = false
        }
        for (p <- w.indices; q <- w.indices) {
          val dot = (0 until d).map(i => w(p)(i) * w(q)(i)).sum
          if (math.abs(dot - (if (p == q) 1d else 0d)) > 1e-8) orthoOk = false
        }
      }
    }
    spark.createDataFrame(
      java.util.List.of(Row(momentsMatch, eigenOk, orthoOk, nShards == expectShards)),
      StructType(Seq("moments_match", "eigen_ok", "orthonormal_ok", "shards_ok")
        .map(StructField(_, BooleanType, nullable = false))))
  }

  // ── persisted ANN dispatch (r15 VERDICT task 3) ─────────────────────
  //
  // [[annDispatch]] is training-class — two measured calibration
  // ladders over the corpus (70 s of the 135 s total at n = 2.02M,
  // BENCH_NOTES r15) — but it was session-lived, so every fresh
  // serving session re-paid it. The decision store persists BOTH arms'
  // [[CalibratedBudget]]s, the chosen arm, and the calibration-time
  // corpus count through [[graft.util.Manifest]] (generation history +
  // asOf, like every persisted artifact here):
  //
  //   <path>/decision/ one row — the measured verdict
  //   <path>/extents/  (shard_id, n_delta) — one row per extend
  //   <path>/_meta/    generation manifests
  //
  // Lifecycle semantics (the frozen-quantizer convention of
  // [[Pq.annStore]] / [[Pq.rebalanceAnnIndex]]):
  //  - EXTEND KEEPS the decision: an append under frozen quantizers
  //    changes no ranking geometry; only n moves, and n is additive —
  //    the ledgered extents row carries the delta (a re-delivered
  //    shard id is a manifest no-op, so n can never double-count), and
  //    the served dispatch's n is decision.n + Σ extents.
  //  - REBALANCE RE-CALIBRATES: a retrained cell layout is a new
  //    ranking, so the stored budgets are stale by construction;
  //    [[recalibrateAnnDispatchStore]] rewrites decision + extents as
  //    ONE generation, and `asOf` still serves the previous verdict.

  private def decisionPath(p: String) = s"$p/decision"

  private def writeDecision(spark: SparkSession, dir: String,
                            d: AnnDispatch,
                            mode: org.apache.spark.sql.SaveMode): Unit = {
    import spark.implicits._
    Seq((d.residual, d.nlist, d.n,
        d.global.nprobe, d.global.recall, d.global.measured, d.global.ok,
        d.resid.nprobe, d.resid.recall, d.resid.measured, d.resid.ok))
      .toDF("residual", "nlist", "n",
        "g_nprobe", "g_recall", "g_measured", "g_ok",
        "r_nprobe", "r_recall", "r_measured", "r_ok")
      .coalesce(1).write.mode(mode).parquet(dir)
  }

  /** Persist a measured dispatch at `path` (OVERWRITE build semantics)
    * and return it, so the building session can serve immediately. The
    * [[AnnDispatch]] row is arm-agnostic (budgets + the chosen arm),
    * so a verdict over a reduced residual model persists and serves
    * through the same store as a full-width one ([[annDispatch]]); the
    * caller re-pairs it with the matching models at serve time,
    * exactly as with the live-calibrated path.
    */
  def buildAnnDispatchStore(spark: SparkSession, path: String,
                            d: AnnDispatch): AnnDispatch = {
    graft.util.Manifest.init(spark, path) {
      writeDecision(spark, decisionPath(path), d,
        org.apache.spark.sql.SaveMode.Overwrite)
    }
    d
  }

  /** Record an appended tranche's size — the ONLY dispatch input an
    * extend moves under frozen quantizers. No calibration runs; the
    * ledger makes a retried delivery a no-op.
    */
  def extendAnnDispatchStore(spark: SparkSession, path: String,
                             nDelta: Long,
                             shardId: Option[String] = None): Unit = {
    import spark.implicits._
    graft.util.Manifest.extend(spark, path, shardId) {
      Seq((shardId.getOrElse("_anon"), nDelta)).toDF("shard_id", "n_delta")
        .coalesce(1)
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(s"$path/extents")
    }
    ()
  }

  /** Commit a dispatch re-measured on the CURRENT corpus as one
    * generation (the rebalance analogue): the old decision and its
    * extents retire together — the new n is the recalibration corpus's
    * own count.
    */
  def recalibrateAnnDispatchStore(spark: SparkSession, path: String,
                                  d: AnnDispatch): AnnDispatch = {
    val snap = graft.util.Manifest.snapshot(spark, path)
    val old = snap.files.filter(f =>
      f.startsWith("decision/") || f.startsWith("extents/")).toSet
    graft.util.Manifest.rewriteFiles(spark, path, drop = old,
        baseGen = Some(snap.gen)) { stage =>
      writeDecision(spark, s"$stage/decision", d,
        org.apache.spark.sql.SaveMode.Append)
    }
    d
  }

  /** Serve the stored decision — three tiny manifest-pinned reads, no
    * corpus scan, no calibration: the fresh-session path of
    * [[annTopKAuto]] (pass the result as `dispatchOpt`).
    */
  def annDispatchFromStore(spark: SparkSession, path: String,
                           asOf: Option[Int] = None): AnnDispatch = {
    val snap = graft.util.Manifest.snapshot(spark, path, asOf)
    val row = graft.util.Manifest.read(spark, path, "decision", asOf)
      .collect().head
    val extents =
      if (snap.files.exists(_.startsWith("extents/")))
        graft.util.Manifest.read(spark, path, "extents", asOf)
          .agg(sum(col("n_delta"))).collect().head.getLong(0)
      else 0L
    AnnDispatch(row.getBoolean(0), row.getInt(1),
      CalibratedBudget(row.getInt(3), row.getDouble(4), row.getBoolean(5),
        row.getBoolean(6)),
      CalibratedBudget(row.getInt(7), row.getDouble(8), row.getBoolean(9),
        row.getBoolean(10)),
      row.getLong(2) + extents)
  }

  // ── incremental moment store ────────────────────────────────────────
  //
  // PCA's sufficient statistics (n, Σv, Σv⊗v) are additive, so the
  // model has the same build-once/fold-in-shards lifecycle as the
  // vocab/NB/HLL stores: each shard contributes ONE moment row
  // (d + d² doubles — bytes, not rows), re-delivery is a ledgered
  // no-op, and refitting after an append is a driver-side
  // eigendecomposition — the corpus is never rescanned.
  //
  //   <path>/moments/   (shard_id, n, d, acc array<double>)
  //   <path>/_meta/     generation manifests (graft.util.Manifest)

  private def momentsPath(p: String) = s"$p/moments"

  private def writeMomentShard(emb: DataFrame, path: String, shardId: String,
                               vecCol: String): Unit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val (n, d, acc) = rawMoments(emb, vecCol)
    Seq((shardId, n, d, acc.toSeq)).toDF("shard_id", "n", "d", "acc")
      .coalesce(1)
      .write.mode("append").parquet(momentsPath(path))
  }

  /** The moment store as a [[graft.util.ShardedStore]] — continuous
    * dimensionality-reduction maintenance, batch or streamed: the build
    * and every extend scan their tranche only (the indexed corpus is
    * never re-read) and append ONE moment row. A re-delivered ledgered
    * shard is a no-op instead of double-counted moments silently
    * rotating every axis. Moments are additive, so refitting from the
    * store solves the same eigenproblem as a one-shot fit over
    * everything folded in ([[incrementalCheck]]).
    */
  def momentStore(path: String, vecCol: String = "embedding"): ShardedStore =
    ShardedStore.additive(path, "moments")(ShardedStore.Pin.none) { (emb, tag, _) =>
      writeMomentShard(emb, path, tag, vecCol)
    }

  /** Combined store moments, shard rows summed in shard_id order —
    * deterministic for a given shard SET, independent of append order
    * or read partitioning. Returns (nShards, n, d, acc).
    */
  private def loadMoments(spark: SparkSession, path: String,
                          asOf: Option[Int] = None): (Int, Long, Int, Array[Double]) = {
    val rows = graft.util.Manifest.read(spark, path, "moments", asOf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getInt(2),
        r.getSeq[Double](3).toArray))
      .sortBy(_._1)
    require(rows.nonEmpty, "empty moment store")
    val d = rows.head._3
    require(rows.forall(_._3 == d), "ragged embedding width across shards")
    val acc = new Array[Double](d + d * d)
    rows.foreach { case (_, _, _, a) =>
      var i = 0
      while (i < acc.length) { acc(i) += a(i); i += 1 }
    }
    (rows.length, rows.map(_._2).sum, d, acc)
  }

  /** Fit the PCA model from the stored moments alone — the refit a
    * serving pipeline runs after each append: a d×d driver-side
    * eigendecomposition, zero jobs over the corpus.
    */
  def fitFromStore(spark: SparkSession, path: String, k: Int,
                   asOf: Option[Int] = None): PcaModel = {
    val (_, n, d, acc) = loadMoments(spark, path, asOf)
    val (_, mean, cov) = momentsToCov(n, d, acc)
    eigenModel(mean, cov, k)
  }

  /** Driver-visible contract of the incremental lifecycle, ONE row:
    *
    *  - `moments_match`: the store's combined (n, Σv, Σv⊗v) equal a
    *    fresh full-corpus moment pass — n exactly, sums to 1e-9
    *    relative (shard-wise and partition-wise float addition may
    *    associate differently; the bound is ~1e3 ULPs, while a
    *    double-counted or dropped shard is off by whole rows);
    *  - `eigen_ok`: every axis of the store-fitted model satisfies
    *    `C·w = λw` to 1e-6 against the covariance REBUILT from the
    *    full corpus — the store-fit solves the corpus's eigenproblem,
    *    not some drifted one;
    *  - `orthonormal_ok`: max |WᵀW − I| ≤ 1e-8;
    *  - `shards_ok`: the store holds exactly `expectShards` moment
    *    rows — the re-delivered shard appended NOTHING (ledger
    *    no-op), nothing was lost.
    */
  def incrementalCheck(emb: DataFrame, path: String, k: Int,
                       expectShards: Int,
                       vecCol: String = "embedding"): DataFrame = {
    val spark = emb.sparkSession
    val (nShards, n, d, acc) = loadMoments(spark, path)
    val (fn, fd, facc) = rawMoments(emb, vecCol)
    def rel(a: Double, b: Double) =
      math.abs(a - b) <= 1e-9 * math.max(1d, math.max(math.abs(a), math.abs(b)))
    val momentsMatch = n == fn && d == fd && acc.indices.forall(i => rel(acc(i), facc(i)))
    // refit from the moments already in hand — same derivation as
    // fitFromStore (shared eigenModel), one store read total
    val model = { val (_, mean, cov) = momentsToCov(n, d, acc)
                  eigenModel(mean, cov, k) }
    val (_, _, cov) = momentsToCov(fn, fd, facc)
    val eigenOk = model.components.zip(model.eigenvalues).forall { case (w, l) =>
      (0 until d).map { i =>
        math.abs((0 until d).map(j => cov(i)(j) * w(j)).sum - l * w(i))
      }.max <= 1e-6
    }
    val orthoOk = {
      var worst = 0d
      for (a <- model.components.indices; b <- model.components.indices) {
        val dot = (0 until d).map(i => model.components(a)(i) * model.components(b)(i)).sum
        worst = math.max(worst, math.abs(dot - (if (a == b) 1d else 0d)))
      }
      worst <= 1e-8
    }
    spark.createDataFrame(
      java.util.List.of(Row(momentsMatch, eigenOk, orthoOk, nShards == expectShards)),
      StructType(Seq("moments_match", "eigen_ok", "orthonormal_ok", "shards_ok")
        .map(StructField(_, BooleanType, nullable = false))))
  }
}
