package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.util.ShardedStore

/** Product-quantization (PQ) compressed similarity search — the
  * memory/bandwidth scale path for ANN: vectors quantize to `m`
  * one-byte codes (64×float32 → 8 bytes at the defaults, 32×
  * compression), and query scoring reads codes, not floats, via
  * asymmetric distance computation (ADC).
  *
  * Spark-first shape:
  *  - Codebooks are deterministic: a fixed sample (first `k` vectors'
  *    subvectors per subspace, no RNG), optionally polished by
  *    [[refineBooks]] Lloyd rounds whose means are rounded to 6
  *    decimals — immune to float-sum association order, so results
  *    stay partitioning-independent. Collected once on the driver
  *    (m × k × dim/m doubles — bytes), carried inside the kernels.
  *  - Encoding is map-only: per subspace, argmin over k codegen'd dot
  *    products on the L2-normalized subvector.
  *  - Search broadcasts the queries WITH their per-subspace distance
  *    tables precomputed in the broadcast-side projection; each
  *    (query, candidate) pair then costs m array lookups + m adds —
  *    never a float-vector read. Top `oversample × k` ADC candidates
  *    per query are reranked with exact cosine, so emitted cosines are
  *    exact and only recall is approximate (spec- and gate-measured).
  *
  * Vectors are L2-normalized before quantization: squared L2 on unit
  * vectors is 2 − 2·cos, so ADC ranking is monotone in cosine and the
  * PQ candidates chase the same objective the exact operators use.
  */
object Pq {

  /** Deterministic codebooks: subspace s gets the s-th subvectors of
    * the `k` lowest-vec_id embeddings ([[Similarity.lowestByVecId]] —
    * bounded scan, never a full-table TakeOrdered), L2-normalized.
    * Returns [subspace][centroid][component].
    */
  def codebooks(embeddings: DataFrame, m: Int, k: Int, dim: Int): Array[Array[Array[Double]]] = {
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    val sample = Similarity.lowestByVecId(
        embeddings.select(col("vec_id"), col("embedding")), k)
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
      .map { v =>
        // zero-norm fallback mirrors PqKernel.rowNorm: a zero vector in
        // the sample must not seed NaN centroids (they'd silently poison
        // every ADC distance against that centroid)
        val n = math.sqrt(v.map(x => x * x).sum)
        val nn = if (n == 0.0) 1.0 else n
        v.map(_ / nn)
      }
    Array.tabulate(m)(s => sample.map(_.slice(s * sub, (s + 1) * sub)))
  }

  private def toSeq3(books: Array[Array[Array[Double]]]): Seq[Seq[Seq[Double]]] =
    books.map(_.map(_.toSeq).toSeq).toSeq

  /** Lloyd (k-means) refinement of PQ codebooks: `iters` rounds of
    * assign (one [[graft.functions.PqEncodeCodes]] pass — all m
    * subspaces at once) → update (one grouped mean over exploded
    * normalized components, m·k·dim/m rows collected — bytes).
    * Centroid means accumulate in DECIMAL(38,20) (exact addition —
    * bit-identical under any partitioning/merge order; float avg +
    * rounding only shrinks the boundary-flip window) and round to 6
    * decimals; empty cells keep their previous centroid. Improves
    * quantization error over the fixed-sample books at the cost of
    * `iters` extra jobs at build time.
    */
  def refineBooks(embeddings: DataFrame, books: Array[Array[Array[Double]]],
                  iters: Int): Array[Array[Array[Double]]] =
    refineOn(embeddings, "embedding", books, iters, normalize = true)

  /** The refinement core shared by the flat layout (normalized raw
    * vectors) and the residual layout (pre-centered vectors,
    * `normalize = false`).
    */
  private def refineOn(vecs: DataFrame, vecCol: String,
                       books: Array[Array[Array[Double]]],
                       iters: Int, normalize: Boolean): Array[Array[Array[Double]]] = {
    val sub = books(0)(0).length
    var b = books
    for (_ <- 1 to iters) {
      // same zero-norm fallback as the kernels: v/0 would NaN the means
      val nrmCol =
        if (normalize) {
          val n = VectorFunctions.norm(col(vecCol))
          when(n === 0.0, lit(1.0)).otherwise(n)
        } else lit(1.0)
      val coded = vecs.select(col(vecCol).as("vec"), nrmCol.as("nrm"),
        VectorFunctions.pqEncode(col(vecCol), toSeq3(b), normalize).as("codes"))
      val s = (col("pos") / sub).cast("int")
      val means = coded
        .select(posexplode(col("vec")).as(Seq("pos", "v")),
          col("nrm"), col("codes"))
        .select(s.as("s"), pmod(col("pos"), lit(sub)).as("i"),
          (col("v") / col("nrm")).as("nv"),
          element_at(col("codes"), s + 1).as("c"))
        .groupBy("s", "c", "i")
        .agg(round(avg(col("nv").cast("decimal(38,20)")).cast("double"), 6)
          .as("mean"))
        .collect()
      val next = b.map(_.map(_.clone()))
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1))(r.getInt(2)) = r.getDouble(3)
      }
      b = next
    }
    b
  }

  /** Sampled-then-refined codebooks in one call — the build every
    * entry point shares; exposed so gate harnesses can train once per
    * corpus and pass the result back through `booksOpt`.
    */
  def trainedBooks(embeddings: DataFrame, m: Int = 8, numCentroids: Int = 64,
                   dim: Int = 64, kmeansIters: Int = 0): Array[Array[Array[Double]]] = {
    val sampled = codebooks(embeddings, m, numCentroids, dim)
    if (kmeansIters > 0) refineBooks(embeddings, sampled, kmeansIters) else sampled
  }

  /** Map-only PQ encoding: `(vec_id, codes array<int>)`. Code s is the
    * argmin-L2 centroid of the normalized s-th subvector. One
    * [[graft.functions.PqEncodeCodes]] kernel call sweeps all m × k
    * centroids per row — the expression-tree formulation (least() over
    * m·k structs) spent seconds in codegen compilation and shipped the
    * codebook literals in every task binary.
    */
  def encode(embeddings: DataFrame, books: Array[Array[Array[Double]]]): DataFrame =
    embeddings.select(col("vec_id"),
      VectorFunctions.pqEncode(col("embedding"), toSeq3(books)).as("codes"))

  /** ADC distance of the broadcast-side `tables` matrix against a code
    * row: m array lookups + m adds per (query, candidate) pair.
    */
  private def adcDistance(m: Int): Column =
    (0 until m).map(s =>
      element_at(element_at(col("tables"), s + 1),
        element_at(col("codes"), s + 1) + 1))
      .reduce(_ + _)

  /** Keep the `limit` best ADC candidates per query, then rerank them
    * with exact cosine against the float vectors and emit the final
    * top-k `(query_id, neighbor_id, cos, rank)`. Shared by the flat
    * [[topK]] and the IVF-sharded [[ivfPqTopK]] — the float table is
    * only ever touched for the ADC survivors.
    */
  private def rerankTopK(scored: DataFrame, embeddings: DataFrame,
                         k: Int, limit: Int): DataFrame = {
    val wAdc = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    val cand = scored.withColumn("r", row_number().over(wAdc))
      .filter(col("r") <= limit)
      .drop("r", "adc")
    val vecs = embeddings.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("c_emb"), VectorFunctions.norm(col("embedding")).as("c_nrm"))
    val exact = cand.join(vecs, "neighbor_id")
      .withColumn("cos", round(
        VectorFunctions.dot(col("q_emb"), col("c_emb")) / (col("q_nrm") * col("c_nrm")), 6))
    val wCos = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    exact.withColumn("rank", row_number().over(wCos).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** PQ-ADC approximate top-k with exact-cosine rerank. Candidates
    * come from the code table only (the float vectors are touched for
    * the `oversample × k` survivors per query); emitted cosines and
    * their ordering are exact.
    *
    * This is the FLAT layout — every query ADC-scans all N codes. It is
    * the right tool up to the scale where even 8-byte-per-vector scans
    * hurt; past that, [[ivfPqTopK]] bounds each query to its probed
    * cells.
    */
  def topK(embeddings: DataFrame, queries: DataFrame, k: Int,
           m: Int = 8, numCentroids: Int = 64, dim: Int = 64,
           oversample: Int = 12, kmeansIters: Int = 0): DataFrame = {
    val books = trainedBooks(embeddings, m, numCentroids, dim, kmeansIters)
    val codes = encode(embeddings, books)

    // broadcast side: per query, the full ADC distance-table matrix
    // (m × k squared L2 distances from the normalized query subvectors
    // to every centroid) — one kernel call per query row
    val q = queries.select(
      col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      VectorFunctions.norm(col("embedding")).as("q_nrm"),
      VectorFunctions.pqDistTables(col("embedding"), toSeq3(books)).as("tables"))

    val scored = codes.join(broadcast(q), col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), adcDistance(m).as("adc"))
    rerankTopK(scored, embeddings, k, k * oversample)
  }

  /** IVF-PQ: the production ANN index shape — IVF coarse cells bound
    * WHICH codes each query reads, PQ codes bound what reading one
    * costs. Every vector is assigned to its nearest coarse cell
    * ([[Similarity.cellOf]]) and PQ-encoded; a query ADC-scans only its
    * `nprobe` closest cells' codes (candidate pairs are generated by a
    * cell EQUI-join, never a full scan) and the survivors rerank with
    * exact cosine, so emitted cosines are exact and only recall is
    * approximate — the nprobe/nlist × oversample trade-off.
    *
    * At 100 TB: the code table is the stored index — one map-only
    * assignment+encode pass, laid out partitioned by cell (8–16 bytes
    * per vector instead of 256+ for floats), and per-query work is
    * O(N · nprobe/nlist) ADC lookups + O(oversample · k) float reads.
    *
    * Codes quantize the full normalized vector, not the cell residual
    * (Faiss `by_residual=false`): the ADC distance tables then depend
    * only on the query — computed once and reused across its probed
    * cells — and codebooks stay whole-corpus deterministic. Residual
    * coding would buy finer quantization per cell at the cost of
    * per-(query, cell) tables; recall lost to that choice is recovered
    * by the exact rerank at the same oversample.
    */
  def ivfPqTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
                nlist: Int = 16, nprobe: Int = 4,
                m: Int = 8, numCentroids: Int = 64, dim: Int = 64,
                oversample: Int = 12, kmeansIters: Int = 0,
                coarseIters: Int = 0,
                centsOpt: Option[Similarity.Cents] = None,
                booksOpt: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val cents = centsOpt.getOrElse(
      Similarity.coarseCentroids(embeddings, nlist, coarseIters))
    val books = booksOpt.getOrElse(trainedBooks(embeddings, m, numCentroids, dim, kmeansIters))
    // the stored index: (cell, vec_id, codes), partitioned by cell —
    // explicit count, AQE would coalesce a column-only repartition of a
    // small build side even though the probe join fans out. Width is
    // the r16 scale-adaptive rule (see [[Width]]): probe fan-out is
    // queries x occupancy — linear in rows — and a small corpus no
    // longer pays full-box task overhead per stage
    val parts = Width.partsFor(embeddings)
    val codes = Similarity.cellAssign(embeddings, cents, "cell")
      .select(col("vec_id"), col("cell"),
        VectorFunctions.pqEncode(col("embedding"), toSeq3(books)).as("codes"))
      .repartition(parts, col("cell"))
    // per-query ADC tables computed ONCE (before the probe explode),
    // then carried on each of the query's nprobe probe rows
    val q = Similarity.withProbeCells(
      queries.select(col("vec_id").as("query_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("q_nrm"),
        VectorFunctions.pqDistTables(col("embedding"), toSeq3(books)).as("tables")),
      cents, nprobe)
      .withColumnRenamed("embedding", "q_emb")
    // the probe: a cell equi-join — a candidate pair materializes only
    // when the query actually probes the candidate's cell
    val scored = codes.join(broadcast(q),
        col("cell") === col("probe_cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), adcDistance(m).as("adc"))
    rerankTopK(scored, embeddings, k, k * oversample)
  }

  /** Driver-visible contract check for [[ivfPqTopK]] at a genuinely
    * approximate probe budget: recall@k at least `minRecall` against
    * the exact top-k, and every emitted cosine equal to the exact value
    * (true by rerank construction). One row:
    * `(recall_ok, cosines_exact)`.
    *
    * The exact reference is [[Similarity.ivfTopK]] probing ALL `nlist`
    * cells — provably brute force (every candidate scored with exact
    * cosine, same rounding and tiebreaks), but routed through the cell
    * equi-join, so the whole check builds without a single nested-loop
    * join (spec-verified equal to [[Similarity.bruteForceTopK]]).
    */
  def ivfPqSelfCheck(embeddings: DataFrame, queries: DataFrame, k: Int,
                     nlist: Int = 16, nprobe: Int = 4,
                     kmeansIters: Int = 2, coarseIters: Int = 0,
                     minRecall: Double = 0.5,
                     centsOpt: Option[Similarity.Cents] = None,
                     booksOpt: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val approx = ivfPqTopK(embeddings, queries, k, nlist, nprobe,
      kmeansIters = kmeansIters, coarseIters = coarseIters,
      centsOpt = centsOpt, booksOpt = booksOpt)
    Similarity.gradeTopK(approx,
      Similarity.ivfTopK(embeddings, queries, k, nlist, nprobe = nlist), minRecall)
  }

  // ── residual IVF-PQ ───────────────────────────────────────────────
  //
  // The Faiss `by_residual=true` composition: PQ codes quantize the
  // residual `u − c(cell)` of each unit vector from its cell's unit
  // centroid instead of the vector itself. Residual magnitudes are a
  // fraction of vector magnitudes on clustered corpora, so a fixed
  // code budget spends its resolution on the informative part — the
  // same failure mode the trained coarse quantizer fixes, one level
  // down. The price is per-(query, probed-cell) ADC tables (the query
  // residual differs per cell), paid on the broadcast side: nprobe
  // kernel calls per query instead of one, never a per-candidate cost.

  /** Unit-centroid directions as a literal lookup array (index =
    * cell id + 1 for `element_at`; cells are id-ordered).
    */
  private def centDirsLit(cents: Similarity.Cents): Column =
    typedLit(cents.sortBy(_._1).map { case (_, v, n) =>
      val nn = if (n == 0.0) 1.0 else n
      v.map(_ / nn).toSeq
    }.toSeq)

  /** `(vec_id, cell, resid)`: each unit vector's residual from its
    * cell's unit centroid — one map-only pass (nlist dots for the
    * assignment + one zip_with).
    */
  private def residuals(embeddings: DataFrame,
                        cents: Similarity.Cents): DataFrame = {
    val nrm = VectorFunctions.norm(col("embedding"))
    val safe = when(nrm === 0.0, lit(1.0)).otherwise(nrm)
    Similarity.cellAssign(embeddings, cents, "cell")
      .select(col("vec_id"), col("cell"),
        zip_with(col("embedding"),
          element_at(centDirsLit(cents), col("cell") + 1),
          (a, b) => a / safe - b).as("resid"))
  }

  /** Residual-space codebooks: the deterministic first-`k` sample (of
    * residuals, not raw vectors), optionally Lloyd-refined in residual
    * space (`normalize = false` — a residual must not be re-scaled).
    */
  def residualBooks(embeddings: DataFrame, cents: Similarity.Cents,
                    m: Int = 8, numCentroids: Int = 64, dim: Int = 64,
                    kmeansIters: Int = 0): Array[Array[Array[Double]]] = {
    require(dim % m == 0, "m must divide dim")
    val sub = dim / m
    val res = residuals(embeddings, cents)
    val sample = Similarity.lowestByVecId(
        res.select(col("vec_id"), col("resid")), numCentroids)
      .map(_.getSeq[Double](1).toArray)
    val sampled = Array.tabulate(m)(s => sample.map(_.slice(s * sub, (s + 1) * sub)))
    if (kmeansIters > 0) refineOn(res, "resid", sampled, kmeansIters, normalize = false)
    else sampled
  }

  /** [[ivfPqTopK]] with residual coding. Same probe shape — the code
    * scan is still a cell equi-join pruned to probed cells — but the
    * ADC tables move AFTER the probe explode (per (query, cell), the
    * inherent residual-PQ cost), and both encode and table kernels run
    * un-normalized on pre-centered inputs. Exact-cosine rerank as
    * always, so only recall is approximate.
    */
  def ivfPqTopKResidual(embeddings: DataFrame, queries: DataFrame, k: Int,
                        nlist: Int = 16, nprobe: Int = 4,
                        m: Int = 8, numCentroids: Int = 64, dim: Int = 64,
                        oversample: Int = 12, kmeansIters: Int = 0,
                        coarseIters: Int = 0,
                        centsOpt: Option[Similarity.Cents] = None,
                        booksOpt: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    val cents = centsOpt.getOrElse(
      Similarity.coarseCentroids(embeddings, nlist, coarseIters))
    val books = booksOpt.getOrElse(
      residualBooks(embeddings, cents, m, numCentroids, dim, kmeansIters))
    val parts = Width.partsFor(embeddings) // r16 scale-adaptive (see above)
    val codes = residuals(embeddings, cents)
      .select(col("vec_id"), col("cell"),
        VectorFunctions.pqEncode(col("resid"), toSeq3(books), normalize = false)
          .as("codes"))
      .repartition(parts, col("cell"))
    val q0 = Similarity.withProbeCells(
      queries.select(col("vec_id").as("query_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("q_nrm")),
      cents, nprobe)
    val qSafe = when(col("q_nrm") === 0.0, lit(1.0)).otherwise(col("q_nrm"))
    val q = q0.withColumn("tables",
        VectorFunctions.pqDistTables(
          zip_with(col("embedding"),
            element_at(centDirsLit(cents), col("probe_cell") + 1),
            (a, b) => a / qSafe - b),
          toSeq3(books), normalize = false))
      .withColumnRenamed("embedding", "q_emb")
    val scored = codes.join(broadcast(q),
        col("cell") === col("probe_cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), adcDistance(m).as("adc"))
    rerankTopK(scored, embeddings, k, k * oversample)
  }

  /** [[ivfPqSelfCheck]] for the residual layout — same exact reference
    * (all-cells IVF == brute force), same one-pass left-join
    * aggregation, one row `(recall_ok, cosines_exact)`.
    */
  def ivfPqResidualSelfCheck(embeddings: DataFrame, queries: DataFrame, k: Int,
                             nlist: Int = 16, nprobe: Int = 4,
                             kmeansIters: Int = 2, coarseIters: Int = 0,
                             minRecall: Double = 0.5,
                             oversample: Int = 12,
                             centsOpt: Option[Similarity.Cents] = None,
                             booksOpt: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val approx = ivfPqTopKResidual(embeddings, queries, k, nlist, nprobe,
      oversample = oversample,
      kmeansIters = kmeansIters, coarseIters = coarseIters,
      centsOpt = centsOpt, booksOpt = booksOpt)
    Similarity.gradeTopK(approx,
      Similarity.ivfTopK(embeddings, queries, k, nlist, nprobe = nlist), minRecall)
  }

  // ── persisted ANN index ───────────────────────────────────────────
  //
  // [[ivfPqTopK]] recomputes centroids, codebooks, and the code table
  // on every call — right for a one-shot query, wrong for a serving
  // loop. At 100 TB the code table IS the index: build it once, lay it
  // out partitioned by cell, and let every query read only its probed
  // cells' files. Mirrors the dedup side's build-once/query-many shape
  // ([[Dedup.buildNearDupIndex]] / [[Dedup.incrementalPairs]]).

  /** On-disk layout of an ANN index under `path`:
    *   params/ one row (nlist, m, num_centroids, dim, kmeans_iters,
    *           coarse_iters) — the index is self-describing; queries
    *           read no config
    *   cents/  (cid, vec)      coarse IVF centroids
    *   books/  (s, c, vec)     PQ codebook centroid per (subspace, code)
    *   codes/  (vec_id, codes) parquet PARTITIONED BY cell — the bulk
    *           artifact, 8–16 bytes/vector, pruned to probed cells
    */
  private def paramsPath(p: String) = s"$p/params"
  private def centsPath(p: String) = s"$p/cents"
  private def booksPath(p: String) = s"$p/books"
  private def codesPath(p: String) = s"$p/codes"

  /** The `params/` row: the index is self-describing, so queries and
    * the self-check read their config from it, never from the caller.
    */
  private final case class AnnParams(nlist: Int, m: Int, numCentroids: Int,
                                     dim: Int, kmeansIters: Int,
                                     coarseIters: Int) {
    def write(spark: SparkSession, dir: String): Unit = {
      import spark.implicits._
      Seq((nlist, m, numCentroids, dim, kmeansIters, coarseIters))
        .toDF("nlist", "m", "num_centroids", "dim", "kmeans_iters", "coarse_iters")
        .write.mode(SaveMode.Append).parquet(dir)
    }
  }

  private def loadParams(spark: SparkSession, path: String,
                         asOf: Option[Int] = None): AnnParams = {
    val r = graft.util.Manifest.read(spark, path, "params", asOf).head()
    AnnParams(r.getInt(0), r.getInt(1), r.getInt(2), r.getInt(3),
      r.getInt(4), r.getInt(5))
  }

  private def loadBooks(spark: SparkSession, path: String, p: AnnParams,
                        asOf: Option[Int] = None): Array[Array[Array[Double]]] = {
    val books = Array.ofDim[Array[Double]](p.m, p.numCentroids)
    graft.util.Manifest.read(spark, path, "books", asOf).collect().foreach { r =>
      books(r.getInt(0))(r.getInt(1)) = r.getSeq[Double](2).toArray
    }
    books
  }

  /** Assign + encode + append the cell-partitioned code table. The
    * explicit repartition by cell clusters each cell's rows into one
    * task before the dynamic write — without it every input task emits
    * one file per cell it touches (tasks × nlist small files in the
    * bulk artifact, exactly the fragmentation [[graft.util.Manifest
    * .compactSub]] exists to undo); with it a shard lands ~one file per
    * cell.
    */
  private def writeCodes(embeddings: DataFrame, cents: Similarity.Cents,
                         books: Array[Array[Array[Double]]],
                         path: String): Unit =
    Similarity.cellAssign(embeddings, cents, "cell")
      .select(col("vec_id"), col("cell"),
        VectorFunctions.pqEncode(col("embedding"), toSeq3(books)).as("codes"))
      .repartition(cents.length, col("cell"))
      .write.partitionBy("cell").mode(SaveMode.Append)
      .parquet(codesPath(path))

  /** The persisted IVF-PQ index as an additive
    * [[graft.util.ShardedStore]]. The build's pin is the quantizer pair:
    * the coarse centroids and the PQ codebooks, trained on the build
    * tranche (or adopted from `centsOpt`/`booksOpt`, the caller's
    * memoized training of the same deterministic function) and
    * committed with the params row. Every shard — the build's and each
    * extend's — is one map-only assign+encode pass over its own
    * vectors against the frozen quantizers, appended cell-partitioned
    * (the identical plan to [[ivfPqTopK]]'s in-flight index), so a
    * query's file listing is bounded by its probe budget. Centroids and
    * codebooks round-trip bit-exactly, so stored-index search equals
    * recomputation (gate-verified).
    *
    * Frozen quantizers are standard IVF append semantics: the extended
    * index is bit-identical to a from-scratch build over old ∪ new
    * whose deterministic sample (lowest vec_ids) lies within the build
    * tranche and whose books are unrefined ([[annIndexSelfCheck]] on
    * exactly that split; a chronological-by-id replay places the
    * sample in batch 0). With Lloyd-refined books or Lloyd-trained
    * coarse centroids the equivalence intentionally does not hold
    * (both trainings are functions of the build tranche); recall
    * drifts as appended data shifts the distribution, and the remedy
    * is [[rebalanceAnnIndex]]. A ledgered shard id makes a retried
    * append a no-op instead of duplicate code rows that every ADC scan
    * would score twice. Requires shard vec_ids disjoint from the
    * indexed corpus (enforce upstream). Compaction re-clusters
    * `codes/` by cell and preserves answers.
    */
  def annStore(path: String, nlist: Int = 16, m: Int = 8,
               numCentroids: Int = 64, dim: Int = 64,
               kmeansIters: Int = 0, coarseIters: Int = 0,
               centsOpt: Option[Similarity.Cents] = None,
               booksOpt: Option[Array[Array[Array[Double]]]] = None): ShardedStore = {
    val quantizers = ShardedStore.Pin[(Similarity.Cents, Array[Array[Array[Double]]])](
      fit = emb => (
        centsOpt.getOrElse(Similarity.coarseCentroids(emb, nlist, coarseIters)),
        booksOpt.getOrElse(trainedBooks(emb, m, numCentroids, dim, kmeansIters))),
      save = { case (spark, (cents, books)) =>
        import spark.implicits._
        AnnParams(nlist, m, numCentroids, dim, kmeansIters, coarseIters)
          .write(spark, paramsPath(path))
        Similarity.writeCents(spark, cents, centsPath(path))
        books.zipWithIndex.flatMap { case (bs, s) =>
          bs.zipWithIndex.map { case (cv, c) => (s, c, cv.toSeq) }
        }.toSeq.toDF("s", "c", "vec")
          .write.mode(SaveMode.Append).parquet(booksPath(path))
      },
      load = spark => (Similarity.readCents(spark, path),
        loadBooks(spark, path, loadParams(spark, path))))
    ShardedStore.additive(path, "codes")(quantizers) {
      case (emb, _, (cents, books)) => writeCodes(emb, cents, books, path)
    }
  }

  /** REBALANCE the stored index — the ANN store's OPTIMIZE: retrain
    * the coarse quantizer on the CURRENT corpus and rewrite the code
    * table partitioned by the new cells. [[annStore]]'s extend keeps
    * centroids frozen (the standard IVF append), which is exact but
    * drifts: shards far from the build-time distribution crowd into a
    * few cells, so a fixed `nprobe` budget scans ever-bigger
    * partitions — the probe-pruning the layout exists for erodes one
    * append at a time. Rebalancing restores it without touching what
    * makes answers exact: PQ codebooks are KEPT (codes quantize the
    * vectors, not the cells — the rewritten code values are
    * bit-identical; only the partition key changes), and the rerank
    * stays exact cosine.
    *
    * Committed as ONE [[graft.util.Manifest.rewriteFiles]] generation
    * (drop old params/cents/codes, stage new): racing searches keep
    * resolving the previous generation, `asOf` searches see that
    * generation's OWN quantizer (cents/params/books reads are
    * manifest-pinned), and a crash leaves only unreferenced staging.
    * Params are rewritten with the rebalance's `coarseIters` so the
    * index stays self-describing
    * ([[annIndexSelfCheck]] == recompute-on-current-corpus holds again
    * after the rebalance, exactly as after a fresh build).
    */
  def rebalanceAnnIndex(embeddings: DataFrame, path: String,
                        coarseIters: Int = 1,
                        centsOpt: Option[Similarity.Cents] = None): Unit = {
    val spark = embeddings.sparkSession
    val snap = graft.util.Manifest.snapshot(spark, path)
    val p = loadParams(spark, path)
    val books = loadBooks(spark, path, p)
    // loud refusal (the store's guard idiom): codes/ is rewritten
    // solely from the caller's frame, so that frame must be EXACTLY
    // the indexed build+extend union — an id-set anti-check both ways,
    // or indexed vectors silently vanish from (or strangers appear in)
    // the store with no reconciliation
    val oldIds = graft.util.Manifest
      .read(spark, path, "codes", Some(snap.gen)).select("vec_id")
    val newIds = embeddings.select("vec_id")
    val vanished = oldIds.exceptAll(newIds).count()
    val appeared = newIds.exceptAll(oldIds).count()
    require(vanished == 0 && appeared == 0,
      s"rebalanceAnnIndex: embeddings frame does not match the indexed " +
        s"corpus ($vanished indexed vec_ids missing from the frame, " +
        s"$appeared frame vec_ids not in the index) — pass exactly the " +
        "build+extend union; use annStore(…).extend to add vectors")
    val cents = centsOpt.getOrElse(
      Similarity.coarseCentroids(embeddings, p.nlist, coarseIters))
    val old = snap.files.filter(f =>
      f.startsWith("codes/") || f.startsWith("cents/") ||
        f.startsWith("params/")).toSet
    graft.util.Manifest.rewriteFiles(spark, path, drop = old,
        baseGen = Some(snap.gen)) { stage =>
      p.copy(coarseIters = coarseIters).write(spark, paramsPath(stage))
      Similarity.writeCents(spark, cents, centsPath(stage))
      writeCodes(embeddings, cents, books, stage)
    }
    ()
  }

  /** Search the stored index: the serving-loop path. Driver-side work
    * is three tiny reads (params, nlist centroids, m·k codebook rows)
    * plus one job over the SMALL query side to collect the distinct
    * probed cells; the code scan is then pruned to those partitions
    * with an explicit `cell IN (...)` — file-level pruning guaranteed
    * by layout, not left to dynamic-partition-pruning heuristics. No
    * centroid, codebook, or code is ever recomputed.
    *
    * `embeddings` is touched only to rerank the ADC survivors with
    * exact cosine (O(oversample·k) keyed float reads per query) — the
    * float corpus stays in the lake; the index carries codes.
    */
  def annTopK(embeddings: DataFrame, queries: DataFrame, path: String, k: Int,
              nprobe: Int = 4, oversample: Int = 12,
              asOf: Option[Int] = None): DataFrame = {
    val spark = embeddings.sparkSession
    val p = loadParams(spark, path, asOf)
    require(nprobe >= 1 && nprobe <= p.nlist,
      s"nprobe must be in [1, ${p.nlist}], got $nprobe")
    val cents = Similarity.readCents(spark, path, asOf)
    val books = loadBooks(spark, path, p, asOf)
    val q = Similarity.withProbeCells(
      queries.select(col("vec_id").as("query_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("q_nrm"),
        VectorFunctions.pqDistTables(col("embedding"), toSeq3(books)).as("tables")),
      cents, nprobe)
      .withColumnRenamed("embedding", "q_emb")
    val probed = q.select("probe_cell").distinct().collect().map(_.getInt(0))
    // manifest-resolved file list pruned to the probed cells by PATH
    // (cell= partition dirs) — same file-level pruning as before, now
    // also generation-pinned: an extend committing mid-search cannot
    // splice its files into the scan
    val probedSet = probed.toSet
    val snap = graft.util.Manifest.snapshot(spark, path, asOf)
    val cellOf = "codes/cell=(\\d+)/".r
    val codeFiles = snap.files.filter { f =>
      f.startsWith("codes/") && cellOf.findFirstMatchIn(f)
        .exists(m => probedSet(m.group(1).toInt))
    }.map(f => s"$path/$f")
    val codes = (if (codeFiles.isEmpty)
      spark.read.option("basePath", codesPath(path)).parquet(codesPath(path))
        .filter(lit(false))
    else
      spark.read.option("basePath", codesPath(path)).parquet(codeFiles: _*))
      .filter(col("cell").isin(probed.toSeq: _*))
    val scored = codes.join(broadcast(q),
        col("cell") === col("probe_cell") && col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("q_emb"), col("q_nrm"),
        col("vec_id").as("neighbor_id"), adcDistance(p.m).as("adc"))
    rerankTopK(scored, embeddings, k, k * oversample)
  }

  /** Driver-visible contract for the persisted index: stored-index
    * search returns EXACTLY what [[ivfPqTopK]] recomputes with the
    * build parameters (read back from `params/` — the check is
    * self-describing). One row `(stored_equals_recompute)`; the
    * comparison is a full-outer join on the complete result tuple, so
    * the gate plans no nested-loop join.
    */
  def annIndexSelfCheck(embeddings: DataFrame, queries: DataFrame,
                        path: String, k: Int, nprobe: Int = 4,
                        centsOpt: Option[Similarity.Cents] = None,
                        booksOpt: Option[Array[Array[Array[Double]]]] = None): DataFrame = {
    val p = loadParams(embeddings.sparkSession, path)
    val stored = annTopK(embeddings, queries, path, k, nprobe)
    // centsOpt/booksOpt: gate harnesses pass per-JVM memoized trained
    // quantizers (training is a deterministic function of corpus +
    // params, so the check's verdict is byte-identical); without them
    // every invocation re-runs the Lloyd rounds inside the timed path
    val fresh = ivfPqTopK(embeddings, queries, k,
      nlist = p.nlist, nprobe = nprobe, m = p.m,
      numCentroids = p.numCentroids, dim = p.dim,
      kmeansIters = p.kmeansIters, coarseIters = p.coarseIters,
      centsOpt = centsOpt, booksOpt = booksOpt)
    val cmp = Seq("query_id", "neighbor_id", "cos", "rank")
    stored.withColumn("in_a", lit(1))
      .join(fresh.withColumn("in_b", lit(1)), cmp, "full_outer")
      .agg((count(when(col("in_a").isNull || col("in_b").isNull, 1)) === 0)
        .as("stored_equals_recompute"))
  }

  /** Driver-visible self-check: recall@k of [[topK]] against the exact
    * brute force, plus the invariant that every emitted cosine equals
    * the exact cosine (true by rerank construction). One row:
    * `(recall_at_least_80pct, cosines_exact)` — both true on this
    * corpus; recall itself is spec-measured.
    */
  def selfCheck(embeddings: DataFrame, queries: DataFrame, k: Int,
                kmeansIters: Int = 2): DataFrame = {
    Similarity.gradeTopK(Pq.topK(embeddings, queries, k, kmeansIters = kmeansIters),
        Similarity.bruteForceTopK(embeddings, queries, k), minRecall = 0.8)
      .withColumnRenamed("recall_ok", "recall_at_least_80pct")
  }
}
