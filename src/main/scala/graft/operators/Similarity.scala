package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions

/** Similarity search over an embedding column (`Array[Float]`):
  * brute-force cosine top-k as the exact baseline, plus a
  * random-hyperplane LSH bucketed variant as the scale path, and
  * embedding-cosine near-dup pairs.
  *
  * All vector math runs through the codegen'd [[graft.functions.DotProduct]]
  * kernel (double accumulation in index order — deterministic,
  * bit-stable across partitionings, bit-identical to the sequential
  * `list_sum(list_transform(...))` oracle formulation).
  *
  * Scale design:
  *  - Norms are computed ONCE per vector in a pre-join projection, so
  *    the O(N²)/O(candidates) stage pays exactly one dot per pair.
  *  - Brute-force top-k is O(Q×N) with the query side broadcast —
  *    one scan of N regardless of N's size.
  *  - The LSH variant buckets both sides on hyperplane sign bands so
  *    candidate generation is a bucket equi-join: an O(N) shuffle
  *    instead of an O(N²) compare, at tunable recall.
  */
object Similarity {

  /** Coarse-centroid triples: (cell id, components, L2 norm). */
  type Cents = Array[(Int, Array[Float], Double)]

  /** Persist frozen centroids as one `(cid, vec)` parquet table at
    * `dir` — the `cents/` sub of every store that pins a cell layout
    * (the ANN index, the IVF residual model). Float components
    * round-trip exactly; the norm is not stored ([[readCents]]
    * recomputes it).
    */
  def writeCents(spark: SparkSession, cents: Cents, dir: String): Unit = {
    import spark.implicits._
    cents.toSeq.map { case (cid, v, _) => (cid, v.toSeq) }
      .toDF("cid", "vec")
      .coalesce(1)
      .write.mode(SaveMode.Append).parquet(dir)
  }

  /** The `cents/` sub of the [[graft.util.Manifest]] store at `path`,
    * read back in [[coarseCentroids]] form — the norm is recomputed
    * with the identical expression, so cell assignment and probe
    * ranking are bit-equal to the frozen layout's. Manifest-resolved,
    * not a raw directory scan: a rewrite of `cents/` leaves the
    * superseded files on disk for the retention window, and `asOf`
    * must see that generation's own layout.
    */
  def readCents(spark: SparkSession, path: String,
                asOf: Option[Int] = None): Cents =
    graft.util.Manifest.read(spark, path, "cents", asOf).collect()
      .map(r => (r.getInt(0), r.getSeq[Float](1).toArray))
      .sortBy(_._1)
      .map { case (cid, v) =>
        (cid, v, math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
      }

  /** Cosine similarity of two numeric array columns (double result). */
  def cosine(a: Column, b: Column): Column = VectorFunctions.cosine(a, b)

  /** Spread the streamed side of a pair join. Embedding tables often
    * arrive as one file; without this the O(N²)/O(candidates) probe
    * stage runs as a single task. Explicit count — AQE would coalesce
    * a column-only repartition of a small input even though the join
    * fans out.
    *
    * Width (r16, guide §2.2/§2.5): `dense = true` — the LSH candidate
    * miners, whose downstream fan-out is QUADRATIC in bucket occupancy
    * — always take the full conf width (byte estimates cannot see that
    * compute). Everything else (probe/assignment/signature passes,
    * fan-out linear in rows × a bounded query set) takes the
    * scale-adaptive [[Width.partsFor]] width: measured r16, the warm
    * 2000-row ANN check gates spent >90% of their CPU on per-task
    * overhead at the old full width; at 100 TB the byte rule saturates
    * to the conf width immediately, so the cluster plan is unchanged.
    */
  private def spread(df: DataFrame, dense: Boolean = false): DataFrame = {
    val parts =
      if (dense) df.sparkSession.sessionState.conf.numShufflePartitions
      else Width.partsFor(df)
    df.repartition(parts, col("vec_id"))
  }

  /** Fuse a (band, bucket) pair into ONE long join key (r17, guide
    * §3.1): a two-column equi-join key forces the generic
    * UnsafeRow-keyed HashedRelation, while a single bigint key takes
    * Spark's LongHashedRelation fast path — and the candidate join is
    * the board's hottest loop (tens of millions of probed match rows
    * per miner call at sf0.1). Buckets are r-bit values, so when the
    * band index fits in the bits above them the fuse is the exact
    * bijection `band << r | bucket`; otherwise it degrades to
    * `xxhash64(band, bucket)`, which is still SOUND — equal pairs
    * always collide, a 2⁻⁶⁴ cross-pair collision only adds a candidate
    * that exact verification kills — so results are identical either
    * way. */
  private def fusedBandKey(band: Column, bucket: Column, r: Int,
                           bands: Int): Column = {
    val bandBits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(bands - 1, 1).toLong)
    if (r + bandBits <= 63) shiftleft(band.cast("long"), r).bitwiseOR(bucket)
    else xxhash64(band, bucket)
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * Queries (small) are broadcast; candidates stream through one scan.
    * Deterministic: rank on rounded cosine with vec_id tiebreak.
    */
  def bruteForceTopK(embeddings: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("embedding").as("q_emb"),
      VectorFunctions.norm(col("embedding")).as("q_nrm"))
    val cand = spread(embeddings).select(col("vec_id").as("neighbor_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("c_nrm"))
    val scored = cand.join(broadcast(q), col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        VectorFunctions.dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("c_nrm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** All embedding pairs with cosine ≥ threshold — embedding-space
    * near-dup detection. Exact (block-nested-loop over the id-ordered
    * pairs); for the at-scale path see [[lshPairs]].
    */
  def pairsAboveThreshold(embeddings: DataFrame, threshold: Double): DataFrame = {
    val a = spread(embeddings, dense = true).select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      VectorFunctions.norm(col("embedding")).as("nrm_a"))
    val b = embeddings.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      VectorFunctions.norm(col("embedding")).as("nrm_b"))
    a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(
        VectorFunctions.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Deterministic pseudo-random hyperplane matrix: weight(p, d) is
    * xxhash64(p, d) folded to [-1, 1]. No RNG state — the planes are a
    * pure function of (plane, dim), so signatures are reproducible
    * across runs and cluster layouts. Computed once on the driver and
    * shipped as array literals (numPlanes × dim doubles — bytes, not
    * a broadcast concern).
    */
  private[graft] def planeRow(p: Int, dim: Int): Array[Double] =
    Array.tabulate(dim) { d =>
      // seed 42 = the default functions.xxhash64 seed
      val h = XxHash64(Seq(Literal(p), Literal(d)), 42L).eval(null).asInstanceOf[Long]
      val m = ((h % 2000001L) + 2000001L) % 2000001L // pmod
      (m.toDouble - 1000000.0) / 1000000.0
    }

  /** Sign-bit signature of `numPlanes` deterministic hyperplanes; one
    * codegen'd dot per plane against a literal weight array. Capped at
    * 64 planes: the bits pack into one long, and Java's shift
    * semantics wrap the shift distance mod 64 — a plane index ≥ 64
    * would silently OR onto bit `p-64` instead of failing. The banded
    * operators no longer go through this packed form (see
    * [[bandBucketArray]]); it remains the single-word building block
    * and the reference the multi-word layout is spec-checked against.
    */
  def lshSignature(emb: Column, numPlanes: Int, dim: Int): Column = {
    require(numPlanes >= 1 && numPlanes <= 64,
      "numPlanes must be in [1, 64] (bits pack into one long)")
    val bits = (0 until numPlanes).map { p =>
      when(VectorFunctions.dot(emb, lit(planeRow(p, dim))) >= 0,
        shiftleft(lit(1L), p)).otherwise(lit(0L))
    }
    bits.reduce((a, b) => a.bitwiseOR(b))
  }

  /** MULTI-WORD signature: one long PER BAND, band `b`'s bucket being
    * the packed sign bits of planes `[b·r, (b+1)·r)` — bit `j` of word
    * `b` is plane `b·r + j`, exactly the slice
    * `(sig >> b·r) & (2^r − 1)` of the single-long [[lshSignature]]
    * whenever `bands·r ≤ 62` (spec-pinned bit equality). Because each
    * band owns a whole word there is NO total-signature budget: the
    * r13 dispatcher saturated at 62 packed bits, which capped `bands ≤
    * 62/r` and forced exact O(n²) mining precisely where n (and hence
    * r = log₂(n/occ)) grew — the one open scale-killer. With per-band
    * words, `bands` grows with the recall requirement
    * ([[scaledLshConfigWide]]) while r grows with n, and the only cost
    * is the honest one: `bands·r` codegen'd dots per row at signature
    * time. Same deterministic [[planeRow]] planes, so configurations
    * inside the old budget produce bit-identical candidates.
    */
  private[graft] def bandBucketArray(emb: Column, numPlanes: Int,
                                     bands: Int, dim: Int): Column = {
    require(bands >= 1 && numPlanes % bands == 0,
      "bands must divide numPlanes")
    val r = numPlanes / bands
    require(r >= 1 && r <= 62, s"bits per band must be in [1, 62], got $r")
    // ONE kernel expression carrying the plane matrix as a JVM array
    // (r17, [[graft.functions.BandBuckets]]) instead of `numPlanes`
    // literal-array dot expressions: same planes, same sequential
    // accumulation, bit-identical buckets (spec: kernel == expression
    // form) — but the plan stays O(1) nodes, so the driver's
    // analysis/optimization/codegen time no longer scales with the
    // plane count (the wide gates' 550-plane tree cost seconds of
    // driver wall per query).
    val planes = (0 until numPlanes).map(p => planeRow(p, dim).toSeq)
    org.apache.spark.sql.graftbridge.ColumnBridge.column(
      graft.functions.BandBuckets(
        org.apache.spark.sql.graftbridge.ColumnBridge.expression(emb),
        planes, r))
  }

  /** The `k` lowest-`vec_id` rows of `df` (which must carry `vec_id`),
    * collected in id order — the deterministic quantizer sample every
    * index build here uses. A bare `orderBy(vec_id).limit(k)` plans
    * TakeOrderedAndProject, which SCANS THE WHOLE TABLE to keep a
    * k-row heap — fine at gate scale, a full pass over 100 TB of
    * embeddings per index build at production scale. Instead the scan
    * is pre-bounded with `vec_id < 4k` — a filter that reaches the
    * parquet scan (row-group min/max pruning skips everything else) —
    * and only falls back to the unbounded TakeOrdered when ids are
    * sparse enough that the window holds fewer than `k` rows. Sample
    * identity is exact either way: if ≥ k ids sit below 4k, the k
    * lowest of the window ARE the k lowest of the table.
    */
  private[operators] def lowestByVecId(df: DataFrame, k: Int)
      : Array[org.apache.spark.sql.Row] = {
    val bounded = df.filter(col("vec_id") < k.toLong * 4)
      .orderBy("vec_id").limit(k).collect()
    if (bounded.length >= k) bounded
    else df.orderBy("vec_id").limit(k).collect()
  }

  /** Deterministic coarse centroids for the IVF cell layout: seeded
    * from the embeddings of the `nlist` lowest vec_ids (a fixed sample
    * — no RNG, bounded scan via [[lowestByVecId]]), optionally polished
    * by `iters` distributed Lloyd rounds ([[trainCentroids]]),
    * collected once on the driver (nlist × dim floats) and shipped as
    * literals. Shared by [[ivfTopK]] and the IVF-PQ composition
    * ([[Pq.ivfPqTopK]]).
    */
  /** `trainSample` > 0 Lloyd-trains on a deterministic residue sample
    * of about that many vectors instead of the full corpus — the Faiss
    * convention (≈ 256 training points per centroid suffice for a
    * stable layout; training on all of a 2e7-vector corpus pays
    * iters · n · nlist · d MACs for no better cells). Assignment of
    * the FULL corpus still happens wherever the layout is used; only
    * the iterative refinement samples. Deterministic (pmod on vec_id,
    * no RNG), so trained layouts stay reproducible; 0 (the default,
    * and every gate's configuration) trains on everything.
    */
  private[graft] def coarseCentroids(
      embeddings: DataFrame, nlist: Int,
      iters: Int = 0, trainSample: Long = 0): Cents = {
    val sampled = lowestByVecId(embeddings.select(col("vec_id"), col("embedding")), nlist)
      .map(_.getSeq[Float](1).toArray).zipWithIndex
      .map { case (v, i) =>
        (i, v, math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
      }
    if (iters <= 0) sampled
    else {
      val trainSet =
        if (trainSample <= 0) embeddings
        else {
          val n = embeddings.count()
          val every = math.max(1L, n / math.max(trainSample, 1L))
          if (every <= 1L) embeddings
          else embeddings.filter(pmod(col("vec_id"), lit(every)) === 0)
        }
      trainCentroids(trainSet, sampled, iters)
    }
  }

  /** Distributed spherical Lloyd (k-means) refinement of the coarse
    * centroids — the difference between an IVF layout that survives
    * clustered real-world embedding distributions and one that doesn't.
    * A first-N-by-id sample concentrates centroids wherever the lowest
    * ids happen to sit; on a clustered corpus that leaves most mass in
    * a few cells (measured: one cell per blob at 4× the mean
    * population), so the biggest cell becomes the probe-scan bottleneck
    * and fixed-nprobe recall is at the data's mercy. `iters` rounds of
    * assign → update → split fix both (gate-asserted: recall AND cell
    * balance on a deliberately clustered corpus).
    *
    * Each round is one job: assign every vector to its nearest cell
    * ([[cellOf]], nlist codegen'd dots per row, map-only), then the new
    * centroid of each cell is the component-wise mean of its members'
    * L2-NORMALIZED vectors (spherical k-means — the mean direction,
    * matching the cosine objective the assignment maximizes). The
    * grouped mean collects nlist × dim doubles (bytes) to the driver.
    * Determinism: the mean accumulates in DECIMAL(38,20) — decimal
    * addition is exact, hence commutative/associative, so the result
    * is bit-identical under ANY partitioning or merge order (float
    * `avg` depends on sum order; rounding shrinks but cannot eliminate
    * boundary flips, and a single flipped centroid component changes
    * cell assignments — which self-checks that re-train and compare
    * would see as spurious mismatches). The final value rounds to 6
    * decimals as before. Empty cells keep their previous centroid, and
    * the zero-norm guard mirrors the kernels' (a zero vector must not
    * NaN a centroid).
    */
  private[operators] def trainCentroids(
      embeddings: DataFrame,
      init: Cents,
      iters: Int): Cents = {
    val nlist = init.length
    var cents = init
    // explicit-width exchange before the Lloyd loop: an embedding
    // corpus is byte-LIGHT (35 MB at n = 5e5×16-dim) but each round is
    // compute-heavy (n × nlist × dim assignment MACs + the decimal
    // agg), so a parquet-byte-sized scan hands the whole round to 1-2
    // tasks — measured 822 s wall ≈ 884 CPU-s at nlist = 711 on a
    // 32-core box, the Dedup.widenToCores failure mode one family
    // over. Safe by the determinism argument above: decimal addition
    // is exact, so the means are bit-identical under ANY partitioning.
    val wide = embeddings.select(col("embedding")).repartition(
      embeddings.sparkSession.sessionState.conf.numShufflePartitions)
    for (_ <- 1 to iters) {
      val nrm = VectorFunctions.norm(col("embedding"))
      val safe = when(nrm === 0.0, lit(1.0)).otherwise(nrm)
      // one exploded agg: per-(cell, component) means + cell populations
      // (count carried on every component row; component 0's is read)
      val means = cellAssign(wide, cents, "cell")
        .select(safe.as("nrm"), col("cell"),
          posexplode(col("embedding")).as(Seq("i", "v")))
        .groupBy("cell", "i")
        .agg(round(avg((col("v") / col("nrm")).cast("decimal(38,20)"))
          .cast("double"), 6).as("mean"),
          count(lit(1)).as("n"))
        .collect()
      val counts = means.filter(_.getInt(1) == 0)
        .map(r => r.getInt(0) -> r.getLong(3)).toMap
      val next = cents.map { case (cid, v, _) => (cid, v.clone()) }.toMap
      means.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) = r.getDouble(2).toFloat
      }
      // starved-cell splitting (the Faiss empty-cluster policy, made
      // deterministic): a cell under a quarter of the mean population —
      // including an empty one — is wasted probe budget, and plain
      // Lloyd never rescues it when the init concentrates in one
      // region (the mean update only shuffles mass locally). Reseed
      // each starved cell as a PERTURBED CLONE of a distinct donor
      // (largest-population) cell's updated centroid: next round the
      // donor's members split roughly in half along the perturbation
      // hyperplane, and repeated rounds drive the layout toward
      // balance. The bumped component varies with the starved cell id
      // so repeated splits of one region decorrelate.
      val meanPop = counts.values.sum.toDouble / nlist
      val starved = cents.map(_._1)
        .filter(c => counts.getOrElse(c, 0L) < meanPop / 4).sorted
      val donors = counts.toSeq
        .filter { case (_, n) => n >= meanPop }
        .sortBy { case (c, n) => (-n, c) }.map(_._1)
      starved.zip(donors).foreach { case (cell, donor) =>
        val seeded = next(donor).clone()
        val j = cell % seeded.length
        seeded(j) = seeded(j) + 1e-3f
        Array.copy(seeded, 0, next(cell), 0, seeded.length)
      }
      cents = cents.map { case (cid, _, _) =>
        val v = next(cid)
        (cid, v, math.sqrt(v.map(x => x.toDouble * x.toDouble).sum))
      }
    }
    cents
  }

  /** Occupancy-scaled IVF geometry — the [[scaledLshConfig]] analog the
    * r13 VERDICT named as the missing config layer: a FIXED `nlist`
    * while the corpus grows makes every cell's population — and hence
    * every probe — linear in n, so the "inverted file" degenerates into
    * a constant-factor scan. Holding `nlist ≈ √n` keeps cell occupancy
    * at √n, so a query's candidate set is `nprobe·√n` — genuinely
    * sublinear — and the centroid table stays driver-light (√n × dim
    * floats; 10⁸ vectors → 10⁴ × 64 ≈ 2.5 MB). `nprobe` grows only
    * logarithmically with the cell count (a clustered corpus needs a
    * few more probes as cells split, not a constant fraction of them —
    * probing a fixed fraction would re-linearize the scan); the floor
    * of 8 keeps small-corpus geometries at the empirically-gated
    * configurations. Recall at this budget is an empirical contract
    * ([[ivfTrainedCheck]], [[Pca.pcaIvfCheck]]) measured at every
    * probed scale, like every ANN family here.
    */
  def scaledIvfConfig(n: Long): (Int, Int) = {
    require(n >= 0)
    val nlist = math.max(16, math.ceil(math.sqrt(math.max(n, 1).toDouble)).toInt)
    val nprobe = math.min(nlist,
      math.max(8, math.ceil(2 * math.log(nlist.toDouble)).toInt))
    (nlist, nprobe)
  }

  /** Lloyd rounds that scale WITH the cell count — the missing third
    * knob of the scaled geometry: the starved-cell splitting policy
    * grows a blob's populated cells at most ~2× per round (each split
    * halves one donor), so seeding `nlist` cells inside a handful of
    * clusters needs ~log₂(nlist/clusters) rounds before the layout is
    * balanced enough for fixed-nprobe recall. The fixed 3 rounds the
    * small-corpus gates pin are exactly this rule at their nlist ≤ 45;
    * at nlist = 711 (n = 5e5) three rounds leave the probe budget
    * reading giant unsplit cells — measured: 14 probed cells held 25 %
    * of the corpus.
    */
  def scaledIvfIters(nlist: Int): Int =
    math.max(3, math.ceil(math.log(nlist.toDouble) / math.log(2)).toInt - 2)

  /** MEASURED probe-recall calibration of `nprobe` — the collision-mass
    * philosophy ([[collisionMass]]) applied to the IVF probe budget.
    * The analytic rule `nprobe ≈ 2·ln(nlist)` presumes a query's true
    * neighbors concentrate in its few best cells; measured at
    * n = 505,000 / nlist = 711 on the clustered corpus that is false —
    * in 64 dimensions a 10-NN ball straddles MANY Voronoi cells, the
    * rule's 14 probes covered too few true neighbors at every rerank
    * budget (recall_ok false), and the budget sweep flipped green only
    * at nprobe ≈ 56. No closed form predicts that crossover — it
    * depends on the corpus's cell-boundary geometry — so the engine
    * measures it, and it measures the ε-AWARE quantity the recall
    * contract actually grades: for each sampled query, the smallest
    * cell-rank prefix holding at least `k` ε-ACCEPTABLE candidates
    * (exact cosine ≥ the query's k-th best − `epsTies` — the
    * ann-benchmarks accounting [[graft.operators.Pca.pcaIvfCheck]]
    * uses). Strict coverage of the exact argmin SET would be the wrong
    * bar on clustered corpora: near-ties make most top-k members
    * interchangeable, and demanding the literal set measured nprobe
    * 303 at n = 505k where ε-recall is already green at 56 — a 5×
    * probe-cost overshoot for zero contract benefit.
    *
    * One distributed pass scores the corpus against the broadcast
    * sample (sample × n dots — the same cost class as training,
    * calibrated once per (corpus, layout) and amortized over serving),
    * reduced to per-(query, cell) acceptable counts (≤ sample × nlist
    * rows); the driver walks each query's own centroid-score cell
    * order until `k` acceptables accumulate and returns the max over
    * queries (floored at the analytic rule, capped at nlist). `bar`
    * picks the across-query quantile only when the sample is large
    * enough to spare outliers (quantile `bar` at sample ≥ 16, else
    * max) — a single adversarial sampled query must not force
    * exhaustive probing, but small samples cannot afford to discard
    * evidence.
    */
  def calibratedNprobe(embeddings: DataFrame, cents: Cents, k: Int,
                       bar: Double, sample: Int = 32,
                       floor: Int = 8, epsTies: Double = 1e-3): Int = {
    require(bar > 0 && bar <= 1, s"bar must be in (0, 1], got $bar")
    val nlist = cents.length
    val qdf = embeddings
      .filter(pmod(col("vec_id"), lit(101)) === 7)
      .orderBy("vec_id").limit(sample)
      .select(col("vec_id"), col("embedding"))
    val qvecs = qdf.collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    if (qvecs.isEmpty) return math.min(nlist, math.max(1, floor))
    // per-query ε floor: k-th best exact cosine − eps
    val kth = bruteForceTopK(embeddings, qdf, k)
      .groupBy(col("query_id")).agg(min(col("cos")).as("kth"))
    // one corpus pass: assign cells, score against every sampled query,
    // keep ε-acceptable rows, reduce to (query, cell) counts
    val q = qdf.select(col("vec_id").as("query_id"),
        col("embedding").as("q_emb"),
        VectorFunctions.norm(col("embedding")).as("q_nrm"))
      .join(kth, "query_id")
    val corpus = cellAssign(
      spread(embeddings).select(col("vec_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("c_nrm")),
      cents, "cell")
    val counts = corpus.join(broadcast(q),
        col("query_id") =!= col("vec_id"))
      .filter(round(VectorFunctions.dot(col("q_emb"), col("embedding")) /
        (col("q_nrm") * col("c_nrm")), 6) >= col("kth") - epsTies)
      .groupBy(col("query_id"), col("cell"))
      .agg(count(lit(1)).as("cnt"))
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
    val byQuery = counts.groupBy(_._1)
    val perQueryPrefix = qvecs.map { case (qid, v) =>
      val cellCnt = byQuery.getOrElse(qid, Array.empty[(Long, Int, Long)])
        .map { case (_, cell, cnt) => cell -> cnt }.toMap
      val order = probeCellsOf(v, cents, nlist)
      var acc = 0L
      var p = 0
      while (p < order.length && acc < k) {
        acc += cellCnt.getOrElse(order(p), 0L)
        p += 1
      }
      // a query with fewer than k acceptables anywhere (degenerate
      // corpus) pins its prefix at nlist — the honest answer
      if (acc < k) nlist else p
    }.sorted
    val p =
      if (perQueryPrefix.length >= 16) {
        val idx = math.min(perQueryPrefix.length - 1,
          math.max(0, math.ceil(bar * perQueryPrefix.length).toInt - 1))
        perQueryPrefix(idx)
      } else perQueryPrefix.last
    math.min(nlist, math.max(math.max(1, floor), p))
  }

  /** Score of `emb` against centroid c: dot(e, c)/|c| — |e| is constant
    * across centroids so it can't change the argmax; negated for
    * min-ordering.
    */
  private def negScore(emb: Column, c: (Int, Array[Float], Double)): Column =
    -VectorFunctions.dot(emb, lit(c._2)) / lit(c._3)

  /** Cell-count ceiling of the literal-expression assignment path:
    * [[bestCell]]/[[withProbeCells]] embed `nlist × dim` multiply-adds
    * as ONE expression tree, and past ~50 cells the generated method
    * exceeds the JVM's 64 KB/constant-pool budgets — Catalyst falls
    * back to interpreted eval exactly where the scaled geometry
    * (nlist ≈ √n) needs speed most. Above the ceiling, assignment runs
    * as a typed mapPartitions kernel over broadcast centroid triples
    * (the [[Alerts]] convention: per-partition imperative numeric work
    * Spark has no operator shape for), with arithmetic replicated
    * BIT-EXACTLY from the literal path — index-order double
    * accumulation ([[graft.functions.DotProduct]]'s loop), `−dot/|c|`
    * scoring, and ascending-(score, cid) selection matching `least()`
    * and `array_sort` struct ordering (spec-pinned equal on a 64-cell
    * layout evaluated through both paths).
    */
  private[operators] val maxLiteralCells = 48

  /** The `nprobe` best cell ids of one vector, ascending (score, cid) —
    * the kernel-side replica of the `array_sort(struct(s, cid))` slice.
    */
  private[operators] def probeCellsOf(emb: Array[Float], cents: Cents,
                                      nprobe: Int): Array[Int] = {
    // nprobe = 1 is the ASSIGNMENT path every corpus-sized pass runs
    // (moment/index/training kernels) — a bare argmin loop, zero
    // allocation. The general path below builds and sorts an
    // nlist-entry boxed tuple array PER ROW, which at the scaled
    // geometry (nlist ≈ √n = 4.5k at n = 2e7) turned the 2e7 moment
    // pass allocation-bound — thread dumps showed the sort, not the
    // MACs, on top (r15). Tiebreak matches the sort order exactly:
    // ascending (score, cid).
    if (nprobe == 1) {
      var bestScore = Double.MaxValue
      var bestCid = Int.MaxValue
      var found = false
      var ci = 0
      while (ci < cents.length) {
        val c = cents(ci)
        val v = c._2
        val m = math.min(emb.length, v.length)
        var acc = 0.0
        var i = 0
        while (i < m) { acc += emb(i).toDouble * v(i).toDouble; i += 1 }
        val s = -acc / c._3
        if (s < bestScore || (s == bestScore && c._1 < bestCid)) {
          bestScore = s; bestCid = c._1; found = true
        }
        ci += 1
      }
      // all-NaN scores (every centroid zero-norm: s = −0/0) never pass
      // the < comparison, so bestCid would be Int.MaxValue — an invalid
      // cell that corrupts centers(cell)/axes(cell) lookups downstream.
      // The sort path's TotalOrdering compares equal NaNs by ascending
      // cid; return the same cell so both paths stay bit-compatible on
      // the degenerate input (r15 ADVICE).
      if (!found) {
        var minCid = cents(0)._1
        var cj = 1
        while (cj < cents.length) {
          if (cents(cj)._1 < minCid) minCid = cents(cj)._1
          cj += 1
        }
        bestCid = minCid
      }
      return Array(bestCid)
    }
    val scored = new Array[(Double, Int)](cents.length)
    var ci = 0
    while (ci < cents.length) {
      val (cid, v, nrm) = cents(ci)
      val m = math.min(emb.length, v.length)
      var acc = 0.0
      var i = 0
      while (i < m) { acc += emb(i).toDouble * v(i).toDouble; i += 1 }
      scored(ci) = (-acc / nrm, cid)
      ci += 1
    }
    scored.sortInPlace()
    scored.take(math.min(nprobe, scored.length)).map(_._2)
  }

  /** Append an `array<int>` column `probe_cells` (the `nprobe` best
    * cells, ascending score) to `df` — literal expressions under
    * [[maxLiteralCells]], the broadcast-centroid kernel above it.
    * Requires the vector in a column named `embedding`.
    */
  private def withProbeCellArray(df: DataFrame, cents: Cents,
                                 nprobe: Int): DataFrame =
    // ONE kernel expression at every cell count (r17,
    // [[graft.functions.ProbeCells]]): the ≤48-cell literal form paid
    // the plan-size disease (nlist × dim literal dots + an array_sort
    // of nlist structs per row — the 43-cell sf0.1 assignment measured
    // 3× the probe's own CPU), and the >48-cell mapPartitions form
    // paid a Row-encoder boundary that broke codegen and column
    // pruning around it. The kernel replicates the literal path's
    // arithmetic bit-exactly (see the expression's doc); the old
    // literal-vs-kernel parity spec now pins expression == kernel.
    df.withColumn("probe_cells",
      org.apache.spark.sql.graftbridge.ColumnBridge.column(
        graft.functions.ProbeCells(
          org.apache.spark.sql.graftbridge.ColumnBridge.expression(
            col("embedding")),
          cents.toIndexedSeq.map(c => (c._1, c._2.toIndexedSeq, c._3)),
          nprobe)))

  /** Append the nearest-cell id as `outCol` — the IVF assignment,
    * dispatched literal-vs-kernel like [[withProbeCellArray]].
    */
  private[operators] def cellAssign(df: DataFrame, cents: Cents,
                                    outCol: String): DataFrame =
    withProbeCellArray(df, cents, 1)
      .withColumn(outCol, element_at(col("probe_cells"), 1))
      .drop("probe_cells")

  /** Best (nearest) cell of a vector as a (s, cid) struct — `s` is the
    * winning negated score (scales with |emb|; divide by the row norm
    * to compare across rows). One pass, `nlist` codegen'd dots per row.
    */
  private def bestCell(
      emb: Column, cents: Array[(Int, Array[Float], Double)]): Column =
    least(cents.toIndexedSeq.map(c => struct(negScore(emb, c).as("s"), lit(c._1).as("cid"))): _*)

  /** Nearest-cell id for a vector — the IVF assignment. */
  private[operators] def cellOf(
      emb: Column, cents: Array[(Int, Array[Float], Double)]): Column =
    bestCell(emb, cents).getField("cid")

  /** Explode each query row into its `nprobe` best cells: every column
    * of `queries` is preserved and a `probe_cell` int column is added
    * (one output row per probed cell). Requires the query vector in a
    * column named `embedding`; project/alias other columns BEFORE the
    * call so per-query derivations (norms, PQ distance tables) are
    * computed once, not once per probe row.
    */
  private[operators] def withProbeCells(queries: DataFrame,
      cents: Array[(Int, Array[Float], Double)], nprobe: Int): DataFrame = {
    // explode_outer: a plain explode would infer a size(...) > 0
    // pre-filter re-evaluating the nlist-dot probe-cell ranking per
    // query row (see TextOps.repetition); nprobe >= 1 makes the null
    // row impossible, the filter just blocks the inference
    withProbeCellArray(queries, cents, nprobe)
      .withColumn("probe_cell", explode_outer(col("probe_cells")))
      .filter(col("probe_cell").isNotNull)
      .drop("probe_cells")
  }

  /** IVF-style approximate top-k: partition the vector space into
    * `nlist` cells around the coarse centroids, assign every vector to
    * its nearest cell (one pass, `nlist` codegen'd dots per row), and
    * have each query search only its `nprobe` closest cells — the
    * standard inverted-file ANN layout. At 100 TB the assignment is a
    * map-only pass, vectors land bucketed/partitioned by cell, and
    * query fan-out touches nprobe/nlist of the data instead of all of
    * it. Exact cosine within probed cells; recall is the nprobe/nlist
    * trade-off (spec-measured against brute force). `coarseIters` > 0
    * Lloyd-trains the centroids ([[trainCentroids]]) — the setting a
    * clustered real-world corpus needs.
    */
  def ivfTopK(embeddings: DataFrame, queries: DataFrame, k: Int,
              nlist: Int = 16, nprobe: Int = 4, coarseIters: Int = 0,
              centsOpt: Option[Cents] = None): DataFrame = {
    require(nprobe >= 1 && nprobe <= nlist)
    ivfTopKAt(embeddings, queries, k,
      centsOpt.getOrElse(coarseCentroids(embeddings, nlist, coarseIters)), nprobe)
  }

  /** [[ivfTopK]] against a FIXED centroid array — shared by the public
    * entry point and the checks that must search with and compare
    * against the same cell layout without re-deriving (or re-training)
    * it per use.
    */
  private def ivfTopKAt(embeddings: DataFrame, queries: DataFrame, k: Int,
                        cents: Array[(Int, Array[Float], Double)],
                        nprobe: Int): DataFrame = {
    val assigned = cellAssign(
      spread(embeddings).select(col("vec_id").as("neighbor_id"),
        col("embedding"), VectorFunctions.norm(col("embedding")).as("c_nrm")),
      cents, "cell")
    // per query: the nprobe best cells, exploded into probe rows
    val q = withProbeCells(
      queries.select(col("vec_id").as("query_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("q_nrm")),
      cents, nprobe)
      .withColumnRenamed("embedding", "q_emb")
    val scored = assigned.join(broadcast(q),
      col("cell") === col("probe_cell") && col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", round(
        VectorFunctions.dot(col("q_emb"), col("embedding")) / (col("q_nrm") * col("c_nrm")), 6))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"), col("rank"))
  }

  /** Driver-visible contract check for [[ivfTopK]] at a genuinely
    * approximate probe budget: recall@k vs brute force at least
    * `minRecall`, and every emitted cosine equal to the exact value
    * (true by construction — cells score with exact cosine). Robust
    * across corpora, unlike the empirically-exhaustive-nprobe equality
    * gate, which is exact only at the scale it was calibrated on.
    */
  def ivfSelfCheck(embeddings: DataFrame, queries: DataFrame, k: Int,
                   nlist: Int = 16, nprobe: Int = 4,
                   minRecall: Double = 0.5, coarseIters: Int = 0,
                   centsOpt: Option[Cents] = None): DataFrame =
    gradeTopK(ivfTopK(embeddings, queries, k, nlist, nprobe, coarseIters, centsOpt),
      bruteForceTopK(embeddings, queries, k), minRecall)

  /** The search-quality contract row of every ANN self-check,
    * `(recall_ok, cosines_exact)`, from an approximate answer and the
    * exact reference (both `(query_id, neighbor_id, cos, …)`):
    *  - `recall_ok`: the approximate answer's hits are at least
    *    `minRecall` × the reference's row count. With `epsTies = None`
    *    a hit is strict identity — the pair is in the exact top-k. With
    *    `Some(ε)` it is the ann-benchmarks ε-recall: an emitted neighbor
    *    counts when its cosine reaches its query's k-th exact cosine
    *    minus ε, so a near-tie outside the exact set is not a miss.
    *  - `cosines_exact`: every pair present on both sides carries the
    *    reference's cosine.
    * One join on the pair and one global aggregate, no nested-loop
    * join: a LEFT join from the exact side under strict recall
    * (approximate-only pairs count toward nothing), a FULL join under
    * ε-recall, where an approximate-only near-tie can be a hit and the
    * k-th exact cosine comes from a per-query window.
    */
  def gradeTopK(approx: DataFrame, exact: DataFrame, minRecall: Double,
                epsTies: Option[Double] = None): DataFrame = {
    val joined = exact.select(col("query_id"), col("neighbor_id"),
        col("cos").as("ref_cos"), lit(true).as("in_exact"))
      .join(approx.select(col("query_id"), col("neighbor_id"), col("cos"),
          lit(true).as("in_approx")),
        Seq("query_id", "neighbor_id"), if (epsTies.isEmpty) "left" else "full")
    val (graded, hit) = epsTies match {
      case None => (joined, col("in_approx"))
      case Some(eps) =>
        (joined.withColumn("kth",
            min(col("ref_cos")).over(Window.partitionBy(col("query_id")))),
          col("in_approx") && col("cos") >= col("kth") - eps)
    }
    graded.agg(
      (count(when(hit, 1)).cast("double") >= lit(minRecall) * count(col("in_exact")))
        .as("recall_ok"),
      (count(when(col("cos") =!= col("ref_cos"), 1)) === 0).as("cosines_exact"))
  }

  /** Rows of the deterministic SPREAD slice: `vec_id mod 101 = 13`. */
  val inSpreadSlice: Column = pmod(col("vec_id"), lit(101)) === 13

  /** The graded query sample of the ANN checks: the first 32 rows of
    * the spread slice by id — spread over the whole id space, and
    * disjoint from the calibration ladders' residue-7 slice. Consecutive
    * low ids would grade one blob fringe of a clustered corpus instead
    * (measured at n = 505k: whole-population ε-recall ≥ 0.95 where the
    * 5-query `vec_id < 5` slice read < 0.9). A corpus with no slice row
    * (a tiny fixture) falls back to the first 32 rows by id hash.
    */
  def spreadSample(df: DataFrame): DataFrame = {
    val slice = df.filter(inSpreadSlice).orderBy("vec_id").limit(32)
    if (slice.isEmpty) df.orderBy(xxhash64(col("vec_id")), col("vec_id")).limit(32)
    else slice
  }

  /** Deterministically CLUSTERED variant of an embedding corpus — the
    * adversarial distribution the untrained first-N-by-id quantizer
    * fails on. Each vector is pulled `mix` of the way toward its
    * group's center direction (groups = contiguous vec_id ranges, the
    * realistic worst case: corpora sorted by source/time put all the
    * lowest ids — the quantizer's sample — in ONE cluster). Centers are
    * the unit-normalized embeddings of the `nClusters` lowest ids
    * (near-orthogonal on this corpus); the blend is codegen'd
    * `zip_with` arithmetic, map-only, no RNG.
    */
  def clusteredCorpus(embeddings: DataFrame, nClusters: Int = 4,
                      mix: Double = 0.85): DataFrame = {
    val centers = lowestByVecId(
        embeddings.select(col("vec_id"), col("embedding")), nClusters)
      .map(_.getSeq[Float](1).toArray.map(_.toDouble))
      .map { v =>
        val n = math.sqrt(v.map(x => x * x).sum)
        val nn = if (n == 0.0) 1.0 else n
        v.map(_ / nn)
      }
    val span = embeddings.agg(max("vec_id")).head().getLong(0) / nClusters + 1
    val nrm = VectorFunctions.norm(col("embedding"))
    val safe = when(nrm === 0.0, lit(1.0)).otherwise(nrm)
    val center = element_at(typedLit(centers.map(_.toSeq).toSeq),
      (col("vec_id") / lit(span)).cast("int") + 1)
    embeddings.select(col("vec_id"),
      transform(
        zip_with(col("embedding"), center,
          (a, b) => lit(mix) * b + lit(1.0 - mix) * (a / safe)),
        x => x.cast("float")).as("embedding"))
  }

  /** The trained-quantizer contract gate: Lloyd-trained IVF on a
    * clustered corpus must hold BOTH properties the untrained sample
    * loses there — recall@k at a fixed probe budget, and cell balance
    * (no cell above `balanceFactor` × the mean population, i.e. no
    * single cell becomes the scan bottleneck at 100×). Two invariant
    * rows `(invariant, ok)`; the exact reference is [[ivfTopKAt]]
    * probing ALL cells of the SAME trained layout (provably brute
    * force), and the recall aggregation is the one-pass left-join shape
    * ([[Pq.ivfPqSelfCheck]]) — no nested-loop join anywhere in the
    * gate's plan.
    */
  def ivfTrainedCheck(embeddings: DataFrame, queries: DataFrame, k: Int,
                      nlist: Int = 16, nprobe: Int = 4, coarseIters: Int = 3,
                      minRecall: Double = 0.8,
                      balanceFactor: Double = 2.0,
                      centsOpt: Option[Cents] = None): DataFrame = {
    val cents = centsOpt.getOrElse(coarseCentroids(embeddings, nlist, coarseIters))
    val balance = cellAssign(embeddings.select(col("embedding")), cents, "cell")
      .select(col("cell"))
      .groupBy("cell").agg(count(lit(1)).as("n"))
      .agg((max(col("n")) <= lit(balanceFactor) * avg(col("n"))).as("ok"))
      .select(lit("cell_balance").as("invariant"), col("ok"))
    val approx = ivfTopKAt(embeddings, queries, k, cents, nprobe)
    val exact = ivfTopKAt(embeddings, queries, k, cents, nlist)
    val recall = exact
      .select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"),
        lit(1).as("hit")), Seq("query_id", "neighbor_id"), "left")
      .agg((count(col("hit")).cast("double") / count(lit(1)) >= minRecall)
        .as("ok"))
      .select(lit("recall_at_nprobe").as("invariant"), col("ok"))
    balance.unionByName(recall)
  }

  /** Per-query candidate mass of an IVF layout: the number of
    * (query, candidate) rows the probe equi-join materializes — the
    * statistic that proves (or falsifies) the sublinearity claim of
    * the scaled geometry. ScaleProbe prints it across corpus scales;
    * under [[scaledIvfConfig]] it must grow ~√n·log n, not n.
    */
  def probedCandidateCount(embeddings: DataFrame, queries: DataFrame,
                           cents: Cents, nprobe: Int): Long = {
    val assigned = cellAssign(
      embeddings.select(col("vec_id"), col("embedding")), cents, "cell")
    val q = withProbeCells(
      queries.select(col("vec_id").as("query_id"), col("embedding")),
      cents, nprobe)
    assigned.join(broadcast(q.select(col("query_id"), col("probe_cell"))),
      col("cell") === col("probe_cell")).count()
  }

  /** LSH-bucketed near-neighbor pairs: bucket on band prefixes of the
    * hyperplane signature, candidate-join within buckets, verify with
    * exact cosine. Recall is tunable via bands (any pair agreeing on
    * one full band of sign bits becomes a candidate).
    */
  /** Corpus-scaled hyperplane-LSH geometry. A band with `r` bucket
    * bits enumerates ~`n²/2^r` candidate pairs (Σ occupancy² across
    * its `2^r` buckets), so a geometry FIXED while the corpus grows
    * 10× costs ~100× — the round-11 sf1 scale proof measured exactly
    * that on the 2-bit gate config (BENCH_NOTES.md). Holding expected
    * occupancy `n/2^r` at `targetOccupancy` keeps the banded join
    * near-linear: `r = log2(n/targetOccupancy)`, with as many bands as
    * the 63-bit packed-signature budget then affords (bands × r ≤ 62).
    * Recall at a given threshold falls as `r` grows and `bands`
    * shrink — the standard LSH tradeoff — so a production deployment
    * re-validates recall when the geometry steps, exactly as the gate
    * configs were validated at their scale. Returns (numPlanes, bands).
    */
  def scaledLshConfig(n: Long, targetOccupancy: Int = 64,
                      maxBands: Int = 16): (Int, Int) = {
    require(n >= 0 && targetOccupancy >= 1 && maxBands >= 1)
    val r = math.max(2, math.ceil(
      math.log(math.max(n, 1).toDouble / targetOccupancy) / math.log(2)).toInt)
    val bands = math.max(1, math.min(maxBands, 62 / r))
    (bands * r, bands)
  }

  /** Recall-driven, budget-free geometry (the r13 "production knob",
    * now implemented): bits-per-band `r` is still the occupancy rule
    * `log₂(n/occ)` — that is what keeps the banded join near-linear —
    * but the BAND COUNT is chosen from the recall requirement instead
    * of a 62-bit packing budget. Within the legacy budget (`bands·r ≤
    * 62`) the legacy geometry is returned VERBATIM whenever it already
    * holds `recallBar` at this threshold, so every configuration the
    * gates pinned is unchanged; past it — the regime where r grows
    * with n until `62/r` bands can't hold the bar and the r13
    * dispatcher had to fall back to exact O(n²) — bands escalate to
    * the smallest count whose analytic multi-probe [[bandRecall]]
    * lower bound clears the bar (one long per band,
    * [[bandBucketArray]]; 7 bands × 13 bits = 91 planes at t = 0.9,
    * n = 5e5). `maxBands` caps the escalation: a threshold so low the
    * cap can't reach the bar returns the capped geometry and the
    * dispatcher sees `recall < recallBar` — the honest exact fallback,
    * now reserved for genuinely band-hostile thresholds instead of
    * every large corpus.
    */
  def scaledLshConfigWide(n: Long, threshold: Double,
                          targetOccupancy: Int = 64,
                          recallBar: Double = 0.97,
                          maxBands: Int = 32): (Int, Int) = {
    val (p, b, _) = scaledLshConfigWideArm(n, threshold, targetOccupancy,
      recallBar, maxBands)
    (p, b)
  }

  /** [[scaledLshConfigWide]] plus the PROBE ARM the escalated geometry
    * should mine with — the third element is `multiProbe`. Within the
    * legacy budget the answer is the legacy geometry with distance-1
    * multi-probing (bit-compatible with every pinned gate). Past it,
    * BOTH escalations are costed and the cheaper feasible one wins:
    *  - single-probe needs more bands for the same recall (no
    *    distance-1 rescue) but each band contributes `n·occ/2`
    *    candidate rows instead of `(1+r)·n·occ/2` — at t = 0.9,
    *    r = 13 that is 25 bands × 1 vs 7 bands × 14 = a 4.4× smaller
    *    candidate stream for a 3.6× wider (cheap) signature pass. The
    *    r14 sf250e run measured the difference as existential, not
    *    incremental: the multi-probe arm's 2.4e9-row candidate
    *    distinct overran the box's 71 GB of shuffle disk, the
    *    single-probe arm fits in a quarter of it.
    *  - multi-probe stays the answer where single-probe cannot reach
    *    the bar within `maxBands` (looser thresholds: at t = 0.8,
    *    single needs 68 bands, multi 15).
    */
  private[graft] def scaledLshConfigWideArm(
      n: Long, threshold: Double, targetOccupancy: Int = 64,
      recallBar: Double = 0.97, maxBands: Int = 32): (Int, Int, Boolean) = {
    val (legacyPlanes, legacyBands) = scaledLshConfig(n, targetOccupancy)
    val r = legacyPlanes / legacyBands
    if (bandRecall(threshold, r, legacyBands, multiProbe = true) >= recallBar)
      (legacyPlanes, legacyBands, true)
    else {
      def escalate(mp: Boolean): Option[Int] =
        (legacyBands to maxBands)
          .find(b => bandRecall(threshold, r, b, mp) >= recallBar)
      def candCost(bands: Int, mp: Boolean): Double =
        bands.toDouble * (if (mp) 1 + r else 1) * n * targetOccupancy / 2
      (escalate(false), escalate(true)) match {
        case (Some(sp), Some(mp)) =>
          if (candCost(sp, mp = false) <= candCost(mp, mp = true))
            (sp * r, sp, false)
          else (mp * r, mp, true)
        case (Some(sp), None) => (sp * r, sp, false)
        case (None, Some(mp)) => (mp * r, mp, true)
        case (None, None) =>
          // neither arm reaches the bar at the cap: return the capped
          // multi-probe geometry (the higher-recall arm) and let the
          // dispatcher's recall check refuse banded
          (maxBands * r, maxBands, true)
      }
    }
  }

  /** Analytic recall LOWER BOUND of banded hyperplane LSH for a pair
    * at cosine exactly `threshold` (higher-cosine pairs only do
    * better): per-plane agreement `p = 1 − arccos(t)/π` (Goemans–
    * Williamson), per-band hit `p^r` — plus the r distance-1 probes'
    * `r·p^(r−1)(1−p)` when multi-probing — and a pair is found when
    * any of the `bands` bands hits.
    */
  private[graft] def bandRecall(threshold: Double, r: Int, bands: Int,
                                multiProbe: Boolean): Double = {
    val t = math.min(1.0, math.max(-1.0, threshold))
    val p = 1.0 - math.acos(t) / math.Pi
    val hit = math.pow(p, r) +
      (if (multiProbe) r * math.pow(p, r - 1) * (1 - p) else 0.0)
    1.0 - math.pow(1.0 - math.min(1.0, hit), bands)
  }

  /** The exact-vs-banded decision for threshold pair mining over `n`
    * vectors — the cost model behind [[similarPairsAuto]], mirroring
    * [[Dedup.ngramJaccard]]'s dense-regime dispatch. Costs are in
    * dot-product equivalents: exact `n(n−1)/2`; banded = the signature
    * pass `n·numPlanes` plus expected candidate verifications
    * `bands·(1+r)·n·occ/2` (each of a vector's `(1+r)` bucket rows per
    * band meets ~`occ` base rows under occupancy-scaled geometry; a
    * random pair agrees on a plane with p≈1/2, so random collisions —
    * not near-dups — dominate the estimate). The banded path is chosen
    * only when it is BOTH cheaper and above `recallBar` at the scaled
    * geometry: low thresholds force coarse bands to such low recall
    * that exact mining is the honest winner there (measured: at t=0.4
    * the exact path beat the scaled geometry at every probed sf —
    * dense pair mining is output-bound), while high thresholds at
    * large n hand the banded path its near-linear win.
    */
  case class PairPlan(exact: Boolean, numPlanes: Int, bands: Int,
                      recall: Double, exactCost: Double, bandedCost: Double,
                      multiProbe: Boolean = true)

  /** Per-candidate overhead of the banded path relative to one
    * codegen'd dot product of the exact scan — the cost-model constant
    * (the `cpu_tuple_cost` idiom): a banded candidate pays exploded
    * bucket-row structs, the equi-join probe, the pair distinct's hash
    * aggregation and the two vector-fetch joins, where the exact scan
    * pays one tight broadcast-loop dot. Calibrated r13 on the planted
    * sf1 corpus: banded ≈ 20 µs per cost unit vs exact ≈ 2 µs
    * (628 CPU-s over 3.1e7 units vs 391 over 2.0e8). Without it the
    * model flips to banded a decade before the real crossover.
    */
  val bandedRowCostFactor: Double = 10.0

  def pairPlanFor(n: Long, threshold: Double, targetOccupancy: Int = 64,
                  recallBar: Double = 0.97, maxBands: Int = 32): PairPlan = {
    val (numPlanes, bands, mp) = scaledLshConfigWideArm(n, threshold,
      targetOccupancy, recallBar, maxBands)
    val r = numPlanes / bands
    val recall = bandRecall(threshold, r, bands, multiProbe = mp)
    // per-vector bucket rows per band: 1 base (+ r distance-1 probes
    // when multi-probing) — the factor that sizes both the candidate
    // stream and the exploded row count
    val probeRows = if (mp) 1.0 + r else 1.0
    val exactCost = n.toDouble * math.max(n - 1L, 0L) / 2
    val bandedCost = n.toDouble * numPlanes + bandedRowCostFactor *
      (bands.toDouble * probeRows * n * targetOccupancy / 2 +
        n.toDouble * bands * probeRows)
    PairPlan(recall < recallBar || exactCost <= bandedCost,
      numPlanes, bands, recall, exactCost, bandedCost, mp)
  }

  /** MEASURED banded collision mass at a geometry: Σ over base
    * buckets of occ·(occ−1)/2 — the exact number of (unordered)
    * same-bucket id pairs the single-probe banded join would
    * enumerate. This is the [[Dedup.overlapDensity]] analog for the
    * embedding side: clustered corpora concentrate occupancy far
    * beyond the uniform n/2^r estimate (real embeddings always
    * cluster), so the dispatch must measure, not assume. Cost: one
    * signature pass (n·numPlanes dots) + a tiny two-level aggregate —
    * negligible against either mining path, and only paid when the
    * optimistic-uniform estimate says banded might win.
    */
  private[graft] def collisionMass(embeddings: DataFrame, numPlanes: Int,
                                   bands: Int, dim: Int): Long = {
    val sig = spread(embeddings)
      .select(bandBucketArray(col("embedding"), numPlanes, bands, dim).as("bb"))
    // sum c·(c−1) in LONGs (Spark's `/` is double division) and halve
    // once at the end — exact at any occupancy
    sig.select(posexplode(col("bb")).as(Seq("band", "bucket")))
      .groupBy(col("band"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .agg(coalesce(sum(col("c") * (col("c") - 1)), lit(0L)))
      .head().getLong(0) / 2
  }

  /** COST-BASED pair mining: all embedding pairs with cosine ≥
    * `threshold`, dispatched in two stages —
    *
    *  1. ANALYTIC ([[pairPlanFor]]): if the occupancy-scaled geometry
    *     cannot hold `recallBar` at this threshold (low-threshold
    *     dense mining is output-bound — banding can only lose pairs
    *     there), or if even the uniform-optimistic banded estimate
    *     already loses to `n(n−1)/2` (small corpora), mine exactly.
    *     No data is touched beyond a metadata count.
    *  2. MEASURED: otherwise sign the corpus once and compare the
    *     ACTUAL same-bucket collision mass (× the multi-probe factor)
    *     against the exact cost — clustered corpora blow past the
    *     uniform estimate and exact mining stays the honest winner
    *     one decade of n beyond where the uniform model flips
    *     (measured r12/r13: at n = 20k and t = 0.9 exact ≈ 0.86× the
    *     banded CPU on the planted-twins corpus; the crossover is
    *     n ≈ 10⁵⁺, which the measured mass finds by itself).
    *
    * Precision is exact on both paths (banded candidates are
    * exact-cosine verified); recall is exact on the exact path and ≥
    * the analytic [[bandRecall]] bound on the banded one. `force`
    * pins a branch (Some(true) = exact) — the correctness gates use
    * it to hash-pin BOTH branches against one oracle.
    */
  /** The two-stage decision behind [[similarPairsAuto]], exposed for
    * the spec and ScaleProbe: `mass` is -1 when stage 1 decided
    * without signing the corpus.
    */
  case class Dispatch(exact: Boolean, plan: PairPlan, mass: Long,
                      measuredBandedCost: Double)

  def dispatchFor(embeddings: DataFrame, threshold: Double,
                  dim: Int = 64, targetOccupancy: Int = 64,
                  recallBar: Double = 0.97, maxBands: Int = 32): Dispatch = {
    // parquet-metadata count: the one driver-side statistic stage 1
    // needs (same device as Dedup's overlapDensity, cheaper)
    val n = embeddings.count()
    val plan = pairPlanFor(n, threshold, targetOccupancy, recallBar, maxBands)
    val r = plan.numPlanes / plan.bands
    val probeRows = if (plan.multiProbe) 1.0 + r else 1.0
    if (plan.recall < recallBar || plan.bandedCost >= plan.exactCost)
      Dispatch(exact = true, plan, -1L, Double.NaN)
    else {
      val mass = collisionMass(embeddings, plan.numPlanes, plan.bands, dim)
      val measured = n.toDouble * plan.numPlanes + bandedRowCostFactor *
        (probeRows * mass + n.toDouble * plan.bands * probeRows)
      Dispatch(measured >= plan.exactCost, plan, mass, measured)
    }
  }

  /** `maxBands` bounds the wide-arm escalation (default 32, every
    * pinned geometry unchanged). Raising it admits the SINGLE-PROBE
    * escalation at strict bars — more bands, but each contributes one
    * bucket row per vector instead of (1+r), and no probe row ever
    * duplicates a base collision: at bar 0.99999, n = 2e3, the sp arm
    * (110 bands × 5 bits) models 3520n candidates vs multi-probe
    * 120×24's 4608n, and the r14 sf250e run measured the sp arm's
    * candidate DISTINCT at a quarter of the mp arm's shuffle volume —
    * the r16 re-derivation of the forced-banded gate's geometry from
    * the r15 two-arm dispatch (VERDICT task 7).
    */
  def similarPairsAuto(embeddings: DataFrame, threshold: Double,
                       dim: Int = 64, targetOccupancy: Int = 64,
                       recallBar: Double = 0.97,
                       force: Option[Boolean] = None,
                       maxBands: Int = 32): DataFrame = {
    val d = force match {
      case Some(e) =>
        Dispatch(e, pairPlanFor(embeddings.count(), threshold,
          targetOccupancy, recallBar, maxBands), -1L, Double.NaN)
      case None =>
        dispatchFor(embeddings, threshold, dim, targetOccupancy, recallBar,
          maxBands)
    }
    if (sys.env.contains("GRAFT_PROBE"))
      println(f"[probe]   similarPairsAuto t=$threshold " +
        f"recall=${d.plan.recall}%.3f exactCost=${d.plan.exactCost}%.3g " +
        f"uniformBanded=${d.plan.bandedCost}%.3g mass=${d.mass} " +
        f"measuredBanded=${d.measuredBandedCost}%.3g mp=${d.plan.multiProbe} -> " +
        (if (d.exact) "exact" else "banded"))
    if (d.exact) pairsAboveThreshold(embeddings, threshold)
    else if (d.plan.multiProbe)
      lshPairsMultiProbe(embeddings, threshold, d.plan.numPlanes,
        d.plan.bands, dim)
    else lshPairs(embeddings, threshold, d.plan.numPlanes, d.plan.bands, dim)
  }

  /** [[knnJoin]] routed through the [[similarPairsAuto]] dispatcher:
    * the per-vector top-k window over whichever pair-mining path the
    * cost model picks.
    */
  def knnJoinAuto(embeddings: DataFrame, threshold: Double, k: Int,
                  dim: Int = 64, targetOccupancy: Int = 64,
                  recallBar: Double = 0.97,
                  force: Option[Boolean] = None): DataFrame =
    knnOverPairs(
      similarPairsAuto(embeddings, threshold, dim, targetOccupancy,
        recallBar, force), k)

  def lshPairs(embeddings: DataFrame, threshold: Double,
               numPlanes: Int = 16, bands: Int = 4, dim: Int = 64): DataFrame = {
    require(numPlanes % bands == 0)
    val sig = spread(embeddings, dense = true).select(col("vec_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"),
      bandBucketArray(col("embedding"), numPlanes, bands, dim).as("bb"))
    // lean posting rows: the grouping exchange carries (vec_id, band,
    // bucket) plus the PACKED per-band bucket signature ([[PackBits]],
    // numPlanes bits ≈ 4–69 B at the gate geometries) — never the
    // vectors. posexplode's position IS the band id (the array is
    // band-ordered).
    //
    // FIRST-COLLISION pair enumeration (r17,
    // [[graft.functions.FirstCollisionPairs]]): the former bucket
    // self-join iterated every (probe row × build match) and fed ~4×
    // duplicated pair rows into a `distinct()` whose hash aggregates
    // dominated the gates (measured sf0.1 sim_lsh_pairs: 8.0M pair
    // rows into a 1.97M-entry map = 43.8 s of aggTime at avgHashProbe
    // ≈ 465, of a 72 s pipeline). Grouping the postings per (band,
    // bucket) and emitting each colliding pair exactly once — at its
    // first colliding band, checked against the packed signature —
    // removes the join machinery AND the distinct outright; candidates
    // flow straight into verification, still deduped BEFORE any vector
    // moves. The explicit conf-width exchange keeps the byte-light,
    // compute-heavy groups spread (AQE would coalesce the ~KB posting
    // lists into one task — the jaccardIndexed lesson).
    val r = numPlanes / bands
    val posting = sig.select(col("vec_id"),
      VectorFunctions.packBits(col("bb"), r).as("sg"),
      posexplode(col("bb")).as(Seq("band", "bucket")))
    val parts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val cand = posting.repartition(parts, col("band"), col("bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("sg"))).as("ps"))
      .select(VectorFunctions.firstCollisionPairs(col("ps"), col("band"),
          col("bucket"), r, maxDist = 0)
        .as(Seq("id_a", "id_b")))
    verifyCosine(cand, sig, threshold)
  }

  /** k-NN JOIN over the near-dup band: for EVERY vector, its k most
    * similar neighbors among pairs with cosine ≥ `threshold` — the
    * batch shape embedding-dedup and clustering pipelines run
    * (contrast [[bruteForceTopK]]/[[ivfTopK]], which answer a QUERY
    * SET against a corpus). The threshold is part of the semantics:
    * "nearest near-duplicates", not unconditional kNN — a vector with
    * no neighbor above the band emits nothing, and LSH candidate
    * generation stays sound because only above-band pairs are owed.
    *
    * Scale shape: [[lshPairs]] bounds candidates (bucketed, never
    * all-pairs); the symmetric expansion doubles the verified pair
    * rows, and ranking is a per-vector window — independent k-row
    * heaps. Ties (equal rounded cosine) break by neighbor id.
    *
    * `multiProbe = true` mines candidates with [[lshPairsMultiProbe]]
    * instead: at a strained signature budget single-probe banding
    * silently THINS per-vector neighbor lists (a missed pair is a
    * missing kNN edge on both endpoints), and distance-1 probing
    * recovers those at the same planes — the knob to turn before
    * paying for a wider signature pass.
    */
  def knnJoin(embeddings: DataFrame, threshold: Double, k: Int,
              numPlanes: Int = 16, bands: Int = 4, dim: Int = 64,
              multiProbe: Boolean = false): DataFrame = {
    val pairs =
      if (multiProbe) lshPairsMultiProbe(embeddings, threshold, numPlanes, bands, dim)
      else lshPairs(embeddings, threshold, numPlanes, bands, dim)
    knnOverPairs(pairs, k)
  }

  /** Shared tail of [[knnJoin]]/[[knnJoinAuto]]: symmetric expansion
    * of the undirected pair set, then a per-vector top-k window
    * (independent k-row heaps; ties on rounded cosine break by
    * neighbor id). Package-visible so a pipeline (or gate) holding an
    * already-mined pair table can rank it without re-mining.
    */
  private[graft] def knnOverPairs(pairs: DataFrame, k: Int): DataFrame = {
    // symmetric expansion via ONE explode, not a self-union (r17): a
    // union's two branches each re-evaluate the whole pair-mining
    // subtree (candidate join + dedup + verify — measured: warm
    // sim_knn_join CPU was exactly 2x the pairs gate's), while the
    // explode emits both directions in one pass over one evaluation.
    val sym = pairs.select(explode(array(
        struct(col("id_a").as("vec_id"), col("id_b").as("neighbor_id")),
        struct(col("id_b").as("vec_id"), col("id_a").as("neighbor_id"))))
        .as("e"), col("cos"))
      .select(col("e.vec_id").as("vec_id"),
        col("e.neighbor_id").as("neighbor_id"), col("cos"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Exact-cosine verification of candidate (id_a, id_b) pairs against
    * the (vec_id, embedding, nrm) columns of `vecs` — shared tail of
    * the bucketed pair generators. Each side's vector is fetched once
    * per surviving pair; precision is exact at any probing setting.
    */
  /** Cross-SET near-match: every (left, right) pair with cosine ≥
    * `threshold`, where the two sides are different tables (corpus vs
    * benchmark embeddings — the semantic-decontamination shape; corpus
    * vs yesterday's index — the incremental shape). Same machinery as
    * [[lshPairs]] — shared hyperplanes sign both sides, candidates
    * meet in a lean (band, bucket) equi-join across the sets (never a
    * broadcast non-equi scan of corpus × bench), exact-cosine verify
    * fetches each side's vector once per surviving candidate. At a
    * recall-1.0 configuration the output equals the exact cross-pair
    * set (spec-asserted; cross-set pairs draw from the same vector
    * population the within-set recall measurement covers).
    */
  def crossMatches(left: DataFrame, right: DataFrame, threshold: Double,
                   numPlanes: Int = 32, bands: Int = 16,
                   dim: Int = 64, multiProbe: Boolean = false): DataFrame = {
    require(numPlanes % bands == 0, "bands must divide numPlanes")
    val r = numPlanes / bands
    def sigOf(df: DataFrame): DataFrame =
      df.select(col("vec_id"), col("embedding"),
        VectorFunctions.norm(col("embedding")).as("nrm"),
        bandBucketArray(col("embedding"), numPlanes, bands, dim).as("bb"))
    // `probe = true` emits each band's base bucket PLUS its r
    // distance-1 flips (the multi-probe extension — one-sided probing
    // covers every cross pair within Hamming distance 1 of agreeing
    // on a band, the same coverage as lshPairsMultiProbe's self-join
    // form, at the same r-fold bucket-row cost on ONE side only)
    // bucket rows carry the FUSED single-long (band, bucket) key (see
    // [[fusedBandKey]]) so the cross candidate join probes a
    // LongHashedRelation instead of a generic two-column build
    def bucketsOf(sig: DataFrame, probe: Boolean): DataFrame = {
      def bandBucket(bId: Int) = element_at(col("bb"), bId + 1)
      def fk(bId: Int, bucket: Column) =
        fusedBandKey(lit(bId), bucket, r, bands)
      val bandCols = (0 until bands).flatMap { bId =>
        val base = fk(bId, bandBucket(bId))
        if (!probe) Seq(base)
        else base +: (0 until r).map { j =>
          fk(bId, bandBucket(bId).bitwiseXOR(lit(1L << j)))
        }
      }
      sig.select(col("vec_id"), explode(array(bandCols: _*)).as("bk"))
    }
    val ls = sigOf(spread(left, dense = true))
    val rs = sigOf(right)
    val cand = bucketsOf(ls, multiProbe).as("a")
      .join(bucketsOf(rs, probe = false).as("b"), col("a.bk") === col("b.bk"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
    cand
      .join(ls.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a")), "id_a")
      .join(rs.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos", round(
        VectorFunctions.dot(col("emb_a"), col("emb_b")) /
          (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Cross-set kNN JOIN over the near-match band: for every LEFT
    * vector, its k most similar RIGHT neighbors among pairs with
    * cosine ≥ `threshold` — the serving shape of retrieval against a
    * frozen corpus (new queries vs yesterday's index) where the two
    * sides are different tables, in contrast to [[knnJoin]]'s
    * self-join. Candidates come from [[crossMatches]]' lean
    * (band, bucket) equi-join — never a query×corpus scan — and
    * ranking is a per-query window over verified exact cosines (ties
    * break by neighbor id). A query with no neighbor above the band
    * emits nothing: "nearest near-matches", the same contract as
    * [[knnJoin]].
    */
  def knnJoinCross(left: DataFrame, right: DataFrame, threshold: Double,
                   k: Int, numPlanes: Int = 32, bands: Int = 16,
                   dim: Int = 64, multiProbe: Boolean = false): DataFrame = {
    val pairs = crossMatches(left, right, threshold, numPlanes, bands, dim,
      multiProbe)
    val w = Window.partitionBy(col("id_a"))
      .orderBy(col("cos").desc, col("id_b"))
    pairs.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"),
        col("cos"))
  }

  private def verifyCosine(cand: DataFrame, vecs: DataFrame,
                           threshold: Double): DataFrame = {
    val v = vecs.select(col("vec_id"), col("embedding"), col("nrm"))
    cand
      .join(v.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
        col("nrm").as("nrm_a")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
        col("nrm").as("nrm_b")), "id_b")
      .withColumn("cos", round(
        VectorFunctions.dot(col("emb_a"), col("emb_b")) / (col("nrm_a") * col("nrm_b")), 6))
      .filter(col("cos") >= threshold)
      .select(col("id_a"), col("id_b"), col("cos"))
  }

  /** Multi-probe hyperplane LSH pairs: in addition to each band's own
    * bucket, probe the r buckets at Hamming distance 1 (one sign bit
    * flipped). A near-dup pair missed by single-probe banding is most
    * often one hyperplane's sign disagreeing in every band — exactly
    * the distance-1 neighborhood — so probing it buys the recall of
    * roughly twice the bands without another full signature exchange:
    * probe rows are (r+1)× lean (vec_id, band, bucket) triples joined
    * against BASE rows only (probe×probe would add distance-2 noise).
    *
    * Candidates are a strict superset of [[lshPairs]] at the same
    * (numPlanes, bands); exact-cosine verification keeps precision 1.0.
    */
  def lshPairsMultiProbe(embeddings: DataFrame, threshold: Double,
                         numPlanes: Int = 16, bands: Int = 4,
                         dim: Int = 64): DataFrame = {
    require(numPlanes % bands == 0)
    val r = numPlanes / bands
    val sig = spread(embeddings, dense = true).select(col("vec_id"), col("embedding"),
      VectorFunctions.norm(col("embedding")).as("nrm"),
      bandBucketArray(col("embedding"), numPlanes, bands, dim).as("bb"))
    // the signature dots are computed ONCE into the `bb` attribute;
    // base + probe rows are bit ops on that column, exactly as the
    // packed form's shift/xor were — the (r+1)× fan-out never
    // re-evaluates a hyperplane
    def bandBucket(bId: Int) = element_at(col("bb"), bId + 1)
    val rows = (0 until bands).flatMap { bId =>
      val base = struct(lit(bId).as("band"), bandBucket(bId).as("bucket"))
      val probes = (0 until r).map { j =>
        struct(lit(bId).as("band"),
          bandBucket(bId).bitwiseXOR(lit(1L << j)).as("bucket"))
      }
      base +: probes
    }
    // FIRST-COLLISION enumeration (r17, see the lshPairs note and
    // [[graft.functions.FirstCollisionPairs]]): a hyperplane bit-flip
    // probe is symmetric (bucketU ^ (1<<j) == bucketV  ⟺  bucketV ^
    // (1<<j) == bucketU) and covers EVERY distance-1 bucket, so a pair
    // collides in band b exactly when its r-bit buckets are within
    // Hamming distance 1 there — checkable from the packed signatures
    // alone (maxDist = 1), letting each pair emit once from its first
    // colliding band's canonical group with NO distinct and no
    // base/probe bookkeeping (probe×probe distance-2 noise is excluded
    // by the same popcount test the ext×base join encoded).
    val ext = sig.select(col("vec_id"),
        VectorFunctions.packBits(col("bb"), r).as("sg"),
        explode(array(rows: _*)).as("bb2"))
      .select(col("vec_id"), col("sg"),
        col("bb2.band").as("band"), col("bb2.bucket").as("bucket"))
    val parts = embeddings.sparkSession.sessionState.conf.numShufflePartitions
    val cand = ext.repartition(parts, col("band"), col("bucket"))
      .groupBy(col("band"), col("bucket"))
      .agg(collect_list(struct(col("vec_id"), col("sg"))).as("ps"))
      .select(VectorFunctions.firstCollisionPairs(col("ps"), col("band"),
          col("bucket"), r, maxDist = 1)
        .as(Seq("id_a", "id_b")))
    verifyCosine(cand, sig, threshold)
  }
}
