package graft

import org.apache.spark.sql.functions._

/** Scale-attribution probe for the banded pair families (round-11
  * VERDICT task 2 follow-through): measures, on one corpus directory,
  *
  *  1. hyperplane-LSH pair enumeration at the FIXED 2-bit gate
  *     geometry vs the corpus-scaled geometry
  *     ([[graft.operators.Similarity.scaledLshConfig]]), plus the
  *     scaled config's measured recall against the exact all-pairs
  *     ground truth — the evidence that the quadratic term in the sf1
  *     bench is the pinned geometry, not the operator, and that the
  *     scale path (occupancy-held buckets) restores near-linear cost;
  *  2. `ngramJaccard` with and without the `maxShingleDf` index cap —
  *     the documented escape hatch for shingle-df-dense corpora, where
  *     prefix-candidate cost grows with Σ df(shingle)².
  *
  * Prints one JSON line per measurement. Not part of the gate surface
  * — a measurement tool, like Bench.
  */
object ScaleProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val threshold = args.lift(1).map(_.toDouble).getOrElse(0.4)
    // optional third arg: comma-separated section filter
    // (lsh,ngram,edit,bloom,cdc) — default all
    val sections = args.lift(2).map(_.split(",").toSet)
      .getOrElse(Set("lsh", "ngram", "edit", "bloom", "cdc", "dispatch"))
    // "planted": the r14 saturation proof — on a GenScale planted-twin
    // corpus past n ≈ 2e5 (factor ≥ 100), the dispatcher must choose
    // the BANDED arm via the multi-word escalated geometry (the r13
    // 62-bit budget could only refuse there), and the banded output's
    // measured recall against the exact planted ground truth must hold
    // the bar. Ground truth is linear: the twins are the only cos ≥
    // 0.9 pairs by construction (GenScale), and their exact cosines
    // come from one keyed join — no O(n²) reference pass needed.
    val spark = SparkEntry.session()
    // shuffle-partition override: the saturation corpora (n ≥ 5e5)
    // push ~2e9 candidate rows through the pair distinct — at 32
    // partitions that is >1 GB of hash table per task × 32 concurrent,
    // which thrashes the GC; 8× more partitions keeps each task's
    // build inside executor memory (exactly the
    // spark.sql.shuffle.partitions sizing rule the brief names)
    sys.env.get("SPARK_GRAFT_SHUFFLE")
      .foreach(spark.conf.set("spark.sql.shuffle.partitions", _))
    val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    def timed[A](what: String)(body: => A): A = {
      val c0 = osBean.getProcessCpuTime; val t0 = System.nanoTime()
      val out = body
      println(f"""{"probe":"$what","wall_sec":${(System.nanoTime() - t0) / 1e9}%.2f,"cpu_sec":${(osBean.getProcessCpuTime - c0) / 1e9}%.2f}""")
      out
    }
    import graft.operators.{Dedup, Similarity}
    // lazy: a single-table corpus (the factor-100 events-only hot-key
    // dir) must be probe-able without the other tables existing
    lazy val emb = graft.util.Tables.embeddings(spark, dir)
    lazy val n = emb.count()
    // DENSIFY ids distributedly: clusteredCorpus blobs by contiguous
    // vec_id RANGES, and GenScale's big-factor layouts (replica
    // strides + the twin offset) leave the id space so sparse that the
    // range cut collapses — so probe corpora re-rank ids 0..n-1 first.
    // A global row_number window moves ALL data to ONE task (Spark's
    // own WindowExec warning) — measured stuck >40 min sorting the 5 GB
    // factor-10000 corpus in one partition. Range-partition on vec_id,
    // sort within partitions, zipWithIndex: globally ordered dense
    // ranks with every stage distributed (zipWithIndex's indices
    // follow partition order, which the range exchange makes the
    // global vec_id order).
    def denseIds(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
      import org.apache.spark.sql.{Encoders, Row}
      import org.apache.spark.sql.types.{LongType, StructType, StructField, ArrayType, FloatType}
      val parts = spark.sessionState.conf.numShufflePartitions
      val sorted = e.select(col("vec_id"), col("embedding"))
        .repartitionByRange(parts, col("vec_id"))
        .sortWithinPartitions(col("vec_id"))
      val schema = StructType(Seq(
        StructField("vec_id", LongType, nullable = false),
        StructField("embedding", ArrayType(FloatType, containsNull = false))))
      spark.createDataFrame(
        sorted.rdd.zipWithIndex.map { case (r, i) =>
          Row(i, r.getSeq[Float](1))
        }, schema)
    }
    if (Seq("lsh", "dispatch", "planted", "ivf").exists(sections))
      println(s"""{"probe":"corpus","dir":"$dir","vectors":$n,"threshold":$threshold}""")

    if (sections("lsh")) {
    val fixed = timed(s"lsh_pairs_fixed_32x16_t$threshold")(
      Similarity.lshPairs(emb, threshold, numPlanes = 32, bands = 16).count())
    val (planes, bands) = Similarity.scaledLshConfig(n)
    val scaledPairs = Similarity.lshPairs(emb, threshold, numPlanes = planes, bands = bands)
    val scaled = timed(s"lsh_pairs_scaled_${planes}x${bands}_t$threshold")(scaledPairs.count())
    val exact = Similarity.pairsAboveThreshold(emb, threshold)
    val exactN = timed(s"lsh_pairs_exact_allpairs_t$threshold")(exact.count())
    val found = scaledPairs.select("id_a", "id_b")
      .join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi").count()
    // multi-probe over the scaled geometry: the recall-recovery path
    // (second-minimum bucket substitution) at the same near-linear cost
    // class
    val mp = Similarity.lshPairsMultiProbe(emb, threshold, numPlanes = planes, bands = bands)
    val mpN = timed(s"lsh_pairs_scaled_multiprobe_${planes}x$bands")(mp.count())
    val mpFound = mp.select("id_a", "id_b")
      .join(exact.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi").count()
    println(s"""{"probe":"lsh_recall","fixed_pairs":$fixed,"scaled_pairs":$scaled,"scaled_multiprobe_pairs":$mpN,"exact_pairs":$exactN,"scaled_found_of_exact":$found,"multiprobe_found_of_exact":$mpFound}""")
    }

    if (sections("dispatch")) {
      // the r12-task-2 dispatcher: print BOTH cost-model stages
      // (analytic uniform estimate + measured collision mass) at this
      // corpus size for the low- and high-threshold regimes, then RUN
      // the chosen path so the decision's cost lands in the record.
      // Expected: exact at t=0.4 everywhere (recall bar); at t=0.9 the
      // MEASURED mass keeps exact until the genuine crossover
      // (n ≈ 10⁵⁺ — at n = 20k exact all-pairs still beats banded on
      // the planted corpus, r12 table), where uniform-analytic alone
      // would have flipped a decade early and lost.
      for (t <- Seq(0.4, 0.9)) {
        val d = Similarity.dispatchFor(emb, t)
        println(f"""{"probe":"dispatch_plan","n":$n,"threshold":$t,"exact":${d.exact},"planes":${d.plan.numPlanes},"bands":${d.plan.bands},"est_recall":${d.plan.recall}%.4f,"exact_cost":${d.plan.exactCost}%.4g,"uniform_banded_cost":${d.plan.bandedCost}%.4g,"measured_mass":${d.mass},"measured_banded_cost":${d.measuredBandedCost}%.4g}""")
        val pairs = timed(f"dispatch_auto_t$t%.1f")(
          Similarity.similarPairsAuto(emb, t).count())
        println(s"""{"probe":"dispatch_result","threshold":$t,"pairs":$pairs}""")
      }
    }

    if (sections("planted")) {
      import graft.functions.VectorFunctions
      val maxId = emb.agg(max("vec_id")).head().getLong(0)
      val twinOff = if (maxId < 10000000000L) 500000000L else 10000000000L
      val twins = emb.filter(col("vec_id") >= twinOff)
        .select((col("vec_id") - twinOff).as("vec_id"),
          col("embedding").as("emb_t"))
      // exact cosine of every planted (base, twin) pair — one keyed
      // join, linear in the planted population
      val truth = emb.join(twins, "vec_id")
        .select(col("vec_id").as("id_a"),
          (col("vec_id") + twinOff).as("id_b"),
          round(VectorFunctions.dot(col("embedding"), col("emb_t")) /
            (VectorFunctions.norm(col("embedding")) *
             VectorFunctions.norm(col("emb_t"))), 6).as("cos"))
        .filter(col("cos") >= threshold)
      val nTruth = truth.count()
      val d = Similarity.dispatchFor(emb, threshold)
      println(f"""{"probe":"planted_dispatch","n":$n,"threshold":$threshold,"exact":${d.exact},"planes":${d.plan.numPlanes},"bands":${d.plan.bands},"est_recall":${d.plan.recall}%.4f,"exact_cost":${d.plan.exactCost}%.4g,"uniform_banded_cost":${d.plan.bandedCost}%.4g,"measured_mass":${d.mass},"measured_banded_cost":${d.measuredBandedCost}%.4g,"planted_pairs":$nTruth}""")
      val pairs = Similarity.similarPairsAuto(emb, threshold)
      val found = timed(f"planted_auto_t$threshold%.1f")(pairs.count())
      val hit = truth.select("id_a", "id_b")
        .join(pairs.select("id_a", "id_b"), Seq("id_a", "id_b"), "left_semi")
        .count()
      println(f"""{"probe":"planted_recall","found_pairs":$found,"planted_pairs":$nTruth,"planted_found":$hit,"recall":${if (nTruth == 0) 1.0 else hit.toDouble / nTruth}%.4f}""")
    }

    if (sections("ivf")) {
      // r14 task 2: the occupancy-scaled IVF geometry's two claims,
      // measured at this corpus scale — (1) the recall bar holds under
      // nlist ≈ √n + probed-mass rerank pool (pcaIvfCheck's own
      // contract row), (2) the per-query candidate mass is sublinear
      // in n (the table across sf0.01/0.1/sf25e/sf250e is the
      // evidence; the fixed-16-cell r13 shape grew it linearly).
      import graft.operators.Pca
      // the CLUSTERED corpus variant, mirroring the sim_topk_pca_ivf
      // gate: PCA-through-IVF's recall contract presumes the projection
      // has cluster structure to preserve — on a near-isotropic corpus
      // a 16-dim projection of 64 i.i.d. dims discards 3/4 of the
      // variance and NO pool holds the bar (the PcaSpec non-vacuity
      // fixture); real embedding corpora are clustered, which is what
      // clusteredCorpus deterministically reproduces at any scale
      // DENSIFY ids first: clusteredCorpus blobs by contiguous vec_id
      // RANGES, and GenScale's big-factor layouts (replica strides +
      // the 1e10 twin offset) leave the id space so sparse that the
      // range cut collapses to one giant blob + one tiny one — a
      // degenerate "clustered" corpus that benchmarks nothing. The
      // gate corpora have dense 0..n-1 ids, so this matches their
      // construction. (One global row_number window — probe-only cost.)
      val dense = denseIds(emb)
      val cemb = graft.operators.Dedup.materialize(
        Similarity.clusteredCorpus(dense))
      val (nl, np) = Similarity.scaledIvfConfig(n)
      val model = Pca.fit(cemb, 16)
      val proj = Pca.project(cemb, model, projCol = "embedding")
      val iters = Similarity.scaledIvfIters(nl)
      // past the measured 2M frontier, Lloyd refinement trains on a
      // deterministic ~256-per-centroid sample (the Faiss convention;
      // Similarity.coarseCentroids scaladoc) — full-corpus training at
      // n = 2e7 is iters·n·nlist·d ≈ 6e13 MACs for no better layout.
      // Kept at 0 through 2M so those points stay comparable with r14.
      val trainSample = if (n > 3000000L) 256L * nl else 0L
      val cents = timed(s"ivf_train_${nl}x$iters")(
        Similarity.coarseCentroids(proj, nl, iters = iters,
          trainSample = trainSample))
      // BOTH arms grade on the SAME deterministic spread slice (the
      // sample ivfResidualCheck uses, disjoint from the residue-7
      // calibration slice) — the r14 comparison graded the
      // global arm on the consecutive-low-id slice its own PR
      // documents as a pessimistic blob-fringe artifact, so its
      // red/green verdicts were not measured on a population
      // comparable with the residual arm's (r14 ADVICE item).
      val gradedQ = Similarity.spreadSample(cemb)
      val check = timed("ivf_pca_check")(
        Pca.pcaIvfCheck(cemb, coarseIters = iters, modelOpt = Some(model),
          centsOpt = Some(cents), queriesOpt = Some(gradedQ)).head())
      val nq = math.max(gradedQ.count(), 1L)
      val cand = Similarity.probedCandidateCount(proj, gradedQ, cents,
        math.max(8, np))
      println(s"""{"probe":"ivf_scaled","n":$n,"nlist":$nl,"nprobe":${math.max(8, np)},"recall_ok":${check.getBoolean(0)},"cosines_exact":${check.getBoolean(1)},"candidates_per_query":${cand / nq},"corpus_fraction":${"%.4f".format(cand.toDouble / nq / n)}}""")

      // the global arm at its own MEASURED budget: what nprobe does the
      // global-projection ranking need to reach the same bar the
      // residual arm holds — or does no budget up to nlist reach it
      // (the ranking-bound verdict)? Prints the calibrated budget and
      // the re-checked verdict at it, comparable line-for-line with
      // ivf_rproj below.
      val gbudget = timed("ivf_scaled_calibrate")(
        Pca.calibratePcaIvfBudget(cemb, model, cents,
          floor = math.max(8, np)))
      val gnp = gbudget.nprobe
      val gcheck = timed("ivf_scaled_check_calibrated")(
        Pca.pcaIvfCheck(cemb, nlist = nl, nprobe = gnp, coarseIters = iters,
          modelOpt = Some(model), centsOpt = Some(cents),
          queriesOpt = Some(gradedQ)).head())
      val gcand = Similarity.probedCandidateCount(proj, gradedQ, cents, gnp)
      println(s"""{"probe":"ivf_scaled_calibrated","n":$n,"nlist":$nl,"nprobe":$gnp,"budget_measured_ok":${gbudget.ok},"recall_ok":${gcheck.getBoolean(0)},"cosines_exact":${gcheck.getBoolean(1)},"candidates_per_query":${gcand / nq},"corpus_fraction":${"%.4f".format(gcand.toDouble / nq / n)}}""")

      // r14 follow-through: the per-cell RESIDUAL projection arm (the
      // IVF-residual recipe) at the same scaled geometry and budgets —
      // the named fix for the 505k frontier, where the global 16-dim
      // projection's within-blob ranking noise missed the ε-recall bar
      // at every budget. Same clustered corpus, same query sample,
      // same candidate measurement, so the two ranking designs print
      // comparable rows.
      val rmodel = timed(s"ivf_rproj_fit_${nl}x$iters")(
        Pca.fitIvfResidual(cemb, kDims = 16, nlist = nl,
          coarseIters = iters, trainSample = trainSample))
      // the SERVING INDEX, built once and reused by every ladder rung
      // and the final check — at 2e7 the per-call index pass
      // (n·nlist·d MACs) dwarfs the searches, so build-once is the
      // only honest way to time the serving path (and the shape a
      // deployment runs: the index IS the persisted artifact)
      val ridx = timed("ivf_rproj_index")(
        graft.operators.Dedup.materialize(
          Pca.buildResidualIndex(cemb, rmodel)))
      // the measured probe-recall calibration the check's sentinel
      // resolves to — computed here explicitly so the probed budget
      // and candidate mass print alongside the verdict
      val rbudget = timed("ivf_rproj_calibrate")(
        Pca.calibrateResidualBudget(cemb, rmodel, k = 10, bar = 0.9,
          floor = math.max(8, np), indexOpt = Some(ridx)))
      val rnp = rbudget.nprobe
      val rcheck = timed("ivf_rproj_check")(
        Pca.ivfResidualCheck(cemb, nprobe = rnp,
          modelOpt = Some(rmodel), indexOpt = Some(ridx)).head())
      val rcand = Similarity.probedCandidateCount(cemb, gradedQ,
        rmodel.cents, rnp)
      println(s"""{"probe":"ivf_rproj","n":$n,"nlist":$nl,"nprobe":$rnp,"budget_measured_ok":${rbudget.ok},"recall_ok":${rcheck.getBoolean(0)},"cosines_exact":${rcheck.getBoolean(1)},"candidates_per_query":${rcand / nq},"corpus_fraction":${"%.4f".format(rcand.toDouble / nq / n)}}""")

      // r15: the serving dispatcher's choice at this scale, from the
      // two measured budgets above (annDispatchFrom — no re-ladder).
      // The verdict task: the residual arm must be the ENGINE's
      // choice, not the caller's, wherever the measurements favor it.
      val disp = Pca.annDispatchFrom(gbudget, rbudget, nl, n)
      println(s"""{"probe":"ann_dispatch","n":$n,"nlist":$nl,"arm":"${if (disp.residual) "residual" else "global"}","global_nprobe":$gnp,"global_ok":${gbudget.ok},"residual_nprobe":$rnp,"residual_ok":${rbudget.ok}}""")

      // r15: CROSS-SET serving at the residual geometry (the
      // semantic-decon / label-propagation workhorse) — a disjoint
      // spread query split (`Similarity.inSpreadSlice`) probing the
      // frozen rest-of-corpus, contract-checked vs the exact cross
      // reference. One model fit on the corpus split; calibration
      // inside the check.
      val rcorpus = graft.operators.Dedup.materialize(
        cemb.filter(!Similarity.inSpreadSlice))
      val rqueries = cemb.filter(Similarity.inSpreadSlice)
      val xmodel = timed("ivf_cross_fit")(
        Pca.fitIvfResidual(rcorpus, kDims = 16, trainSample = trainSample))
      val xidx = timed("ivf_cross_index")(
        graft.operators.Dedup.materialize(
          Pca.buildResidualIndex(rcorpus, xmodel)))
      val xbudget = timed("ivf_cross_calibrate")(
        Pca.calibrateResidualBudget(rcorpus, xmodel,
          floor = math.max(8, np), indexOpt = Some(xidx)))
      val xnp = xbudget.nprobe
      val xcheck = timed("ivf_cross_check")(
        Pca.ivfResidualCrossCheck(rcorpus, rqueries, nprobe = xnp,
          modelOpt = Some(xmodel), indexOpt = Some(xidx)).head())
      println(s"""{"probe":"ivf_rproj_cross","n":$n,"nlist":${xmodel.nlist},"nprobe":$xnp,"recall_ok":${xcheck.getBoolean(0)},"cosines_exact":${xcheck.getBoolean(1)}}""")
    }

    if (sections("ivfbig")) {
      // r15 VERDICT task 5: the residual arm one decade past the 2.02M
      // frontier (n ≈ 2e7). RESIDUAL-ONLY by design: the global arm is
      // already measured RANKING-BOUND at 2M (flat quarter of the
      // corpus per query, ladder exhausted) — re-laddering it here
      // would cost hours to re-prove a settled verdict, so the probe
      // spends the box on the arm whose trend is the claim. Train on
      // the deterministic 256-per-centroid sample (Faiss convention —
      // see coarseCentroids), build the serving index ONCE, calibrate
      // and check against it; prints the same row shape as ivf_rproj
      // plus the train/index/calibrate cost split.
      import graft.operators.Pca
      val dense = denseIds(emb)
      val cemb = graft.operators.Dedup.materialize(
        Similarity.clusteredCorpus(dense))
      val (nl, np) = Similarity.scaledIvfConfig(n)
      val iters = Similarity.scaledIvfIters(nl)
      val ts = 256L * nl
      val rmodel = timed(s"ivfbig_fit_${nl}x${iters}_s$ts")(
        Pca.fitIvfResidual(cemb, kDims = 16, nlist = nl,
          coarseIters = iters, trainSample = ts))
      val ridx = timed("ivfbig_index")(
        graft.operators.Dedup.materialize(
          Pca.buildResidualIndex(cemb, rmodel)))
      val rbudget = timed("ivfbig_calibrate")(
        Pca.calibrateResidualBudget(cemb, rmodel, k = 10, bar = 0.9,
          floor = math.max(8, np), indexOpt = Some(ridx)))
      val rnp = rbudget.nprobe
      val rcheck = timed("ivfbig_check")(
        Pca.ivfResidualCheck(cemb, nprobe = rnp,
          modelOpt = Some(rmodel), indexOpt = Some(ridx)).head())
      val gradedQ = Similarity.spreadSample(cemb)
      val nq = math.max(gradedQ.count(), 1L)
      val rcand = Similarity.probedCandidateCount(cemb, gradedQ,
        rmodel.cents, rnp)
      println(s"""{"probe":"ivf_rproj","n":$n,"nlist":$nl,"nprobe":$rnp,"budget_measured_ok":${rbudget.ok},"recall_ok":${rcheck.getBoolean(0)},"cosines_exact":${rcheck.getBoolean(1)},"candidates_per_query":${rcand / nq},"corpus_fraction":${"%.4f".format(rcand.toDouble / nq / n)}}""")
      // cross-set at the same decade (own flag: the cross half refits
      // and re-indexes the residue-split corpus — a second full index
      // pass the probe run can defer when the box budget is tight)
      if (sections("ivfbigx")) {
        val rcorpus = graft.operators.Dedup.materialize(
          cemb.filter(!Similarity.inSpreadSlice))
        val xmodel = timed("ivfbig_cross_fit")(
          Pca.fitIvfResidual(rcorpus, kDims = 16, trainSample = ts))
        val xidx = timed("ivfbig_cross_index")(
          graft.operators.Dedup.materialize(
            Pca.buildResidualIndex(rcorpus, xmodel)))
        val xbudget = timed("ivfbig_cross_calibrate")(
          Pca.calibrateResidualBudget(rcorpus, xmodel,
            floor = math.max(8, np), indexOpt = Some(xidx)))
        val xcheck = timed("ivfbig_cross_check")(
          Pca.ivfResidualCrossCheck(rcorpus,
            cemb.filter(Similarity.inSpreadSlice),
            nprobe = xbudget.nprobe, modelOpt = Some(xmodel),
            indexOpt = Some(xidx)).head())
        println(s"""{"probe":"ivf_rproj_cross","n":$n,"nlist":${xmodel.nlist},"nprobe":${xbudget.nprobe},"recall_ok":${xcheck.getBoolean(0)},"cosines_exact":${xcheck.getBoolean(1)}}""")
      }
    }

    if (sections("ivfsweep")) {
      // diagnosis harness for the 505k residual-arm miss: fit the
      // residual model once, then sweep nprobe to separate PROBE loss
      // (candidates too narrow — recall rises with nprobe) from
      // RANKING loss (recall flat in nprobe)
      import graft.operators.Pca
      val dense = denseIds(emb)
      val cemb = graft.operators.Dedup.materialize(
        Similarity.clusteredCorpus(dense))
      val (nl, np0) = Similarity.scaledIvfConfig(n)
      val iters = Similarity.scaledIvfIters(nl)
      val rmodel = timed(s"ivfsweep_fit_${nl}x$iters")(
        Pca.fitIvfResidual(cemb, kDims = 16, nlist = nl, coarseIters = iters))
      for (np <- Seq(math.max(8, np0), 2 * np0, 4 * np0, 8 * np0, 16 * np0)
             .distinct.filter(_ <= nl)) {
        val row = timed(s"ivfsweep_check_np$np")(
          Pca.ivfResidualCheck(cemb, nprobe = np,
            modelOpt = Some(rmodel)).head())
        println(s"""{"probe":"ivfsweep","n":$n,"nlist":$nl,"nprobe":$np,"recall_ok":${row.getBoolean(0)},"cosines_exact":${row.getBoolean(1)}}""")
      }
    }

    if (sections("dwidth")) {
      // r15 VERDICT task 4: embedding width as a MEASURED axis — the
      // d = 64 corpus widened 4× by cosine-preserving diagonal ±1
      // copies (every pairwise cosine identical by construction, so
      // any recall movement is the width itself, not a new geometry).
      // Prints the residual family's fit/calibrate/check costs and the
      // dispatcher's derived-d cost split at d = 256.
      import graft.operators.Pca
      val dense = denseIds(emb)
      val wide = graft.operators.Dedup.materialize(
        Similarity.clusteredCorpus(dense).withColumn("embedding",
          concat((0 until 4).map(j =>
            transform(col("embedding"), (x, i) =>
              when(pmod(i + lit(j), lit(3)) === 0, -x).otherwise(x))): _*)))
      val (nl, np) = Similarity.scaledIvfConfig(n)
      val iters = Similarity.scaledIvfIters(nl)
      val rmodel = timed(s"dwidth_fit_${nl}x$iters")(
        Pca.fitIvfResidual(wide, kDims = 16, nlist = nl,
          coarseIters = iters))
      val budget = timed("dwidth_calibrate")(
        Pca.calibrateResidualBudget(wide, rmodel, floor = math.max(8, np)))
      val row = timed("dwidth_check")(
        Pca.ivfResidualCheck(wide, nprobe = budget.nprobe,
          modelOpt = Some(rmodel)).head())
      println(s"""{"probe":"dwidth","n":$n,"d":${rmodel.d},"nlist":$nl,"nprobe":${budget.nprobe},"budget_ok":${budget.ok},"recall_ok":${row.getBoolean(0)},"cosines_exact":${row.getBoolean(1)}}""")
      val cd = Pca.crossDispatch(wide, nQueries = 32L,
        rmodelOpt = Some(rmodel), budgetOpt = Some(budget))
      println(s"""{"probe":"dwidth_dispatch","n":$n,"d":${rmodel.d},"cost_banded":${cd.analyticBanded},"cost_residual":${cd.analyticResidual},"arm":"${if (cd.residual) "residual" else "banded"}"}""")
      // r16: the REDUCED layout on the same corpus — in-engine width
      // reduction (d = 256 → dRed = 32, half the true rank, genuinely
      // lossy) with candidates in reduced space and full-width exact
      // rerank; budget from the measured ladder, contract graded
      // vs the full-width exact reference. Compares directly against
      // the full-width rows above: same corpus, same bar.
      val wmodel = timed(s"dwidth_wide_fit_${nl}x$iters")(
        Pca.fitIvfResidual(wide, kDims = 16, nlist = nl,
          coarseIters = iters, dRed = 32))
      val wbudget = timed("dwidth_wide_calibrate")(
        Pca.calibrateResidualBudget(wide, wmodel,
          floor = math.max(8, np)))
      val wrow = timed("dwidth_wide_check")(
        Pca.ivfResidualCheck(wide, nprobe = wbudget.nprobe,
          modelOpt = Some(wmodel)).head())
      println(s"""{"probe":"dwidth_wide","n":$n,"d":${wmodel.reducer.get.d},"d_red":${wmodel.d},"nlist":$nl,"nprobe":${wbudget.nprobe},"budget_ok":${wbudget.ok},"recall_ok":${wrow.getBoolean(0)},"cosines_exact":${wrow.getBoolean(1)}}""")
    }

    if (sections("dwidth768")) {
      // r16: the REFUSED regime served at scale — d = 768 at the
      // occupancy-scaled nlist, where the plain residual fit's
      // worst-case per-task accumulator provably exceeds the moment
      // budget (the plan-time refusal demonstrated in the specs), so
      // ONLY the reduced layout exists. Widen 12× cosine-preserving and
      // run the reduced residual family end-to-end: the line that turns
      // "the refusal names a workaround" into "the workaround holds its
      // contract at n = 5e5".
      import graft.operators.Pca
      val dense = denseIds(emb)
      val wide = graft.operators.Dedup.materialize(
        Similarity.clusteredCorpus(dense).withColumn("embedding",
          concat((0 until 12).map(j =>
            transform(col("embedding"), (x, i) =>
              when(pmod(i + lit(j), lit(3)) === 0, -x).otherwise(x))): _*)))
      val (nl, np) = Similarity.scaledIvfConfig(n)
      val refusedBytes = nl.toLong * (1L + 768L + 768L * 769L / 2L) * 8L
      println(s"""{"probe":"dwidth768_refusal","nlist":$nl,"plain_moment_bytes":$refusedBytes,"budget":${Pca.maxMomentTaskBytes},"plain_refused":${refusedBytes > Pca.maxMomentTaskBytes}}""")
      val iters = Similarity.scaledIvfIters(nl)
      val wmodel = timed(s"dwidth768_wide_fit_${nl}x$iters")(
        Pca.fitIvfResidual(wide, kDims = 16, nlist = nl,
          coarseIters = iters, dRed = 32))
      val wbudget = timed("dwidth768_wide_calibrate")(
        Pca.calibrateResidualBudget(wide, wmodel,
          floor = math.max(8, np)))
      val wrow = timed("dwidth768_wide_check")(
        Pca.ivfResidualCheck(wide, nprobe = wbudget.nprobe,
          modelOpt = Some(wmodel)).head())
      println(s"""{"probe":"dwidth768_wide","n":$n,"d":${wmodel.reducer.get.d},"d_red":${wmodel.d},"nlist":$nl,"nprobe":${wbudget.nprobe},"budget_ok":${wbudget.ok},"recall_ok":${wrow.getBoolean(0)},"cosines_exact":${wrow.getBoolean(1)}}""")
    }

    if (sections("alerts")) {
      // r14 task 6: the hot-key slice-and-stitch plan vs the
      // one-task-per-key batch shape, on the adversarial input the
      // Alerts scaladoc names — ONE key owning the whole corpus
      // (events collapsed onto a single symbol). TWO regimes, both
      // reported because the plan's economics differ honestly:
      //  - sparse alerts (high minMove): most slices classify
      //    PASS/ADOPT from scalars, so the cost is ~one parallel
      //    phase-1 job — the sort/scan that serialized in one task
      //    now runs `slices`-way. This is the win regime.
      //  - dense alerts (low minMove): the reference resets every few
      //    rows, nearly every slice's first passage diverges from its
      //    fresh chain, and the batched rescans re-serialize the scan
      //    with per-job overhead on top — the batch shape stays the
      //    right plan there (alerts ~= corpus means the OUTPUT is the
      //    bottleneck, not the sort). The stitch-class counters
      //    (GRAFT_PROBE) make the regime visible per run.
      import graft.operators.Alerts
      val ev = graft.util.Tables.events(spark, dir)
        .withColumn("event_type", lit("HOT"))
      for (m <- Seq(450.0, 150.0)) {
        val un = timed(f"alerts_hotkey_unsliced_m$m%.0f")(
          Alerts.thresholdAlerts(ev, "event_type", "ts", "event_id",
            "value", m).count())
        val sl = timed(f"alerts_hotkey_sliced32_m$m%.0f")(
          Alerts.thresholdAlertsSliced(ev, "event_type", "ts", "event_id",
            "value", m, slices = 32).count())
        println(s"""{"probe":"alerts_hotkey","min_move":$m,"unsliced_alerts":$un,"sliced_alerts":$sl}""")
      }
    }

    // lazy like `emb`: an embeddings-only corpus dir (the ivf/ivfbig
    // saturation corpora) must be probe-able without documents existing
    lazy val docs = graft.util.Tables.documents(spark, dir)
    if (sections("ngram")) {
    val full = timed("ngram_jaccard_uncapped")(
      Dedup.ngramJaccard(docs, n = 2, threshold = 0.5).count())
    // the capped path REFUSES when the cap would gut recall on this
    // corpus (the r12 loss-budget guard) — a refusal is itself the
    // measurement: the escape hatch is inapplicable here
    val capped = timed("ngram_jaccard_dfcap200")(
      try Right(Dedup.ngramJaccard(docs, n = 2, threshold = 0.5,
        maxShingleDf = 200).count())
      catch { case e: IllegalArgumentException => Left(e.getMessage.take(120)) })
    capped match {
      case Right(c) =>
        println(s"""{"probe":"jaccard_pairs","uncapped":$full,"dfcap200":$c}""")
      case Left(m) =>
        println(s"""{"probe":"jaccard_pairs","uncapped":$full,"dfcap200":"REFUSED: $m"}""")
    }

    // 3. the r12 dense-regime decision for the ngram pair family: the
    // prefix-scaled expected random-pair overlap picks the df-ordered
    // prefix index or the triangle-blocked exact all-pairs. Print the
    // statistic and BOTH paths' cost at the gate thresholds, so a
    // deployment can re-derive the cutoff's validity on its corpus.
    val (nd, density) = graft.operators.Dedup.shingleOverlapDensity(docs, 2)
    println(s"""{"probe":"ngram_density","docs":$nd,"density":$density,""" +
      s""""prefix_scaled_jaccard_t0.5":${density * 0.5 * (1 - 1.0 / 1.5)},""" +
      s""""prefix_scaled_containment_t0.4":${density * 0.6}}""")
    val prevCutoff = Dedup.denseOverlapCutoff
    try {
      for ((tag, t) <- Seq(("jaccard", 0.5), ("containment", 0.4))) {
        def run() = (if (tag == "jaccard") Dedup.ngramJaccard(docs, 2, t)
                     else Dedup.ngramContainment(docs, 2, t)).count()
        Dedup.denseOverlapCutoff = Double.MaxValue
        val idx = timed(s"ngram_${tag}_index_t$t")(run())
        Dedup.denseOverlapCutoff = 0.0
        val blocked = timed(s"ngram_${tag}_allpairs_t$t")(run())
        println(s"""{"probe":"ngram_paths","op":"$tag","index_pairs":$idx,"allpairs_pairs":$blocked}""")
      }
    } finally Dedup.denseOverlapCutoff = prevCutoff
    }

    if (sections("bloom")) {
    // 5. Bloom-prefiltered decon vs the exact containment path at the
    // gate config (%10 benchmark split, n=2, t=0.5): the prefilter's
    // claim is that only the contamination-adjacent corpus sliver ever
    // reaches the containment join — on a 10× corpus the exact path's
    // index join grows with the corpus while the bloom path grows with
    // the (bounded) overlap, so the CPU ratio is the 100 TB argument
    // in miniature. Survivor equality is separately gate-pinned
    // (cur_decon_bloom shares the exact oracle); here both counts
    // print so a divergence would be visible in the probe too.
    val bc = docs.filter(col("doc_id") % 10 =!= 0)
    val bb = docs.filter(col("doc_id") % 10 === 0)
    val exactSurv = timed("decon_containment_exact")(
      graft.operators.Curation.decontaminateByContainment(
        bc, bb, n = 2, threshold = 0.5).count())
    val bloomSurv = timed("decon_containment_bloom")(
      graft.operators.Curation.decontaminateByBloom(
        bc, bb, n = 2, threshold = 0.5).count())
    println(s"""{"probe":"bloom_decon","exact_survivors":$exactSurv,"bloom_survivors":$bloomSurv}""")

    // 5b. the same pair at the REALISTIC geometry — a bounded eval
    // suite (0.5% split) against the big corpus. The %10 split above
    // makes half the corpus contamination-adjacent, so both paths pay
    // the containment join on a corpus-sized input; here the bloom
    // path's join input is the genuinely small adjacent sliver while
    // the exact path still runs the full corpus through the index
    // join — THIS ratio is the 100 TB argument.
    // n sweeps selectivity: word bigrams on a template-vocab corpus
    // are shared by almost every doc (the prefilter can't prune what
    // everything contains), while longer shingles are selective — the
    // GPT-3/Pile decon recipe uses 13-grams for exactly this reason.
    val sc2 = docs.filter(col("doc_id") % 200 =!= 0)
    val sb2 = docs.filter(col("doc_id") % 200 === 0)
    for (nn <- Seq(2, 3, 5)) {
      val exactSurv2 = timed(s"decon_small_bench_exact_n$nn")(
        graft.operators.Curation.decontaminateByContainment(
          sc2, sb2, n = nn, threshold = 0.5).count())
      val bloomSurv2 = timed(s"decon_small_bench_bloom_n$nn")(
        graft.operators.Curation.decontaminateByBloom(
          sc2, sb2, n = nn, threshold = 0.5).count())
      println(s"""{"probe":"bloom_decon_small","n":$nn,"exact_survivors":$exactSurv2,"bloom_survivors":$bloomSurv2}""")
    }
    }

    if (sections("dsir")) {
      // r14 VERDICT task 7: DSIR at sf1 — the newest heavy curation
      // family and the center of the r14 drift mystery (its driver CPU
      // line read 11× band; the quiet-box solo settled it as box
      // contention). The probe measures what the r13-ADVICE
      // materialize-once fix claims: the whole scoring run is a
      // BOUNDED number of Spark jobs/passes whatever the corpus size
      // (two gram fan-outs + ≤4096-key aggs + one broadcast llr join),
      // and the store lifecycle (build + extends + score-against-store)
      // reproduces from-scratch scoring exactly at this sf.
      import graft.operators.Curation
      val target = docs.filter(col("doc_id") % 10 === 0)
      val raw = docs.filter(col("doc_id") % 10 =!= 0)
      val jobs = new java.util.concurrent.atomic.AtomicLong()
      val sl = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      spark.sparkContext.addSparkListener(sl)
      val j0 = jobs.get()
      val w = timed("dsir_log_weights")(
        graft.operators.Dedup.materialize(
          Curation.dsirLogWeights(raw, target)))
      val nScored = w.count()
      val jUsed = jobs.get() - j0
      println(s"""{"probe":"dsir_weights","docs":$nScored,"spark_jobs":$jUsed}""")
      spark.sparkContext.removeSparkListener(sl)
      // store lifecycle at this sf: target split into 3 ledgered
      // tranches (one re-delivered), scored read-only — must equal
      // from-scratch exactly (count summation IS the union)
      val store = graft.util.Scratch.dir("dsir-probe-").toString
      val t = pmod(col("doc_id"), lit(3))
      timed("dsir_store_lifecycle") {
        val dsir = Curation.dsirStore(store)
        dsir.build(target.filter(t === 0))
        dsir.extend(target.filter(t === 1), Some("t1"))
        dsir.extend(target.filter(t === 2), Some("t2"))
        dsir.extend(target.filter(t === 1), Some("t1"))
      }
      val viaStore = timed("dsir_against_store")(
        graft.operators.Dedup.materialize(
          Curation.dsirAgainstStore(raw, store)))
      val diff = viaStore.exceptAll(w).count() + w.exceptAll(viaStore).count()
      println(s"""{"probe":"dsir_store","docs":${viaStore.count()},"diff_vs_scratch":$diff}""")
    }

    if (sections("cdc")) {
    // 6. the r12-session-4 map-only families at 10×: CDC chunk dedup
    // (one in-array pass + two hash exchanges) and novelty scoring
    // (one gram-keyed left join) should both track the input ~linearly
    // — the probe makes that checkable instead of asserted.
    val cdcSurv = timed("cdc_chunk_dedup")(
      graft.operators.Dedup.dedupChunksCdc(docs).count())
    println(s"""{"probe":"cdc","rows":$cdcSurv}""")
    val novCnt = timed("novelty_score")(
      graft.operators.TextOps.noveltyScore(
        docs.filter(col("doc_id") % 10 === 0),
        docs.filter(col("doc_id") % 10 =!= 0), n = 2).count())
    println(s"""{"probe":"novelty","rows":$novCnt}""")
    }

    if (sections("edit")) {
    // 4. edit-join family at the gate config (32-char keys, d=2):
    // Pass-Join segment candidates — verbatim ~len/(d+1)-char
    // substring keys; the self-join and the %10 cross-set decon split
    // are both measured so a 10× corpus exposes any quadratic term
    val keyed = docs.select(col("doc_id"),
      substring(col("text"), 1, 32).as("k"))
    val editPairs = timed("edit_join_d2_32key")(
      Dedup.editDistanceJoin(keyed, "k", maxDist = 2).count())
    val ec = keyed.filter(col("doc_id") % 10 =!= 0)
    val eb = keyed.filter(col("doc_id") % 10 === 0)
    val acrossPairs = timed("edit_join_across_d2")(
      Dedup.editDistanceJoinAcross(ec, eb, "k", maxDist = 2).count())
    println(s"""{"probe":"edit_join","self_pairs":$editPairs,"cross_pairs":$acrossPairs}""")
    }
    spark.stop()
  }
}
