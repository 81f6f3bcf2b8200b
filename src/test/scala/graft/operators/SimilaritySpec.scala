package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class SimilaritySpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val emb: DataFrame =
    spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("gradeTopK: a near-tie outside the exact set is a hit under " +
      "ε-recall only, and one differing emitted cosine flips cosines_exact") {
    def frame(rows: (Long, Long, Double)*): DataFrame =
      rows.toDF("query_id", "neighbor_id", "cos")
    // exact top-2 per query; query 1's k-th exact cosine is 0.8
    val exact = frame((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 20L, 0.7), (2L, 21L, 0.6))
    // query 1 swaps neighbor 11 for 12, a near-tie at 0.7995
    val approx = frame((1L, 10L, 0.9), (1L, 12L, 0.7995),
      (2L, 20L, 0.7), (2L, 21L, 0.6))
    def grade(a: DataFrame, minRecall: Double,
              eps: Option[Double]): (Boolean, Boolean) = {
      val rows = Similarity.gradeTopK(a, exact, minRecall, eps).collect()
      rows.length shouldBe 1
      (rows.head.getAs[Boolean]("recall_ok"),
        rows.head.getAs[Boolean]("cosines_exact"))
    }
    // strict identity: 3 of 4 exact pairs found
    grade(approx, 1.0, None) shouldBe ((false, true))
    grade(approx, 0.75, None) shouldBe ((true, true))
    // ε-recall: 0.7995 >= 0.8 − 1e-3, so 12 counts; 1e-4 is too tight
    grade(approx, 1.0, Some(1e-3)) shouldBe ((true, true))
    grade(approx, 1.0, Some(1e-4)) shouldBe ((false, true))
    // one emitted cosine that differs from the reference's value
    val drifted = frame((1L, 10L, 0.9), (1L, 11L, 0.8),
      (2L, 20L, 0.7000001), (2L, 21L, 0.6))
    grade(drifted, 1.0, None) shouldBe ((true, false))
    grade(drifted, 1.0, Some(1e-3)) shouldBe ((true, false))
    grade(exact, 1.0, None) shouldBe ((true, true))
  }

  test("bruteForceTopK: ranks by cosine desc with id tiebreak, k rows per query") {
    val out = Similarity.bruteForceTopK(emb, emb.filter(col("vec_id") < 3), k = 5)
    out.groupBy("query_id").count().select("count").distinct()
      .as[Long].collect() shouldBe Array(5L)
    // rank order consistent with cosine order
    val bad = out.as("x").join(out.as("y"),
      col("x.query_id") === col("y.query_id") && (col("x.rank") < col("y.rank")) &&
        (col("x.cos") < col("y.cos"))).count()
    bad shouldBe 0
  }

  test("pairsAboveThreshold: symmetric-free (a<b), values match direct cosine") {
    val out = Similarity.pairsAboveThreshold(emb.limit(60), 0.3)
    out.filter(col("id_a") >= col("id_b")).count() shouldBe 0
    val recompute = out
      .join(emb.select(col("vec_id").as("id_a"), col("embedding").as("ea")), "id_a")
      .join(emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
      .withColumn("cos2", round(Similarity.cosine(col("ea"), col("eb")), 6))
      .filter(col("cos") =!= col("cos2"))
    recompute.count() shouldBe 0
  }

  test("lshPairs is a subset of exact pairs with identical cosines") {
    val exact = Similarity.pairsAboveThreshold(emb, 0.4)
      .withColumnRenamed("cos", "cos_exact")
    val lsh = Similarity.lshPairs(emb, 0.4)
    lsh.join(exact, Seq("id_a", "id_b"), "left_anti").count() shouldBe 0
    val joined = lsh.join(exact, Seq("id_a", "id_b"))
    joined.filter(col("cos") =!= col("cos_exact")).count() shouldBe 0
    // recall sanity on this corpus
    lsh.count().toDouble should be >= exact.count() * 0.5
  }

  test("pairPlanFor: exact at low thresholds (recall bar), banded at high " +
      "threshold + large n, exact at small n (cost)") {
    // t=0.4: the scaled geometry can't hold the recall bar at any
    // probed n — the dispatcher must refuse the banded arm
    for (n <- Seq(500L, 5000L, 50000L))
      Similarity.pairPlanFor(n, 0.4).exact shouldBe true
    // t=0.9 at large n: banded wins on cost with recall above the bar
    // (the calibrated per-candidate factor puts the crossover past the
    // n=20k regime where exact still measured faster — r13). Past
    // n≈2e5 the legacy 62-bit budget saturates; the r14 multi-word
    // escalation (scaledLshConfigWide) grows bands past it instead of
    // refusing — pinned below.
    val big = Similarity.pairPlanFor(100000L, 0.9)
    big.exact shouldBe false
    big.recall should be >= 0.97
    big.bandedCost should be < big.exactCost
    // t=0.9 at n=20k: recall fine, but exact measured faster (r12/r13
    // planted-corpus tables) and the weighted model agrees
    Similarity.pairPlanFor(20000L, 0.9).exact shouldBe true
    // t=0.9 at tiny n: recall fine, but the exact scan is cheaper
    Similarity.pairPlanFor(500L, 0.9).exact shouldBe true
    // recall bound is monotone in threshold and conservative at t=1
    Similarity.bandRecall(1.0, 8, 4, multiProbe = false) shouldBe 1.0 +- 1e-9
    Similarity.bandRecall(0.9, 8, 4, multiProbe = true) should be >
      Similarity.bandRecall(0.9, 8, 4, multiProbe = false)
  }

  test("dispatchFor stage 2: measured collision mass overrides the " +
      "uniform-optimistic banded estimate on clustered corpora") {
    import spark.implicits._
    val n = 50000
    // DEGENERATE cluster: every vector identical — all collide in one
    // bucket per band, mass = bands * n(n-1)/2. The uniform estimate
    // says banded wins at this n; the measured mass must say exact.
    val clustered = (0 until n)
      .map(i => (i.toLong, Seq.fill(8)(1.0f))).toDF("vec_id", "embedding")
    val dc = Similarity.dispatchFor(clustered, 0.9, dim = 8)
    dc.plan.bandedCost should be < dc.plan.exactCost // stage 1 would flip
    dc.mass should be > 0L                           // stage 2 measured
    dc.exact shouldBe true                           // and refused banded
    // spread-out corpus at the same n (full dim, so the hyperplane
    // sign bits decorrelate): mass lands near the uniform estimate,
    // banded genuinely wins and the dispatcher takes it
    val rnd = new scala.util.Random(7)
    val uniform = (0 until n)
      .map(i => (i.toLong, Seq.fill(64)(rnd.nextFloat() * 2 - 1)))
      .toDF("vec_id", "embedding")
    val du = Similarity.dispatchFor(uniform, 0.9, dim = 64)
    du.mass should be >= 0L
    du.exact shouldBe false
  }

  test("similarPairsAuto / knnJoinAuto: both dispatcher arms equal the " +
      "exact answer on the recall-1.0 corpus") {
    val exact = Similarity.pairsAboveThreshold(emb, 0.4)
    val auto = Similarity.similarPairsAuto(emb, 0.4) // cost picks exact here
    auto.exceptAll(exact).count() shouldBe 0
    exact.exceptAll(auto).count() shouldBe 0
    val banded = Similarity.similarPairsAuto(emb, 0.4, force = Some(false))
    banded.exceptAll(exact).count() shouldBe 0
    exact.exceptAll(banded).count() shouldBe 0
    // kNN through the dispatcher == kNN over the exact pair set
    val wantKnn = Similarity.knnJoin(emb, 0.4, k = 3, numPlanes = 32,
      bands = 16, multiProbe = true)
    val gotKnn = Similarity.knnJoinAuto(emb, 0.4, k = 3)
    gotKnn.exceptAll(wantKnn).count() shouldBe 0
    wantKnn.exceptAll(gotKnn).count() shouldBe 0
  }

  test("lshPairs high-recall configuration (16 x 2-bit bands) finds every exact pair") {
    // the gate configuration: recall 1.0 on the test corpora backs the
    // exact-pairs SQL serving as sim_lsh_pairs' oracle
    val exact = Similarity.pairsAboveThreshold(emb, 0.4)
    val lsh = Similarity.lshPairs(emb, 0.4, numPlanes = 32, bands = 16)
    exact.exceptAll(lsh).count() shouldBe 0
    lsh.exceptAll(exact).count() shouldBe 0
  }

  test("lshPairsMultiProbe is a superset of lshPairs at the same config") {
    // distance-1 probes always include the exact bucket, so every
    // single-probe candidate survives; precision stays exact
    for ((np, b) <- Seq((16, 4), (32, 8))) {
      val single = Similarity.lshPairs(emb, 0.4, np, b)
      val multi = Similarity.lshPairsMultiProbe(emb, 0.4, np, b)
      single.exceptAll(multi).count() shouldBe 0
    }
  }

  test("lshPairsMultiProbe lifts recall where single-probe misses (strained configs)") {
    val exact = Similarity.pairsAboveThreshold(emb, 0.4).count()
    // measured on the test corpora: e.g. np=16 b=4 at sf0.001 single
    // finds 35/66, multi 62/66 — the one-flipped-bit neighborhood is
    // where most banding misses live
    val gained = Seq((32, 8), (16, 4)).map { case (np, b) =>
      val s = Similarity.lshPairs(emb, 0.4, np, b).count()
      val m = Similarity.lshPairsMultiProbe(emb, 0.4, np, b).count()
      m should be >= s
      m.toDouble should be >= exact * 0.6
      m > s
    }
    // at least one strained config shows a strict gain on this corpus
    gained.exists(identity) shouldBe true
  }

  test("lshPairsMultiProbe oriented join == the legacy both-orders form (r16)") {
    // r16 halved the multi-probe candidate join by orienting it
    // (a.vec_id < b.vec_id): a hyperplane bit-flip probe is symmetric
    // (bucketU^(1<<j)==bucketV ⟺ bucketV^(1<<j)==bucketU), so every
    // d≤1 pair matches from BOTH sides and one orientation suffices.
    // The legacy both-orders join survives verbatim inside
    // crossMatches(emb, emb, multiProbe=true) — ext(left) × base(right)
    // with NO id constraint — so folding that to unordered pairs is an
    // exact reconstruction of the pre-r16 candidate set. Strained
    // configs on purpose: candidates there are a strict subset of what
    // wider configs find, so a dropped orientation would surface as a
    // missing pair.
    for ((np, b) <- Seq((16, 4), (32, 8))) {
      val legacy = Similarity.crossMatches(emb, emb, 0.4, np, b,
          multiProbe = true)
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
        .distinct()
      val oriented = Similarity.lshPairsMultiProbe(emb, 0.4, np, b)
      oriented.exceptAll(legacy).count() shouldBe 0
      legacy.exceptAll(oriented).count() shouldBe 0
    }
  }

  test("lshPairs first-collision miner == the legacy join+distinct form (r17)") {
    // r17 replaced the single-probe bucket self-join + candidate
    // distinct with grouped first-collision enumeration
    // (graft.functions.FirstCollisionPairs). The legacy join survives
    // verbatim inside crossMatches(emb, emb, multiProbe=false) — both
    // sides base buckets, no id constraint — so folding that to
    // unordered pairs reconstructs the pre-r17 candidate set exactly.
    // Strained configs on purpose: a pair dropped by the first-
    // collision dedup (or a mis-extracted packed bucket) surfaces as a
    // missing row; 96x24 exercises the multi-long packed signature.
    for ((np, b) <- Seq((32, 16), (16, 4), (96, 24))) {
      val legacy = Similarity.crossMatches(emb, emb, 0.4, np, b,
          multiProbe = false)
        .filter(col("id_a") =!= col("id_b"))
        .select(least(col("id_a"), col("id_b")).as("id_a"),
          greatest(col("id_a"), col("id_b")).as("id_b"), col("cos"))
        .distinct()
      val fc = Similarity.lshPairs(emb, 0.4, np, b)
      fc.exceptAll(legacy).count() shouldBe 0
      legacy.exceptAll(fc).count() shouldBe 0
      // the miner's candidates are exactly-once by construction: the
      // verified output must already be duplicate-free without any
      // distinct in the pipeline
      fc.count() shouldBe fc.distinct().count()
    }
  }

  test("lshPairsMultiProbe gate config (16 planes x 8 bands) finds every exact pair") {
    // sim_lsh_multiprobe's oracle claim: recall 1.0 with HALF the
    // hyperplanes of the single-probe gate (32x16) — the signature
    // pass, the scale cost at 100 TB, is half as expensive; precision
    // is exact by verification
    val exact = Similarity.pairsAboveThreshold(emb, 0.4)
    val multi = Similarity.lshPairsMultiProbe(emb, 0.4, numPlanes = 16, bands = 8)
    exact.exceptAll(multi).count() shouldBe 0
    multi.exceptAll(exact).count() shouldBe 0
  }

  test("knnJoinCross == exact cross ranking at the recall-1.0 config") {
    val left = emb.filter(pmod(col("vec_id"), lit(5)) === 0)
    val right = emb.filter(pmod(col("vec_id"), lit(5)) =!= 0)
    val got = Similarity.knnJoinCross(left, right, threshold = 0.4, k = 3,
        numPlanes = 32, bands = 16)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect().toSet
    // exact reference: every cross pair ≥ threshold, ranked per query
    import graft.functions.VectorFunctions
    val pairs = left.select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), VectorFunctions.norm(col("embedding")).as("qn"))
      .crossJoin(right.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("ce"), VectorFunctions.norm(col("embedding")).as("cn")))
      .withColumn("cos", round(VectorFunctions.dot(col("qe"), col("ce")) /
        (col("qn") * col("cn")), 6))
      .filter(col("cos") >= 0.4)
      .select("query_id", "neighbor_id", "cos")
      .as[(Long, Long, Double)].collect()
    val want = pairs.groupBy(_._1).values.flatMap { rows =>
      rows.sortBy(r => (-r._3, r._2)).take(3)
    }.toSet
    got shouldBe want
    // sides really are disjoint tables: no self pairs possible
    got.foreach { case (q, nb, _) => q % 5 shouldBe 0L; nb % 5 should not be 0L }
  }

  test("crossMatches multi-probe ⊇ single-probe at the same geometry; " +
      "precision exact; scaled config == exact cross pairs") {
    val left = emb.filter(pmod(col("vec_id"), lit(10)) =!= 0)
    val right = emb.filter(pmod(col("vec_id"), lit(10)) === 0)
    // strained geometry: wide buckets, few bands — one-sided distance-1
    // probing can only ADD candidates, never drop or corrupt one
    val single = Similarity.crossMatches(left, right, 0.4,
        numPlanes = 24, bands = 4)
      .as[(Long, Long, Double)].collect().toSet
    val multi = Similarity.crossMatches(left, right, 0.4,
        numPlanes = 24, bands = 4, multiProbe = true)
      .as[(Long, Long, Double)].collect().toSet
    multi should contain allElementsOf single
    // exact cross reference
    import graft.functions.VectorFunctions
    val exact = left.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"), VectorFunctions.norm(col("embedding")).as("na"))
      .crossJoin(right.select(col("vec_id").as("id_b"),
        col("embedding").as("eb"), VectorFunctions.norm(col("embedding")).as("nb")))
      .withColumn("cos", round(VectorFunctions.dot(col("ea"), col("eb")) /
        (col("na") * col("nb")), 6))
      .filter(col("cos") >= 0.4)
      .select("id_a", "id_b", "cos")
      .as[(Long, Long, Double)].collect().toSet
    // precision: every reported pair is a true pair (verified cosine)
    exact should contain allElementsOf multi
    // the gate's configuration: occupancy-scaled geometry + multi-probe
    // reproduces the exact cross-pair set on this corpus
    val (planes, bands) = Similarity.scaledLshConfig(left.count(),
      targetOccupancy = 64)
    val scaled = Similarity.crossMatches(left, right, 0.4,
        numPlanes = planes, bands = bands, multiProbe = true)
      .as[(Long, Long, Double)].collect().toSet
    scaled shouldBe exact
    scaled.size should be > 0
  }

  test("lshSignature rejects more than 64 planes; bandBucketArray rejects " +
      "only words over 62 bits (band count is unbounded)") {
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshSignature(col("embedding"), numPlanes = 96, dim = 64)
    // 96 planes in 24 bands = 4-bit words — VALID under the multi-word
    // layout (this exact call was the r13 saturation refusal)
    Similarity.lshPairs(emb, 0.4, numPlanes = 96, bands = 24)
      .count() should be >= 0L
    // a single band wider than 62 bits still refuses (shift semantics)
    an[IllegalArgumentException] should be thrownBy
      Similarity.lshPairs(emb, 0.4, numPlanes = 126, bands = 1)
  }

  test("bandBucketArray is bit-identical to the packed lshSignature slices " +
      "within the legacy 62-bit budget") {
    // the multi-word layout must reproduce the exact bucket values the
    // packed form produced, so every configuration the gates pinned
    // yields identical candidates — band b of (numPlanes=32, bands=8)
    // is bits [4b, 4b+4) of the 32-plane signature
    val (numPlanes, bands) = (32, 8)
    val r = numPlanes / bands
    val rows = emb.limit(50).select(
      Similarity.bandBucketArray(col("embedding"), numPlanes, bands, 64).as("bb"),
      Similarity.lshSignature(col("embedding"), numPlanes, 64).as("sig"))
    val bad = (0 until bands).map { b =>
      rows.filter(element_at(col("bb"), b + 1) =!=
        shiftright(col("sig"), b * r).bitwiseAND(lit((1L << r) - 1))).count()
    }.sum
    bad shouldBe 0L
  }

  test("scaledLshConfigWide: legacy geometry within budget, band escalation " +
      "past saturation, capped refusal at band-hostile thresholds") {
    // within the legacy budget at a recall-holding threshold: VERBATIM
    // legacy geometry (gate configurations unchanged)
    Similarity.scaledLshConfigWide(20000L, 0.9) shouldBe
      Similarity.scaledLshConfig(20000L)
    Similarity.scaledLshConfigWide(100000L, 0.9) shouldBe
      Similarity.scaledLshConfig(100000L)
    // past n≈2e5 at t=0.9: r=13 forces legacy bands to 62/13=4 and
    // recall 0.889 < bar; the wide config escalates — and picks the
    // SINGLE-probe arm (25 bands × 13 bits = 325 planes, recall bound
    // 0.972): same bar as 7 multi-probed bands at a 4.4× smaller
    // candidate stream (the sf250e run measured the multi-probe arm's
    // candidate distinct overrunning the shuffle disk) — the regime
    // the r13 dispatcher could only serve with exact O(n²)
    val (p9, b9, mp9) = Similarity.scaledLshConfigWideArm(500000L, 0.9)
    b9 shouldBe 25
    p9 shouldBe 325
    mp9 shouldBe false
    Similarity.bandRecall(0.9, p9 / b9, b9, multiProbe = false) should be >= 0.97
    // looser thresholds flip to the multi-probe arm: at t=0.8 single
    // probe needs 68 bands (past the cap) while 15 multi-probed bands
    // hold the bar
    val (p8, b8, mp8) = Similarity.scaledLshConfigWideArm(500000L, 0.8)
    b8 shouldBe 15
    p8 shouldBe 15 * (p9 / b9)
    mp8 shouldBe true
    Similarity.bandRecall(0.8, p8 / b8, b8, multiProbe = true) should be >= 0.97
    // band-hostile threshold at large n: even 32 bands can't hold the
    // bar — the capped geometry comes back and pairPlanFor refuses
    val (pl, bl) = Similarity.scaledLshConfigWide(50000L, 0.4)
    bl shouldBe 32
    Similarity.bandRecall(0.4, pl / bl, bl, multiProbe = true) should be < 0.97
  }

  test("lifted band cap admits the single-probe escalation at the " +
      "forced-gate bar (r16: sim_pairs_auto_banded geometry)") {
    // the sf0.1 forced-banded gate shape: n = 2000, t = 0.4, bar
    // 0.99999. At the default cap 32 only multi-probe escalation is
    // feasible (24 bands × 5 bits × (1+r) probe rows = 4608n modeled
    // candidates); at cap 128 the single-probe arm (110 bands × 5
    // bits) reaches the same bar at 3520n — and wins the two-arm cost
    // comparison, with no probe-row fan-out in the candidate distinct
    val (pc, bc, mpc) = Similarity.scaledLshConfigWideArm(2000L, 0.4,
      recallBar = 0.99999)
    (pc, bc, mpc) shouldBe ((120, 24, true))
    val (pw, bw, mpw) = Similarity.scaledLshConfigWideArm(2000L, 0.4,
      recallBar = 0.99999, maxBands = 128)
    (pw, bw, mpw) shouldBe ((550, 110, false))
    // the analytic per-pair miss bound at the sp geometry clears the
    // bar: (1 - p^5)^110 <= 1e-5 at p(0.4)
    Similarity.bandRecall(0.4, 5, 110, multiProbe = false) should be >= 0.99999
    // sf0.01 (n = 500): the legacy geometry already clears the bar —
    // verbatim at any cap, so the small-sf gate pins are unchanged
    Similarity.scaledLshConfigWideArm(500L, 0.4, recallBar = 0.99999,
        maxBands = 128) shouldBe
      Similarity.scaledLshConfigWideArm(500L, 0.4, recallBar = 0.99999)
  }

  test("pairPlanFor chooses banded past the legacy saturation point at " +
      "high threshold (the r13 scale-killer regime)") {
    val plan = Similarity.pairPlanFor(500000L, 0.9)
    plan.exact shouldBe false
    plan.recall should be >= 0.97
    plan.bandedCost should be < plan.exactCost
    plan.numPlanes shouldBe 325 // 25 single-probe bands × 13 bits
    plan.multiProbe shouldBe false
  }

  test("wide-config lshPairsMultiProbe (91 planes, 7 bands) executes and " +
      "keeps exact precision") {
    val exact = Similarity.pairsAboveThreshold(emb, 0.4)
      .withColumnRenamed("cos", "cos_exact")
    val wide = Similarity.lshPairsMultiProbe(emb, 0.4, numPlanes = 91, bands = 7)
    // precision: every reported pair is a true pair with the exact cosine
    wide.join(exact, Seq("id_a", "id_b"), "left_anti").count() shouldBe 0
    wide.join(exact, Seq("id_a", "id_b"))
      .filter(col("cos") =!= col("cos_exact")).count() shouldBe 0
  }

  test("cellAssign/withProbeCells kernel path (nlist > 48) is bit-identical " +
      "to the literal expression path") {
    import graft.functions.VectorFunctions
    // 64 cells: above the literal ceiling, so cellAssign/withProbeCells
    // dispatch to the broadcast-centroid mapPartitions kernel; the
    // literal expressions still EVALUATE at this size (just without the
    // codegen headroom), giving the exact reference
    val cents = Similarity.coarseCentroids(emb, nlist = 64)
    val kernelCell = Similarity.cellAssign(emb, cents, "cell")
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val literalCell = emb.select(col("vec_id"),
        Similarity.cellOf(col("embedding"), cents).as("cell"))
      .as[(Long, Int)].collect().toMap
    kernelCell shouldBe literalCell
    // probe cells: kernel (score, cid)-sort == array_sort struct slice.
    // Compared as SETS per query: collect_list order after the groupBy
    // shuffle is partition-arrival order (not probe rank), and
    // downstream the probe rows are an unordered join fan-out anyway —
    // the rank-sensitive first element is pinned by the cellAssign
    // comparison above.
    val kernelProbes = Similarity.withProbeCells(
        emb.select(col("vec_id"), col("embedding")), cents, nprobe = 4)
      .groupBy("vec_id").agg(collect_list(col("probe_cell")).as("p"))
      .as[(Long, Seq[Int])].collect().map { case (k, v) => k -> v.toSet }.toMap
    val negScores = cents.toIndexedSeq.map { case (cid, v, nrm) =>
      struct((-VectorFunctions.dot(col("embedding"), lit(v)) / lit(nrm)).as("s"),
        lit(cid).as("cid"))
    }
    val literalProbes = emb.select(col("vec_id"),
        slice(array_sort(array(negScores: _*)), 1, 4).getField("cid").as("p"))
      .as[(Long, Seq[Int])].collect().map { case (k, v) => k -> v.toSet }.toMap
    kernelProbes shouldBe literalProbes
  }

  test("ivfTopK: exact cosines, deterministic, recall vs brute force") {
    val queries = emb.filter(col("vec_id") < 10)
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16, nprobe = 4)
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
    // cosines of returned pairs are exact (same values as brute force)
    val joined = ivf.join(brute
        .select(col("query_id"), col("neighbor_id"), col("cos").as("cos_bf")),
      Seq("query_id", "neighbor_id"))
    joined.filter(col("cos") =!= col("cos_bf")).count() shouldBe 0
    // probing 4/16 cells must still find a solid share of true top-10
    val overlap = joined.count().toDouble / brute.count()
    overlap should be >= 0.3
    // determinism across partitionings
    val again = Similarity.ivfTopK(emb.repartition(7), queries, k = 10, nlist = 16, nprobe = 4)
    again.orderBy("query_id", "rank").collect() shouldBe
      ivf.orderBy("query_id", "rank").collect()
  }

  test("ivfTopK with nprobe == nlist is exhaustive (matches brute force)") {
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, queries, k = 5, nlist = 8, nprobe = 8)
      .orderBy("query_id", "rank").collect()
    val brute = Similarity.bruteForceTopK(emb, queries, k = 5)
      .orderBy("query_id", "rank").collect()
    ivf shouldBe brute
  }

  test("knnJoin multiProbe == exact kNN at the strained half-width config " +
      "where single-probe thins neighbor lists") {
    // exact kNN reference: all exact pairs, symmetric expand, rank
    val p = Similarity.pairsAboveThreshold(emb, 0.4)
    val sym = p.select(col("id_a").as("vec_id"), col("id_b").as("neighbor_id"), col("cos"))
      .unionByName(p.select(col("id_b").as("vec_id"), col("id_a").as("neighbor_id"), col("cos")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("neighbor_id"))
    val exact = sym.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    val mp = Similarity.knnJoin(emb, 0.4, k = 3, numPlanes = 16, bands = 8,
      multiProbe = true)
    mp.orderBy("vec_id", "neighbor_id").collect() shouldBe
      exact.orderBy("vec_id", "neighbor_id").collect()
    // single-probe at the same width loses pairs, so its kNN edge set
    // is a strict subset — the multi-probe option is doing real work
    val sp = Similarity.knnJoin(emb, 0.4, k = 3, numPlanes = 16, bands = 8)
    sp.count() should be < exact.count()
  }

  test("trainCentroids: Lloyd rescues recall the untrained sample loses " +
      "on a clustered corpus, and the gate config is non-vacuous") {
    val clustered = Similarity.clusteredCorpus(emb)
    val queries = clustered.filter(pmod(col("vec_id"), lit(101)) === 7)
    def checkRows(iters: Int) =
      Similarity.ivfTrainedCheck(clustered, queries, k = 10,
        nlist = 16, nprobe = 4, coarseIters = iters)
        .collect().map(r => r.getString(0) -> r.getBoolean(1)).toMap
    // untrained first-N-by-id centroids all come from ONE contiguous-id
    // cluster — the layout degenerates to one cell per blob plus
    // singletons (measured 126 vs a 31 mean = 4× imbalance), so the
    // balance invariant fails, which is what makes the trained gate's
    // passing non-vacuous. (Recall survives even there because blob
    // members co-locate; balance is the 100×-scale property the
    // untrained sample loses.)
    checkRows(0)("cell_balance") shouldBe false
    val trained = checkRows(3)
    trained("recall_at_nprobe") shouldBe true
    trained("cell_balance") shouldBe true
  }

  test("calibratedNprobe: covers the measured true-neighbor cell ranks, " +
      "floors at the analytic rule, deterministic") {
    val cents = Similarity.coarseCentroids(emb, nlist = 16, iters = 2)
    val np = Similarity.calibratedNprobe(emb, cents, k = 10, bar = 0.9,
      floor = 4)
    np should be >= 4
    np should be <= 16
    // the calibrated budget really serves the bar it was measured for:
    // probing np cells reaches >= 90% ε-recall (the contract's own
    // ann-benchmarks accounting) for the calibration-independent gate
    // queries
    val queries = emb.filter(col("vec_id") < 5)
    val ivf = Similarity.ivfTopK(emb, queries, k = 10, nlist = 16,
      nprobe = np, centsOpt = Some(cents))
    val brute = Similarity.bruteForceTopK(emb, queries, k = 10)
    val kth = brute.groupBy(col("query_id"))
      .agg(org.apache.spark.sql.functions.min(col("cos")).as("kth"))
    val hits = ivf.join(kth, "query_id")
      .filter(col("cos") >= col("kth") - 1e-3).count()
    hits.toDouble / brute.count() should be >= 0.9
    // a floor above any measured crossover binds verbatim
    Similarity.calibratedNprobe(emb, cents, k = 10, bar = 0.9,
      floor = 16) shouldBe 16
    // deterministic (bounded sample, fixed cell layout)
    Similarity.calibratedNprobe(emb, cents, k = 10, bar = 0.9,
      floor = 4) shouldBe np
  }

  test("clusteredCorpus is deterministic and preserves ids") {
    val a = Similarity.clusteredCorpus(emb).orderBy("vec_id").collect()
    val b = Similarity.clusteredCorpus(emb.repartition(7)).orderBy("vec_id").collect()
    a shouldBe b
    a.length shouldBe emb.count()
  }

  test("planeRow is deterministic and in [-1, 1]") {
    val r1 = Similarity.planeRow(3, 64)
    val r2 = Similarity.planeRow(3, 64)
    r1 shouldBe r2
    all(r1.toSeq) should (be >= -1.0 and be <= 1.0)
    Similarity.planeRow(4, 64) should not be r1
  }

  test("lshSignature stable across partitionings") {
    val s1 = emb.select(col("vec_id"), Similarity.lshSignature(col("embedding"), 16, 64).as("s"))
      .orderBy("vec_id").collect()
    val s2 = emb.repartition(7).select(col("vec_id"),
      Similarity.lshSignature(col("embedding"), 16, 64).as("s")).orderBy("vec_id").collect()
    s1 shouldBe s2
  }

  test("lowestByVecId: bounded scan == unbounded TakeOrdered; sparse ids fall back") {
    // identity on the real table (dense ids -> the bounded window wins)
    val viaBounded = Similarity.lowestByVecId(
      emb.select(col("vec_id"), col("embedding")), 16).map(_.getLong(0))
    val viaFull = emb.orderBy("vec_id").limit(16)
      .select("vec_id").collect().map(_.getLong(0))
    viaBounded shouldBe viaFull
    // the bounded branch's filter reaches the parquet scan
    val plan = emb.select(col("vec_id"), col("embedding"))
      .filter(col("vec_id") < 64).queryExecution.executedPlan.toString
    plan should include("PushedFilters")
    plan should include("LessThan(vec_id,64)")
    // sparse ids: fewer than k below 4k -> fallback still returns the
    // true k lowest
    val sparse = emb.withColumn("vec_id", col("vec_id") + 1000000L)
    Similarity.lowestByVecId(sparse.select(col("vec_id"), col("embedding")), 16)
      .map(_.getLong(0)) shouldBe
      sparse.orderBy("vec_id").limit(16).select("vec_id").collect().map(_.getLong(0))
  }
}
