package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class CurationSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val docs =
    spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("contaminationReport finds planted n-gram overlap; decontaminate removes it") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely unrelated text with no overlap here at all"),
      (3L, "another clean document about spark and scala engines")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "we ask whether the quick brown fox can jump")
    ).toDF("doc_id", "text")

    val report = Curation.contaminationReport(corpus, bench, n = 3, minShared = 1)
      .collect()
    report.map(r => (r.getLong(0), r.getLong(1))) shouldBe Array((1L, 100L))
    // doc 1 shares exactly "the quick brown" and "quick brown fox"
    report.head.getLong(2) shouldBe 2L

    val clean = Curation.decontaminate(corpus, bench, n = 3)
    clean.select("doc_id").as[Long].collect().sorted shouldBe Array(2L, 3L)
  }

  test("hashSplit: complete, disjoint, deterministic, roughly proportional") {
    val split = Curation.hashSplit(docs, "doc_id")
    split.count() shouldBe docs.count()
    val byName = split.groupBy("split").count().as[(String, Long)].collect().toMap
    byName.keySet.subsetOf(Set("train", "val", "test")) shouldBe true
    // 500 docs at 80/10/10: generous tolerance, just proportionality
    byName("train").toDouble / docs.count() should be(0.8 +- 0.1)
    // deterministic under repartitioning
    val again = Curation.hashSplit(docs.repartition(7), "doc_id")
    again.select("doc_id", "split").exceptAll(split.select("doc_id", "split"))
      .count() shouldBe 0
  }

  test("sampleByHash is a stable subset matching the split machinery") {
    val s = Curation.sampleByHash(docs, "doc_id", 0.25)
    s.count().toDouble / docs.count() should be(0.25 +- 0.1)
    // subset of the full table, stable across runs
    s.exceptAll(Curation.sampleByHash(docs.repartition(5), "doc_id", 0.25))
      .count() shouldBe 0
  }

  test("chunkDocuments: stride windows with overlap, clipped tail, " +
      "short doc = one chunk") {
    val docs = Seq(
      (1L, (1 to 10).map(i => s"w$i").mkString(" ")), // 10 tokens
      (2L, "a b c")
    ).toDF("doc_id", "text")
    val out = Curation.chunkDocuments(docs, chunkTokens = 4, overlapTokens = 1)
      .orderBy("doc_id", "chunk_id").collect()
    // doc 1: stride 3 → starts 0,3,6 fully cover; (10-4)/3 → ceil(2)=2 → 3 chunks
    val d1 = out.filter(_.getLong(0) == 1L)
    d1.map(_.getString(3)) shouldBe Array(
      "w1 w2 w3 w4", "w4 w5 w6 w7", "w7 w8 w9 w10")
    d1.map(_.getLong(2)) shouldBe Array(4L, 4L, 4L)
    // consecutive chunks share exactly the overlap token
    // doc 2 fits the budget: one chunk, clipped
    val d2 = out.filter(_.getLong(0) == 2L)
    d2.map(_.getString(3)) shouldBe Array("a b c")
    d2.map(_.getLong(2)) shouldBe Array(3L)
  }

  test("chunkDocuments clips a tail shorter than the window") {
    val docs = Seq((1L, (1 to 6).map(i => s"w$i").mkString(" ")))
      .toDF("doc_id", "text") // 6 tokens, chunk 4, overlap 0 → 4 + 2
    val out = Curation.chunkDocuments(docs, chunkTokens = 4, overlapTokens = 0)
      .orderBy("chunk_id").collect()
    out.map(_.getString(3)) shouldBe Array("w1 w2 w3 w4", "w5 w6")
    out.map(_.getLong(2)) shouldBe Array(4L, 2L)
  }

  test("temperatureSample flattens the mixture: smallest stratum kept " +
      "whole, dominant cut hardest, T=1 keeps everything") {
    val docs = (1L to 800L).map(i => (i, if (i <= 640) "en" else if (i <= 760) "de" else "zh"))
      .toDF("doc_id", "lang")
    // T=1 → every keep-fraction is 1
    Curation.temperatureSample(docs, "lang", "doc_id", 1.0).count() shouldBe 800
    val t2 = Curation.temperatureSample(docs, "lang", "doc_id", 2.0)
    val kept = t2.groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    // smallest stratum (zh, 40 rows) keeps ~all; en is cut hardest
    kept("zh").toDouble should be >= 35.0
    val fracEn = kept("en").toDouble / 640
    val fracDe = kept("de").toDouble / 120
    val fracZh = kept("zh").toDouble / 40
    fracEn should be < fracDe
    fracDe should be < fracZh
    // expected fractions: (p_l)^(1/2-1) normalized — en ~ sqrt(40/640)=0.25
    fracEn shouldBe 0.25 +- 0.06
    // deterministic under re-partitioning
    Curation.temperatureSample(docs.repartition(7), "lang", "doc_id", 2.0)
      .orderBy("doc_id").collect() shouldBe t2.orderBy("doc_id").collect()
  }

  test("mixtureSample: per-stratum fractions, nested and deterministic") {
    val mix = Curation.mixtureSample(docs, "lang", "doc_id",
      Map("en" -> 1.0, "de" -> 0.25))
    val kept = mix.groupBy("lang").count().as[(String, Long)].collect().toMap
    val full = docs.groupBy("lang").count().as[(String, Long)].collect().toMap
    kept("en") shouldBe full("en") // fraction 1.0 keeps everything
    kept.getOrElse("zh", 0L) shouldBe 0L // absent stratum dropped
    kept("de").toDouble / full("de") should be(0.25 +- 0.15)
    // nested: the 0.25 sample is a subset of the 0.5 sample
    val half = Curation.mixtureSample(docs, "lang", "doc_id", Map("de" -> 0.5))
    mix.filter(col("lang") === "de").select("doc_id")
      .exceptAll(half.select("doc_id")).count() shouldBe 0
  }

  test("packSequences: offsets are contiguous per shard and bins respect the budget") {
    val packed = Curation.packSequences(docs, maxTokens = 512, nShards = 4)
    packed.count() shouldBe docs.count()
    // recompute expected bins sequentially per shard
    val rows = packed.orderBy("shard", "doc_id")
      .select("doc_id", "shard", "n_tokens", "bin_id")
      .as[(Long, Long, Long, Long)].collect()
    rows.groupBy(_._2).foreach { case (_, shardRows) =>
      var offset = 0L
      shardRows.sortBy(_._1).foreach { case (_, _, n, bin) =>
        bin shouldBe offset / 512
        offset += n
      }
    }
  }

  test("scrubPii redacts emails, phones, ips and counts them") {
    val in = Seq(
      (1L, "contact me at alice.smith+spam@example.co.uk or 555-867-5309 ok"),
      (2L, "server at 10.0.255.1 responded"),
      (3L, "nothing sensitive here 1234")
    ).toDF("doc_id", "text")
    val out = Curation.scrubPii(in).orderBy("doc_id")
      .as[(Long, String, Long, Long, Long)].collect()
    out(0)._2 shouldBe "contact me at <EMAIL> or <PHONE> ok"
    out(0)._3 shouldBe 1L; out(0)._4 shouldBe 1L; out(0)._5 shouldBe 0L
    out(1)._2 shouldBe "server at <IP> responded"
    out(1)._5 shouldBe 1L
    out(2)._2 shouldBe "nothing sensitive here 1234"
    (out(2)._3, out(2)._4, out(2)._5) shouldBe ((0L, 0L, 0L))
  }

  test("percentileCutoff keeps the per-stratum top fraction with an interpolated threshold") {
    // stratum A: scores 1..5 — p40 quantile = 1 + 0.4*4 = 2.6 → keep 3,4,5
    // stratum B: scores 10,20 — p40 = 14 → keep 20 only
    val in = Seq(
      ("A", 1L, 1.0), ("A", 2L, 2.0), ("A", 3L, 3.0), ("A", 4L, 4.0), ("A", 5L, 5.0),
      ("B", 6L, 10.0), ("B", 7L, 20.0)
    ).toDF("lang", "doc_id", "score")
    val out = Curation.percentileCutoff(in, "lang", "score", 0.4)
      .orderBy("doc_id")
      .as[(String, Long, Double, Double)].collect().toSeq
    out.map(_._2) shouldBe Seq(3L, 4L, 5L, 7L)
    out.filter(_._1 == "B").map(_._2) shouldBe Seq(7L)
    out.find(_._2 == 3L).get._4 shouldBe 2.6 +- 1e-9
    out.find(_._2 == 7L).get._4 shouldBe 14.0 +- 1e-9
  }

  test("shufflePositions: consecutive 1..N, equals the window formulation, partition-invariant") {
    val docs = spark.range(1, 501).select(col("id").as("doc_id"))
    val expected = docs
      .withColumn("shuffle_pos", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          md5(concat(lit("s1"), col("doc_id").cast("string"))), col("doc_id"))))
      .select("doc_id", "shuffle_pos")
      .as[(Long, Int)].collect().map { case (d, p) => (d, p.toLong) }.sorted
    for (parts <- Seq(1, 3, 8)) {
      val got = Curation.shufflePositions(docs.repartition(5), "s1", partitions = parts)
        .as[(Long, Long)].collect().sorted
      got shouldBe expected
    }
    // positions are a permutation of 1..N
    val ps = Curation.shufflePositions(docs, "s1")
      .select("shuffle_pos").as[Long].collect().sorted
    ps shouldBe (1L to 500L).toArray
  }

  test("semanticDecontaminate drops exactly the corpus docs with a " +
      "benchmark cosine neighbor (== brute-force reference)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val benchV = emb.filter(col("vec_id") % 10 === 0)
    val corpV = emb.filter(col("vec_id") % 10 =!= 0)
    def vecsOf(df: org.apache.spark.sql.DataFrame) = df
      .select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray)
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var d = 0d; var na = 0d; var nb = 0d
      for (i <- a.indices) {
        d += a(i).toDouble * b(i); na += a(i).toDouble * a(i)
        nb += b(i).toDouble * b(i)
      }
      BigDecimal(d / (math.sqrt(na) * math.sqrt(nb)))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }
    val bv = vecsOf(benchV); val cv = vecsOf(corpV)
    val dirty = (for {
      (cid, c) <- cv; (_, b) <- bv if cos(c, b) >= 0.45
    } yield cid).toSet
    dirty should not be empty // planted structure makes this non-vacuous
    val expected = docs.filter(col("doc_id") % 10 =!= 0)
      .select("doc_id").as[Long].collect().toSet -- dirty
    val kept = Curation.semanticDecontaminate(
      docs.filter(col("doc_id") % 10 =!= 0), corpV, benchV, 0.45)
      .select("doc_id").as[Long].collect().toSet
    kept shouldBe expected
    // crossMatches itself equals the brute cross-pair set at the
    // recall-1.0 config (pairs + exact cosines)
    val brute = (for {
      (cid, c) <- cv; (bid, b) <- bv
      s = cos(c, b) if s >= 0.45
    } yield (cid, bid, s)).toSet
    Similarity.crossMatches(corpV, benchV, 0.45)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .toSet shouldBe brute
  }

  test("propagateLabels: planted clusters take their seeds' majority " +
      "label; no-evidence targets emit nothing; ties deterministic") {
    import spark.implicits._
    // two orthogonal clusters in R⁴ plus one orthogonal outlier: seeds
    // 100/101 label cluster-axis e1 "a"/"a", seeds 200/201 axis e2 "b",
    // one seed 300 on e3 labels "c". Targets 1,2 sit on e1 (majority
    // "a"), target 3 on e2 ("b"), target 4 on e4 — orthogonal to every
    // seed, cosine 0 < threshold → NO row (no-evidence contract).
    def v(x: Double, y: Double, z: Double, w: Double) =
      Array(x.toFloat, y.toFloat, z.toFloat, w.toFloat)
    val seeds = Seq(
      (100L, v(1, 0.1, 0, 0)), (101L, v(1, -0.1, 0, 0)),
      (200L, v(0, 1, 0.1, 0)), (201L, v(0.1, 1, 0, 0)),
      (300L, v(0, 0, 1, 0))).toDF("vec_id", "embedding")
    val labels = Seq((100L, "a"), (101L, "a"), (200L, "b"), (201L, "b"),
      (300L, "c")).toDF("doc_id", "label")
    val targets = Seq(
      (1L, v(1, 0, 0, 0)), (2L, v(0.9, 0.2, 0, 0)),
      (3L, v(0, 1, 0, 0)), (4L, v(0, 0, 0, 1))).toDF("vec_id", "embedding")
    val got = Curation.propagateLabels(targets, seeds, labels,
        k = 3, threshold = 0.3, numPlanes = 8, bands = 8, dim = 4)
      .as[(Long, String, Long)].collect().sortBy(_._1)
    got.map(r => (r._1, r._2)) shouldBe Array((1L, "a"), (2L, "a"), (3L, "b"))
    // votes: targets on e1 see both "a" seeds within k=3
    got.find(_._1 == 1L).get._3 shouldBe 2L
    // tie case: equidistant between an "a" seed and a "b" seed at k=2
    // → one vote each, winner by label asc = "a", deterministically
    val tie = Seq((9L, v(1, 1, 0, 0))).toDF("vec_id", "embedding")
    val tied = Curation.propagateLabels(tie,
        Seq((100L, v(1, 0, 0, 0)), (200L, v(0, 1, 0, 0)))
          .toDF("vec_id", "embedding"),
        Seq((100L, "b"), (200L, "a")).toDF("doc_id", "label"),
        k = 2, threshold = 0.3, numPlanes = 8, bands = 8, dim = 4)
      .as[(Long, String, Long)].collect()
    tied shouldBe Array((9L, "a", 1L))
  }

  test("lengthBatches equals the per-bucket window formulation, is " +
      "partition-invariant, and fills batches to size") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val win = org.apache.spark.sql.expressions.Window
      .partitionBy(col("bucket")).orderBy(col("doc_id"))
    val expected = docs
      .select(col("doc_id"),
        org.apache.spark.sql.functions.size(
          org.apache.spark.sql.functions.split(col("text"), " ")).as("n_tokens"))
      .withColumn("bucket", floor(col("n_tokens").cast("long") / lit(64)).cast("long"))
      .withColumn("batch_id",
        ((row_number().over(win) - 1) / 8).cast("long"))
      .as[(Long, Int, Long, Long)].collect().sorted
    for (parts <- Seq(1, 3, 8)) {
      val got = Curation.lengthBatches(docs.repartition(5), batchSize = 8,
        partitions = parts).as[(Long, Int, Long, Long)].collect().sorted
      got shouldBe expected
    }
    // every batch but a bucket's last is exactly full
    val sizes = expected.groupBy(r => (r._3, r._4)).view
      .mapValues(_.length).toMap
    val lastBatch = expected.groupBy(_._3).view
      .mapValues(_.map(_._4).max).toMap
    for (((b, batch), n) <- sizes if batch != lastBatch(b))
      withClue(s"bucket $b batch $batch:") { n shouldBe 8 }
    // batches never mix buckets (one (bucket, batch) key per doc group)
    sizes.values.max should be <= 8
  }

  test("semanticPrototypes: per-cluster quota, nearest-centroid assignment, " +
      "partition-layout invariance") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val cents = Similarity.coarseCentroids(emb, nlist = 4, iters = 2)
    val out = Curation.semanticPrototypes(emb, cents, perCluster = 5)
    val rows = out.as[(Int, Long, Double, Int)].collect()
    // quota: at most 5 per cluster, ranks are 1..k per cluster
    rows.groupBy(_._1).foreach { case (_, g) =>
      g.length should be <= 5
      g.map(_._4).sorted shouldBe (1 to g.length).toArray
    }
    // ranking: within a cluster, sim is non-increasing with rank
    rows.groupBy(_._1).foreach { case (_, g) =>
      g.sortBy(_._4).map(_._3).toSeq.sliding(2).foreach {
        case Seq(a, b) => a should be >= b; case _ =>
      }
    }
    // assignment is truly the argmax: every kept vector's sim to its
    // cluster beats (or ties) its sim to every other centroid
    val byId = rows.map(r => r._2 -> (r._1, r._3)).toMap
    val vecs = emb.filter(col("vec_id").isin(byId.keys.toSeq: _*))
      .select("vec_id", "embedding")
      .as[(Long, Array[Float])].collect().toMap
    def cos(v: Array[Float], c: (Int, Array[Float], Double)): Double = {
      val d = v.zip(c._2).map { case (a, b) => a.toDouble * b.toDouble }.sum
      val rn = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      d / (c._3 * rn)
    }
    byId.foreach { case (id, (cl, sim)) =>
      val sims = cents.map(c => c._1 -> cos(vecs(id), c)).toMap
      sims(cl) shouldBe sims.values.max +- 1e-9
      sim shouldBe (math.rint(sims(cl) * 1e6) / 1e6 +- 1e-9)
    }
    // layout invariance: a repartitioned input selects the same set
    val out2 = Curation.semanticPrototypes(emb.repartition(13), cents, 5)
    out.exceptAll(out2).count() shouldBe 0
    out2.exceptAll(out).count() shouldBe 0
  }

  test("percentileCutoff at pct=0 keeps everything; tied boundary scores are kept") {
    val in = Seq(
      ("A", 1L, 5.0), ("A", 2L, 5.0), ("A", 3L, 5.0), ("A", 4L, 9.0)
    ).toDF("lang", "doc_id", "score")
    Curation.percentileCutoff(in, "lang", "score", 0.0).count() shouldBe 4L
    // p50 of (5,5,5,9) = 5.0 exactly → all ties at 5 survive the >= filter
    val kept = Curation.percentileCutoff(in, "lang", "score", 0.5)
      .select("doc_id").as[Long].collect().sorted
    kept shouldBe Array(1L, 2L, 3L, 4L)
  }

  test("temperatureWeights: mass 1 total, α=1 is the natural mix, lower α lifts rare strata") {
    // 8 en docs, 2 de docs
    val in = (1L to 8L).map(i => (i, "en")).++(Seq((9L, "de"), (10L, "de")))
      .toDF("doc_id", "lang")
    def wts(alpha: Double) =
      Curation.temperatureWeights(in, "lang", "doc_id", alpha)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // α = 1: weight = p_s / n_s = 1/N for every doc — the natural mix
    wts(1.0).foreach { case (_, _, w) => w shouldBe 0.1 }
    // any α: per-doc weights sum to 1 (within round-6 slack)
    for (a <- Seq(0.3, 0.5, 0.7)) {
      val w = wts(a)
      w.map(_._3).sum shouldBe 1.0 +- 1e-4
      // rare-stratum docs outweigh common-stratum docs below α = 1
      val de = w.filter(_._2 == "de").head._3
      val en = w.filter(_._2 == "en").head._3
      de should be > en
    }
    // α = 0.5 closed form: q_de = √0.2/(√0.8+√0.2), per-doc /2
    val de05 = wts(0.5).filter(_._2 == "de").head._3
    val q = math.sqrt(0.2) / (math.sqrt(0.8) + math.sqrt(0.2))
    de05 shouldBe BigDecimal(q / 2).setScale(6,
      BigDecimal.RoundingMode.HALF_UP).toDouble
  }

  test("scrubBenchmarkSpans removes exactly the colliding windows' tokens") {
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      // quotes the full 8-token item mid-document
      (1L, "intro words alpha beta gamma delta epsilon zeta eta theta outro tail"),
      (2L, "completely unrelated words nothing shared here at all ok"),
      (3L, "alpha beta gamma delta epsilon zeta eta theta"), // verbatim copy
      (4L, "short doc") // sub-w: cannot contain an 8-run
    ).toDF("doc_id", "text")
    val out = Curation.scrubBenchmarkSpans(corpus, bench, w = 8).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    out(1L) shouldBe (("intro words outro tail", 8L))
    out(2L) shouldBe (("completely unrelated words nothing shared here at all ok", 0L))
    out(3L) shouldBe (("", 8L))
    out(4L) shouldBe (("short doc", 0L))
  }

  test("weightedSample: deterministic ES top-k, heavy weights dominate, == driver recompute") {
    val in = (1L to 200L).map(i => (i, if (i % 2 == 0) 4.0 else 0.25))
      .toDF("doc_id", "w")
    def draw() = Curation.weightedSample(in, "doc_id", "w", 50)
      .collect().map(_.getLong(0))
    val s1 = draw()
    s1.toSeq shouldBe draw().toSeq // reproducible
    s1.length shouldBe 50
    // 16× weight ratio: heavy rows must dominate the sample
    s1.count(_ % 2 == 0) should be > 40
    // equals an independent driver-side recompute of the ES order
    val keys = in.select(col("doc_id"),
      (Curation.hashBucket("doc_id").cast("double") + 0.5) / 65536.0)
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
      .map { case (id, u) =>
        (id, math.pow(u, 1.0 / (if (id % 2 == 0) 4.0 else 0.25)))
      }
    val expect = keys.sortBy { case (id, k) => (-k, id) }.take(50).map(_._1)
    s1.sorted.toSeq shouldBe expect.sorted.toSeq
  }

  test("leakageSafeSplit: every component shares one split, singletons match hashSplit exactly") {
    // triangle {1,2,3}, pair {4,5}, singletons 6..30 (enough ids that
    // all three split labels appear among them)
    val pairs = Seq((1L, 2L), (2L, 3L), (4L, 5L)).toDF("doc_a", "doc_b")
    val d = (1L to 30L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val got = Curation.leakageSafeSplit(d, pairs)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    // components are split-atomic
    Set(got(1L), got(2L), got(3L)).size shouldBe 1
    Set(got(4L), got(5L)).size shouldBe 1
    // singletons get exactly their doc-keyed hashSplit label
    val solo = Curation.hashSplit(d, "doc_id")
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    (6L to 30L).foreach { i => got(i) shouldBe solo(i) }
    // and the component's label is its min-id member's solo label
    got(1L) shouldBe solo(1L)
    got(4L) shouldBe solo(4L)
    // fixture covers more than one split label (else the test is vacuous)
    got.values.toSet.size should be > 1
  }

  test("epochAllocation: α=1 is the natural mix (1 global epoch everywhere at B=A), weights sum to 1, rare-source epochs lift with α") {
    val total = docs.agg(sum("n_chars")).head().getLong(0)
    // α = 1, budget = full corpus mass → every source runs exactly 1 epoch
    val nat = Curation.epochAllocation(docs, "source", "n_chars",
      alpha = 1.0, budgetTokens = total)
      .as[(String, Long, Double, Double, Double)].collect()
    nat.foreach { case (_, _, _, _, ep) => ep shouldBe 1.0 +- 1e-4 }
    // weights are a distribution at any α
    val a7 = Curation.epochAllocation(docs, "source", "n_chars",
      alpha = 0.7, budgetTokens = 1000000L)
      .as[(String, Long, Double, Double, Double)].collect()
    a7.map(_._3).sum shouldBe 1.0 +- 1e-4
    // allocations exhaust the budget
    a7.map(_._4).sum shouldBe 1000000.0 +- 1.0
    // temperature flattens: the SMALLEST source's epoch count at α=0.7
    // strictly exceeds its α=1 epoch count at the same budget
    val a1 = Curation.epochAllocation(docs, "source", "n_chars",
      alpha = 1.0, budgetTokens = 1000000L)
      .as[(String, Long, Double, Double, Double)].collect()
    val smallest = a1.minBy(_._2)._1
    a7.find(_._1 == smallest).get._5 should be > a1.find(_._1 == smallest).get._5
  }

  test("decontaminateByBloom == decontaminateByContainment; zero-overlap corpus untouched") {
    val corpus = docs.filter(col("doc_id") % 10 =!= 0)
    val bench = docs.filter(col("doc_id") % 10 === 0)
    val exact = Curation.decontaminateByContainment(corpus, bench, n = 2, threshold = 0.5)
    val bloomed = Curation.decontaminateByBloom(corpus, bench, n = 2, threshold = 0.5)
    bloomed.count() shouldBe exact.count()
    bloomed.select("doc_id").exceptAll(exact.select("doc_id")).count() shouldBe 0
    // and at a tighter fpp the answer is the same set (one-sided error
    // only changes how much the exact verify has to discard)
    Curation.decontaminateByBloom(corpus, bench, n = 2, threshold = 0.5, fpp = 0.2)
      .select("doc_id").exceptAll(exact.select("doc_id")).count() shouldBe 0
    // disjoint-vocabulary benchmark: nothing shares a shingle, so the
    // whole corpus survives and no candidate ever reaches the join
    val alien = Seq((9001L, "zzq wwx yyk vvm uun"))
      .toDF("doc_id", "text")
    Curation.decontaminateByBloom(corpus, alien, n = 2, threshold = 0.1)
      .count() shouldBe corpus.count()
  }

  test("capPerStratum: cap binds exactly, deterministic under repartitioning, seeds draw independent orders") {
    val capped = Curation.capPerStratum(docs, "source", "doc_id", k = 10)
    val perSource = capped.groupBy("source").count().as[(String, Long)].collect()
    perSource.foreach { case (_, c) => c should be <= 10L }
    // every source with ≥ 10 docs contributes exactly 10
    val full = docs.groupBy("source").count().as[(String, Long)].collect().toMap
    perSource.foreach { case (s, c) =>
      c shouldBe math.min(full(s), 10L)
    }
    // pure function of (seed, id): repartitioning changes nothing
    val again = Curation.capPerStratum(docs.repartition(7), "source", "doc_id", k = 10)
    again.select("doc_id").exceptAll(capped.select("doc_id")).count() shouldBe 0
    // a different seed draws a genuinely different survivor set
    val other = Curation.capPerStratum(docs, "source", "doc_id", k = 10, seed = "epoch1")
    other.select("doc_id").exceptAll(capped.select("doc_id")).count() should be > 0L
    // and equals the window-rank formulation over the same draw
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source")
      .orderBy(col("draw").desc, col("doc_id").desc)
    val viaWindow = docs.withColumn("draw", Curation.seededBucket("doc_id", "cap0"))
      .withColumn("rn", row_number().over(w)).filter(col("rn") <= 10)
    capped.select("doc_id").exceptAll(viaWindow.select("doc_id")).count() shouldBe 0
  }

  test("dsirLogWeights: target-flavored docs outscore off-target ones, " +
      "short docs carry zero, deterministic under repartitioning") {
    import spark.implicits._
    // two disjoint vocabularies: the target corpus speaks only style A,
    // so raw docs in style A must carry higher importance than style B
    val styleA = (0L until 20L).map(i => (i, s"alpha bravo charlie delta ${i % 3}"))
    val styleB = (20L until 40L).map(i => (i, s"zulu yankee xray whiskey ${i % 3}"))
    val short = Seq((99L, "solo")) // 1 token < n: no evidence, weight 0
    val raw = (styleA ++ styleB ++ short).toDF("doc_id", "text")
    val target = styleA.toDF("doc_id", "text")
    val w = Curation.dsirLogWeights(raw, target, n = 2)
      .as[(Long, Double)].collect().toMap
    w(99L) shouldBe 0.0
    val aMin = styleA.map(d => w(d._1)).min
    val bMax = styleB.map(d => w(d._1)).max
    aMin should be > bMax
    // target-side grams are strictly over-represented in the target
    // distribution, so style-A weights are positive, style-B negative
    aMin should be > 0.0
    bMax should be < 0.0
    // layout invariance: the hash buckets and sums are content-pure
    val w2 = Curation.dsirLogWeights(raw.repartition(7), target, n = 2)
      .as[(Long, Double)].collect().toMap
    w2 shouldBe w
  }

  test("DSIR target store: build + ledgered extends == from-scratch " +
      "weights; re-delivered shard a no-op; params pin the feature space") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val tgt = d.filter(col("doc_id") % 7 === 0)
    val store = graft.util.Scratch.dir("dsir-store-").toString
    val t = pmod(col("doc_id"), lit(3))
    val dsir = Curation.dsirStore(store)
    dsir.build(tgt.filter(t === 0))
    dsir.extend(tgt.filter(t === 1), Some("t1"))
    dsir.extend(tgt.filter(t === 2), Some("t2"))
    // re-delivery: counts must not double (doubled target mass would
    // shift every weight)
    dsir.extend(tgt.filter(t === 1), Some("t1"))
    val viaStore = Curation.dsirAgainstStore(d, store)
      .as[(Long, Double)].collect().toMap
    val scratch = Curation.dsirLogWeights(d, tgt)
      .as[(Long, Double)].collect().toMap
    viaStore shouldBe scratch
  }
}
