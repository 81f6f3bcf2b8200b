package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

import graft.SparkSuite
import graft.util.Tables

class TextIndexSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private lazy val docs = Tables.documents(spark, "/root/testdata/sf0.001")

  private def bruteAll(terms: Seq[String]): Set[Long] =
    docs.filter(terms.map(t =>
        array_contains(split(col("text"), " "), t)).reduce(_ && _))
      .select(col("doc_id")).as[Long].collect().toSet

  test("searchAll == brute-force membership over the corpus") {
    val idx = graft.util.Scratch.dir("tidx-all").toString
    TextIndex.buildTextIndex(docs, idx)
    val terms = Seq("vector", "spark", "window")
    TextIndex.searchAll(spark, idx, terms)
      .as[Long].collect().toSet shouldBe bruteAll(terms)
  }

  test("searchAny == brute-force union; duplicate probe terms collapse") {
    val idx = graft.util.Scratch.dir("tidx-any").toString
    TextIndex.buildTextIndex(docs, idx)
    val want = docs.filter(
        array_contains(split(col("text"), " "), "vector") ||
        array_contains(split(col("text"), " "), "merge"))
      .select(col("doc_id")).as[Long].collect().toSet
    TextIndex.searchAny(spark, idx, Seq("vector", "merge", "vector"))
      .as[Long].collect().toSet shouldBe want
    // AND with a repeated term must not demand multiplicity 2
    TextIndex.searchAll(spark, idx, Seq("vector", "vector"))
      .as[Long].collect().toSet shouldBe bruteAll(Seq("vector"))
  }

  test("build + ledgered extends == from-scratch index; re-delivery is a no-op") {
    val idx = graft.util.Scratch.dir("tidx-ext").toString
    val t = pmod(col("doc_id"), lit(3))
    TextIndex.buildTextIndex(docs.filter(t === 0), idx)
    TextIndex.extendTextIndex(docs.filter(t === 1), idx, Some("s1"))
    TextIndex.extendTextIndex(docs.filter(t === 2), idx, Some("s2"))
    val rows = spark.read.parquet(s"$idx/data").count()
    TextIndex.extendTextIndex(docs.filter(t === 1), idx, Some("s1"))
    spark.read.parquet(s"$idx/data").count() shouldBe rows
    val terms = Seq("spark", "batch")
    TextIndex.searchAll(spark, idx, terms)
      .as[Long].collect().toSet shouldBe bruteAll(terms)
  }

  test("a term probe opens only the files whose term range covers it") {
    val idx = graft.util.Scratch.dir("tidx-prune").toString
    TextIndex.buildTextIndex(docs, idx, nFiles = 8)
    val total = spark.read.parquet(s"$idx/data").inputFiles.length
    total should be >= 4 // multiple vocabulary slices, else vacuous
    // one term lives in one lexicographic slice: the manifest must
    // prune the scan to a strict minority of the posting files
    val probed = TextIndex.searchAny(spark, idx, Seq("spark")).inputFiles.length
    probed should be < total / 2
    probed should be >= 1
  }

  test("bm25TopK: hand-computed scores on a tiny corpus; extended index " +
      "ranks identically to a from-scratch build") {
    // 3 docs, query 'cat': tf = (2, 1, 0), dl = (4, 2, 3), df = 2, N = 3
    val tiny = Seq(
      (1L, "cat cat dog bird"),
      (2L, "cat fish"),
      (3L, "dog bird fish")
    ).toDF("doc_id", "text")
    val idx = graft.util.Scratch.dir("tidx-bm25").toString
    TextIndex.buildTextIndex(tiny, idx)
    val got = TextIndex.bm25TopK(spark, idx, Seq("cat"), k = 3)
      .as[(Long, Double)].collect()
    val (n, avgdl) = (3.0, 3.0)
    val idf = math.log(1.0 + (n - 2 + 0.5) / (2 + 0.5))
    def s(tf: Double, dl: Double) =
      math.rint(idf * (tf * 2.2) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl)) * 1e6) / 1e6
    got.map(_._1).toSeq shouldBe Seq(1L, 2L)   // higher tf ranks first
    got(0)._2 shouldBe s(2, 4) +- 1e-9
    got(1)._2 shouldBe s(1, 2) +- 1e-9
    // lifecycle invariance on the real corpus: build+extends == one-shot
    val once = graft.util.Scratch.dir("tidx-bm25-a").toString
    TextIndex.buildTextIndex(docs, once)
    val inc = graft.util.Scratch.dir("tidx-bm25-b").toString
    val t = pmod(col("doc_id"), lit(3))
    TextIndex.buildTextIndex(docs.filter(t === 0), inc)
    TextIndex.extendTextIndex(docs.filter(t === 1), inc, Some("s1"))
    TextIndex.extendTextIndex(docs.filter(t === 2), inc, Some("s2"))
    val terms = Seq("spark", "merge", "vector")
    TextIndex.bm25TopK(spark, once, terms, 20).collect().toSeq shouldBe
      TextIndex.bm25TopK(spark, inc, terms, 20).collect().toSeq
  }

  test("hybridRrfTopK fuses the two rank lists with 1/(c+rank); a doc on " +
      "both lists outranks equal singles") {
    val idx = graft.util.Scratch.dir("tidx-rrf").toString
    TextIndex.buildTextIndex(docs, idx)
    val terms = Seq("vector", "spark", "merge")
    val bm = TextIndex.bm25TopK(spark, idx, terms, 50)
      .as[(Long, Double)].collect().map(_._1)
    val tf = TextIndex.tfidfQueryTopK(spark, idx, terms, 50)
      .as[(Long, Double)].collect().map(_._1)
    val want = (bm.toSet ++ tf.toSet).toSeq.map { d =>
      val s = bm.indexOf(d) match { case -1 => 0.0; case i => 1.0 / (60 + i + 1) }
      val t = tf.indexOf(d) match { case -1 => 0.0; case i => 1.0 / (60 + i + 1) }
      d -> BigDecimal(s + t).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sortBy { case (d, v) => (-v, d) }.take(10)
    TextIndex.hybridRrfTopK(spark, idx, terms, k = 10, pool = 50)
      .as[(Long, Double)].collect().toSeq shouldBe want
  }

  test("compactIndex re-narrows overlapping shard ranges: fewer files, " +
      "sharper pruning, identical answers") {
    val idx = graft.util.Scratch.dir("tidx-compact").toString
    val t = pmod(col("doc_id"), lit(4))
    // build + 3 extends: each shard's 2 files span the WHOLE alphabet,
    // so any single-term probe must open a file from every shard
    TextIndex.buildTextIndex(docs.filter(t === 0), idx, nFiles = 2)
    for (i <- 1 to 3)
      TextIndex.extendTextIndex(docs.filter(t === i), idx, Some(s"s$i"))
    val terms = Seq("vector", "spark", "merge")
    val before = TextIndex.bm25TopK(spark, idx, terms, 10).collect().toSeq
    val probedBefore = TextIndex.searchAny(spark, idx, Seq("spark"))
      .inputFiles.length
    val (nBefore, nAfter) = TextIndex.compactIndex(spark, idx)
    nAfter should be < nBefore
    // answers identical through the rewrite
    TextIndex.bm25TopK(spark, idx, terms, 10).collect().toSeq shouldBe before
    // single-term pruning is at least as sharp (typically much sharper)
    TextIndex.searchAny(spark, idx, Seq("spark"))
      .inputFiles.length should be <= probedBefore
    // further extends still work on the compacted index
    TextIndex.extendTextIndex(docs.limit(10)
      .withColumn("doc_id", col("doc_id") + 500000L), idx, Some("post"))
    TextIndex.searchAny(spark, idx, Seq("spark")).count() should be >= 1L
  }

  test("streamed index auto-compaction bounds the live posting file " +
      "count across micro-batches; BM25 equals the one-shot build") {
    val base = graft.util.Scratch.dir("tidx-autoc")
    val plain = s"$base/plain"
    val auto = s"$base/auto"
    // 5 chronological chunks, no policy: every shard's files accrete
    graft.streaming.StreamedBatch.replayIntoStore(spark, docs,
      "doc_id", "doc_id", TextIndex.indexStore(plain), chunks = 5)
    def liveData(p: String): Int =
      graft.util.Manifest.snapshot(spark, p).files.count(_.startsWith("data/"))
    liveData(plain) should be > 4
    // same stream with the threshold policy: file count stays bounded
    graft.streaming.StreamedBatch.replayIntoStore(spark, docs,
      "doc_id", "doc_id", TextIndex.indexStore(auto), chunks = 5,
      autoCompact = 4)
    liveData(auto) should be <= 4
    // ranking served from the compacted streamed index is unchanged
    val terms = Seq("vector", "spark", "merge")
    val once = graft.util.Scratch.dir("tidx-autoc-ref").toString
    TextIndex.buildTextIndex(docs, once)
    TextIndex.bm25TopK(spark, auto, terms, 10).collect().toSeq shouldBe
      TextIndex.bm25TopK(spark, once, terms, 10).collect().toSeq
    TextIndex.bm25TopK(spark, plain, terms, 10).collect().toSeq shouldBe
      TextIndex.bm25TopK(spark, once, terms, 10).collect().toSeq
  }

  test("crashed-extend orphans are invisible: uncommitted posting/doclen " +
      "files never reach membership or BM25 answers") {
    val idx = graft.util.Scratch.dir("tidx-orphan").toString
    TextIndex.buildTextIndex(docs, idx)
    val terms = Seq("vector", "spark", "merge")
    val before = TextIndex.bm25TopK(spark, idx, terms, 10).collect().toSeq
    val all = TextIndex.searchAny(spark, idx, Seq("spark")).count()
    // simulate a crash mid-extend: data + doclen files land on disk but
    // the manifest commit never happens (this is exactly the window
    // that used to double doclen rows under the bare ledger)
    TextIndex.postings(docs.limit(50))
      .write.mode("append").parquet(s"$idx/data")
    TextIndex.docLengths(docs.limit(50))
      .write.mode("append").parquet(s"$idx/doclen")
    TextIndex.bm25TopK(spark, idx, terms, 10).collect().toSeq shouldBe before
    TextIndex.searchAny(spark, idx, Seq("spark")).count() shouldBe all
    // the blind RETRY commits fresh files only; the orphans stay
    // unadopted and the ranking equals a clean one-shot over the union
    TextIndex.extendTextIndex(docs.limit(50)
      .withColumn("doc_id", col("doc_id") + 1000000L), idx, Some("retry"))
    val clean = graft.util.Scratch.dir("tidx-clean").toString
    TextIndex.buildTextIndex(docs.unionByName(docs.limit(50)
      .withColumn("doc_id", col("doc_id") + 1000000L)), clean)
    TextIndex.bm25TopK(spark, idx, terms, 10).collect().toSeq shouldBe
      TextIndex.bm25TopK(spark, clean, terms, 10).collect().toSeq
  }

  test("empty postings for unknown terms answer zero rows, zero matches") {
    val idx = graft.util.Scratch.dir("tidx-miss").toString
    TextIndex.buildTextIndex(docs, idx)
    TextIndex.searchAny(spark, idx, Seq("zzz_not_a_word")).count() shouldBe 0L
    TextIndex.searchAll(spark, idx, Seq("spark", "zzz_not_a_word"))
      .count() shouldBe 0L
  }
}
