package graft.operators

import org.apache.spark.sql.functions
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class TextOpsSpec extends SparkSuite with Matchers {
  import spark.implicits._

  private val docs = Seq(
    (1L, "the cat and the dog", 19L),
    (2L, "aaa bbb ccc", 11L)
  ).toDF("doc_id", "text", "n_chars")

  test("tokenStats counts tokens, distinct tokens, avg length") {
    val r = TextOps.tokenStats(docs).orderBy("doc_id")
      .select("n_tokens", "n_distinct_tokens", "avg_token_len").collect()
    r(0).getLong(0) shouldBe 5
    r(0).getLong(1) shouldBe 4 // "the" repeated
    r(0).getDouble(2) shouldBe 3.0 +- 1e-9
    r(1).getLong(0) shouldBe 3
    r(1).getLong(1) shouldBe 3
  }

  test("tokensUnicode splits punctuation-glued words the whitespace " +
      "tokenizer miscounts") {
    val punct = Seq((1L, "Hello, world! It's 42 degrees... really?", 40L))
      .toDF("doc_id", "text", "n_chars")
    val uni = TextOps.tokenStats(punct, unicode = true).head()
    // letter runs: Hello world It s degrees really; digit runs: 42
    uni.getAs[Long]("n_tokens") shouldBe 7
    uni.getAs[Long]("n_distinct_tokens") shouldBe 7
    // whitespace split sees 6 mark-glued "tokens"
    TextOps.tokenStats(punct).head().getAs[Long]("n_tokens") shouldBe 6
    // on punctuation-free text the two tokenizers agree
    TextOps.tokenStats(docs, unicode = true)
      .orderBy("doc_id").select("n_tokens", "n_distinct_tokens", "avg_token_len")
      .collect() shouldBe
      TextOps.tokenStats(docs)
        .orderBy("doc_id").select("n_tokens", "n_distinct_tokens", "avg_token_len")
        .collect()
  }

  test("unicode option threads through quality/tfidf/unigram") {
    val punct = Seq(
      (1L, "the, cat! the cat runs", 22L),
      (2L, "dogs bark; dogs sleep", 21L)
    ).toDF("doc_id", "text", "n_chars")
    // whitespace mode keys tf-idf on "the," ≠ "the"; unicode merges them
    val uniTerms = TextOps.tfidfTopTerms(punct, k = 10, unicode = true)
      .filter(col("doc_id") === 1).select("term").as[String].collect().toSet
    uniTerms should contain("the")
    uniTerms should not contain "the,"
    val wsTerms = TextOps.tfidfTopTerms(punct, k = 10)
      .filter(col("doc_id") === 1).select("term").as[String].collect().toSet
    wsTerms should contain("the,")
    // unigram logprob: unicode token count drops no words, only marks
    TextOps.unigramLogprob(punct, unicode = true)
      .filter(col("doc_id") === 1).select("n_tokens").as[Long].head() shouldBe 5
    // quality: the stopword "the" is invisible to whitespace mode when
    // comma-glued everywhere, visible to unicode mode
    val punct2 = Seq((1L, "the, cat", 8L)).toDF("doc_id", "text", "n_chars")
    TextOps.qualityScore(punct2).head().getAs[Double]("stopword_ratio") shouldBe 0.0
    TextOps.qualityScore(punct2, unicode = true)
      .head().getAs[Double]("stopword_ratio") shouldBe 0.5
  }

  test("bigramLogprob scores conditional probabilities with add-one " +
      "smoothing; word order changes the score") {
    // bigrams: doc1 (a,b),(b,a); doc2 (b,a); c2: (a,b)=1,(b,a)=2;
    // context counts c1: a=1, b=2; V=2
    val corpus = Seq(
      (1L, "a b a", 5L), (2L, "b a", 3L)
    ).toDF("doc_id", "text", "n_chars")
    val r = TextOps.bigramLogprob(corpus).orderBy("doc_id").collect()
    val pBgivenA = 2.0 / 3.0 // (1+1)/(1+2)
    val pAgivenB = 3.0 / 4.0 // (2+1)/(2+2)
    r(0).getLong(0) shouldBe 1L
    r(0).getLong(2) shouldBe 2L
    r(0).getDouble(1) shouldBe
      BigDecimal((-math.log(pBgivenA) - math.log(pAgivenB)) / 2.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9
    r(1).getLong(2) shouldBe 1L
    r(1).getDouble(1) shouldBe
      BigDecimal(-math.log(pAgivenB))
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9

    // the motivating property: same tokens, different order -> the doc
    // whose order the corpus has seen scores better (lower)
    val ordered = Seq(
      (1L, "the cat runs", 12L), (2L, "the cat runs", 12L),
      (3L, "the cat runs", 12L), (4L, "runs cat the", 12L)
    ).toDF("doc_id", "text", "n_chars")
    val s = TextOps.bigramLogprob(ordered)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    s(1L) should be < s(4L)
    // and the unigram filter cannot tell them apart
    val u = TextOps.unigramLogprob(ordered)
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    u(1L) shouldBe u(4L)

    // single-token docs have no bigrams and drop out
    val tiny = Seq((1L, "only", 4L), (2L, "two words", 9L))
      .toDF("doc_id", "text", "n_chars")
    TextOps.bigramLogprob(tiny).select("doc_id").as[Long].collect() shouldBe
      Array(2L)
  }

  test("vocabulary store: build + extend == from-scratch scoring, and " +
      "a re-applied shard is a ledgered no-op") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val path = graft.util.Scratch.dir("vocab-store").toString
    val t = pmod(col("doc_id"), lit(3))
    val vocab = TextOps.vocabStore(path)
    vocab.build(corpus.filter(t === 0))
    vocab.extend(corpus.filter(t === 1), Some("t1"))
    vocab.extend(corpus.filter(t === 2), Some("t2"))
    val stored = TextOps.scoreAgainstVocab(corpus, path)
    val scratch = TextOps.unigramLogprob(corpus)
    stored.orderBy("doc_id").collect() shouldBe scratch.orderBy("doc_id").collect()
    // retry: doubled count rows would skew every probability
    vocab.extend(corpus.filter(t === 2), Some("t2"))
    TextOps.scoreAgainstVocab(corpus, path).orderBy("doc_id").collect() shouldBe
      scratch.orderBy("doc_id").collect()
  }

  test("qualityScore components and weighting") {
    val r = TextOps.qualityScore(docs).orderBy("doc_id").collect()
    val row = r(0)
    row.getAs[Double]("stopword_ratio") shouldBe 0.6 +- 1e-9 // the, and, the
    row.getAs[Double]("type_token_ratio") shouldBe 0.8 +- 1e-9
    row.getAs[Int]("length_ok") shouldBe 0 // 19 chars < 50
    row.getAs[Double]("quality_score") shouldBe (0.6 * 0.3 + 0.8 * 0.5) +- 1e-6
  }

  test("langId predicts via profile overlap with deterministic ties") {
    val multi = Seq(
      (1L, "the fast data", "en"),
      (2L, "el datos tabla fila", "es"),
      (3L, "der daten und zeile", "de"),
      (4L, "zzz qqq", "en") // zero hits everywhere -> declaration-order
                            // tiebreak picks the first profile (en),
                            // matching the oracle's CASE ordering
    ).toDF("doc_id", "text", "lang")
    val r = TextOps.langId(multi).orderBy("doc_id").select("pred_lang").as[String].collect()
    r shouldBe Array("en", "es", "de", "en")
  }

  test("tokenStats kernel agrees with the built-in formulation") {
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val toks = TextOps.tokens(col("text"))
    val builtin = real.select(col("doc_id"),
      functions.size(toks).cast("long").as("e_n"),
      functions.size(array_distinct(toks)).cast("long").as("e_d"),
      aggregate(toks, lit(0L), (acc, t) => acc + functions.length(t)).as("e_sum"))
    val fast = TextOps.tokenStats(real)
      .withColumn("sum_len", round(col("avg_token_len") * col("n_tokens")).cast("long"))
    fast.join(builtin, "doc_id")
      .filter(col("n_tokens") =!= col("e_n") || col("n_distinct_tokens") =!= col("e_d"))
      .count() shouldBe 0
  }

  test("bpeTokenStats splits alpha runs, digit runs, and marks") {
    val d = Seq((1L, "abc de4f, x-9!")).toDF("doc_id", "text")
    val r = TextOps.bpeTokenStats(d).head()
    // tokens: abc, de, 4, f, ",", x, -, 9, "!"
    r.getAs[Long]("n_bpe_tokens") shouldBe 9
    r.getAs[Long]("n_alpha_runs") shouldBe 4
    r.getAs[Long]("n_digit_runs") shouldBe 2
    r.getAs[Long]("n_marks") shouldBe 3
  }

  test("fingerprint is order- and multiplicity-insensitive") {
    val d = Seq((1L, "b a b"), (2L, "a b"), (3L, "a c")).toDF("doc_id", "text")
    val fp = TextOps.fingerprint(d).orderBy("doc_id").select("fingerprint").as[String].collect()
    fp(0) shouldBe fp(1)
    fp(0) should not be fp(2)
  }

  test("qualityFlags: each rule trips on its planted violation") {
    val good = (1 to 40).map(i => s"w$i the").mkString(" ") // 80 tokens, stopwords, distinct bigrams
    val loops = Array.fill(40)("spam").mkString(" ")        // repetition + no stopword
    val symbols = (1 to 40).map(_ => "@@ the").mkString(" ")
    val d = Seq((1L, good), (2L, loops), (3L, symbols), (4L, "too short the"))
      .toDF("doc_id", "text")
    val r = TextOps.qualityFlags(d)
      .orderBy("doc_id")
      .select("flag_length", "flag_word_len", "flag_symbols", "flag_stopword",
        "flag_repetition", "keep")
      .as[(Boolean, Boolean, Boolean, Boolean, Boolean, Boolean)].collect()
    r(0) shouldBe ((true, true, true, true, true, true))    // survives
    r(1)._5 shouldBe false                                   // loops: repetition trips
    r(1)._6 shouldBe false
    r(2)._3 shouldBe false                                   // symbol ratio trips
    r(3)._1 shouldBe false                                   // too short
    r(3)._6 shouldBe false
  }

  // ── trained BPE vs a sequential reference ─────────────────────────

  /** In-spec sequential BPE (the published procedure, driver-side):
    * the independent reference the distributed trainer must equal.
    */
  private def seqMergeFold(s: Vector[String], a: String, b: String): Vector[String] =
    s.foldLeft(Vector.empty[String]) { (acc, x) =>
      if (acc.nonEmpty && acc.last == a && x == b) acc.init :+ (a + b)
      else acc :+ x
    }

  private def seqPreTokens(text: String): Seq[String] = {
    val m = java.util.regex.Pattern.compile(TextOps.bpePattern).matcher(text)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (m.find()) out += m.group()
    out.toSeq
  }

  private def seqBpe(texts: Seq[String], nMerges: Int, minCount: Long)
      : (Seq[(Int, String, String, String, Long, Long)], Map[String, Vector[String]]) = {
    val wordCounts = texts.flatMap(seqPreTokens)
      .groupBy(identity).map { case (w, o) => w -> o.size.toLong }
    var segs = wordCounts.map { case (w, c) => (w, c, w.map(_.toString).toVector) }.toSeq
    val merges = scala.collection.mutable.ArrayBuffer.empty[(Int, String, String, String, Long, Long)]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      segs.foreach { case (_, c, s) =>
        s.zip(s.tail).foreach(p => counts(p) = counts.getOrElse(p, 0L) + c)
      }
      if (counts.isEmpty) done = true
      else {
        val ((a, b), n) = counts.toSeq
          .sortBy { case ((x, y), m) => (-m, x, y) }.head
        if (n < minCount) done = true
        else {
          var applied = 0L
          segs = segs.map { case (w, c, s) =>
            val ns = seqMergeFold(s, a, b)
            applied += (s.length - ns.length) * c
            (w, c, ns)
          }
          merges += ((rank, a, b, a + b, n, applied))
          rank += 1
        }
      }
    }
    (merges.toSeq, segs.map { case (w, _, s) => w -> s }.toMap)
  }

  private def tmpModelDir(): String =
    graft.util.Scratch.dir("graft-bpe-spec").toString

  test("trainBpe equals the sequential reference (merges, counts, final segmentation)") {
    val texts = Seq(
      "the cat sat on the mat, the cat!",
      "low lower lowest slow slower",
      "aaaa aaa aa a banana bandana",
      "es 2024 2024 es es data data")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val path = tmpModelDir()
    val got = TextOps.trainBpe(d, path, nMerges = 10)
    val (exp, expSegs) = seqBpe(texts, 10, 2)
    got.map(m => (m.rank, m.left, m.right, m.merged, m.pair_count, m.applied_count)) shouldBe exp
    // stored ledger round-trips
    val stored = spark.read.parquet(s"$path/merges")
      .orderBy("rank")
      .as[(Int, String, String, String, Long, Long)].collect()
    stored.toSeq shouldBe exp
    // stored segmentation cache equals the reference's final segment
    // counts AND arrays
    val words = spark.read.parquet(s"$path/words")
      .select("word", "n_seg").as[(String, Long)].collect().toMap
    words shouldBe expSegs.map { case (w, s) => w -> s.length.toLong }
    val arrays = spark.read.parquet(s"$path/words")
      .select("word", "segs").as[(String, Seq[String])].collect().toMap
    arrays shouldBe expSegs.map { case (w, s) => w -> s.toSeq }
  }

  test("encodeBpe emits ordered vocabulary ids; unseen chars encode as -1") {
    val texts = Seq("ab ab ab cd cd", "ab cd ab", "abab cdcd")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val path = tmpModelDir()
    TextOps.trainBpe(d, path, nMerges = 4)
    val (_, segs) = seqBpe(texts, 4, 2)
    // the stored vocabulary: dense lexicographic ids over final segments
    val symbols = segs.values.flatten.toSeq.distinct.sorted
    val vocabIds = symbols.zipWithIndex.toMap
    spark.read.parquet(s"$path/vocab").as[(String, Int)].collect()
      .toMap shouldBe vocabIds
    val got = TextOps.encodeBpe(d, path).orderBy("doc_id")
      .as[(Long, Seq[Int])].collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val want = seqPreTokens(t).flatMap(w => segs(w)).map(vocabIds)
      got(i) shouldBe ((i.toLong, want))
    }
    // unseen word: char fallback, and chars outside the vocab are -1
    val unseen = Seq((9L, "zb")).toDF("doc_id", "text")
    val ids = TextOps.encodeBpe(unseen, path).as[(Long, Seq[Int])].head()._2
    ids.length shouldBe 2
    ids.head shouldBe -1 // 'z' never seen
    ids(1) shouldBe vocabIds.getOrElse("b", -1)
    // empty doc: empty array, not a dropped row
    TextOps.encodeBpe(Seq((7L, "")).toDF("doc_id", "text"), path)
      .as[(Long, Seq[Int])].head() shouldBe ((7L, Seq.empty[Int]))
  }

  test("heavy-hitter store: tercile lifecycle + ledger no-op serves the " +
      "exact one-shot answer, and the merged completeness bound holds") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val store = graft.util.Scratch.dir("heavy-spec-").toString
    val t = pmod(col("doc_id"), lit(3))
    def grams(tr: Int) = TextOps.ngrams(corpus.filter(t === tr), 2)
    val heavy = FreqSketch.heavyStore(store, itemCol = Some("ngram"))
    heavy.build(grams(0))
    // build retry: overwrite, never double-count
    heavy.build(grams(0))
    heavy.extend(grams(1), Some("t1"))
    heavy.extend(grams(2), Some("t2"))
    heavy.extend(grams(1), Some("t1")) // no-op
    val all = TextOps.ngrams(corpus, 2)
    val got = FreqSketch.heavyTopKExact(all, "ngram", store, k = 20)
      .as[(String, Long)].collect().toSeq
    val want = TextOps.heavyNgrams(corpus, n = 2, k = 20, capacity = 768)
      .as[(String, Long)].collect().toSeq
    got shouldBe want
    // the merged bound really covers the kth count (non-vacuous), and
    // the total reconciles with the corpus (ledger held)
    val (_, n, bound) = FreqSketch.mergedSketch(spark, store)
    n shouldBe all.count()
    assert(want.last._2 > bound,
      s"completeness: kth=${want.last._2} must clear merged bound $bound")
  }

  test("packTokenIds chunks the separated id stream; partial tail kept; " +
      "layout-invariant") {
    val texts = Seq("ab ab ab cd cd", "ab cd ab", "abab cdcd", "cd")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val path = tmpModelDir()
    TextOps.trainBpe(d, path, nMerges = 4)
    // the reference stream: per-doc encoded ids + the -2 separator,
    // docs in doc_id order, chunked to seqLen
    val encoded = TextOps.encodeBpe(d, path).orderBy("doc_id")
      .as[(Long, Seq[Int])].collect()
    val stream = encoded.flatMap { case (_, ids) => ids :+ -2 }
    val seqLen = 5
    val want = stream.grouped(seqLen).zipWithIndex
      .map { case (s, i) => (i.toLong, s.toSeq) }.toSeq
    val got = TextOps.packTokenIds(d, path, seqLen).orderBy("seq_id")
      .as[(Long, Seq[Int])].collect().toSeq
    got shouldBe want
    // last sequence is the partial tail unless the stream divides evenly
    got.last._2.length shouldBe (stream.length - 1) % seqLen + 1
    // deterministic under a different input layout
    val got2 = TextOps.packTokenIds(d.repartition(7), path, seqLen)
      .orderBy("seq_id").as[(Long, Seq[Int])].collect().toSeq
    got2 shouldBe want
  }

  test("applyBpe: per-doc counts match the reference; unseen words fall back to chars") {
    val texts = Seq("ab ab ab cd cd", "ab cd ab", "abab cdcd")
    val d = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val path = tmpModelDir()
    TextOps.trainBpe(d, path, nMerges = 4)
    val (_, segs) = seqBpe(texts, 4, 2)
    val got = TextOps.applyBpe(d, path).orderBy("doc_id")
      .as[(Long, Long, Long)].collect()
    texts.zipWithIndex.foreach { case (t, i) =>
      val pre = seqPreTokens(t)
      got(i) shouldBe ((i.toLong,
        pre.map(w => segs(w).length.toLong).sum, pre.size.toLong))
    }
    // a doc with words never seen at training: char-count fallback
    val unseen = Seq((9L, "zzz qqq")).toDF("doc_id", "text")
    TextOps.applyBpe(unseen, path).as[(Long, Long, Long)].head() shouldBe ((9L, 6L, 2L))
  }

  test("bpeInvariants holds on a trained model and trips on a corrupted ledger") {
    val d = Seq((1L, "ab ab ab ab"), (2L, "ab cd ab cd")).toDF("doc_id", "text")
    val path = tmpModelDir()
    TextOps.trainBpe(d, path, nMerges = 3)
    val ok = TextOps.bpeInvariants(d, path)
      .as[(String, Boolean)].collect().toMap
    ok.values.toSet shouldBe Set(true)
    ok.keySet shouldBe Set("merge_concat", "ranks_contiguous",
      "token_total_reconciles", "apply_bounds")
    // corrupt the applied-count ledger -> reconciliation must fail
    // (materialize first: overwriting the dir a lazy plan still reads
    // from would race the scan against the delete)
    val corrupted = spark.read.parquet(s"$path/merges")
      .withColumn("applied_count", col("applied_count") + 1)
      .as[(Int, String, String, String, Long, Long)].collect().toSeq
    corrupted.toDF("rank", "left", "right", "merged", "pair_count", "applied_count")
      .write.mode("overwrite").parquet(s"$path/merges")
    val bad = TextOps.bpeInvariants(d, path).as[(String, Boolean)].collect().toMap
    bad("token_total_reconciles") shouldBe false
  }

  test("trainBpe stops early when no pair reaches minCount") {
    val d = Seq((1L, "x y z")).toDF("doc_id", "text") // all pairs unique, count 1
    val path = tmpModelDir()
    TextOps.trainBpe(d, path, nMerges = 5) shouldBe Seq.empty
    TextOps.bpeInvariants(d, path).as[(String, Boolean)]
      .collect().toMap.values.toSet shouldBe Set(true)
  }

  test("repetition flags looping bigrams; short docs emit no row") {
    val d = Seq(
      (1L, "spam spam spam spam spam"), // 4 bigrams, all "spam spam"
      (2L, "all words here are fully distinct tokens"),
      (3L, "one")                       // < 2 tokens → no grams
    ).toDF("doc_id", "text")
    val r = TextOps.repetition(d, n = 2).orderBy("doc_id")
      .as[(Long, Long, Long, Double, Double)].collect()
    r.map(_._1) shouldBe Array(1L, 2L)
    r(0) shouldBe ((1L, 4L, 4L, 1.0, 0.25))
    // 6 bigrams, each unique
    r(1) shouldBe ((2L, 6L, 1L, 0.166667, 1.0))
  }

  test("ngramDigest emits the complete ordered gram stream per doc") {
    val d = Seq(
      (1L, "a b c d"),                  // trigrams: "a b c", "b c d"
      (2L, "x y"),                      // < 3 tokens → empty digest
      (3L, "p q r")
    ).toDF("doc_id", "text")
    val r = TextOps.ngramDigest(d, n = 3).orderBy("doc_id")
      .as[(Long, String, Long)].collect()
    r shouldBe Array(
      (1L, "a b c|b c d", 2L),
      (2L, "", 0L),
      (3L, "p q r", 1L))
  }

  test("heavyNgrams escalates capacity on a near-uniform corpus and still " +
      "returns the exact top-k; maxDoublings=0 pins the refusal") {
    import spark.implicits._
    // 100 distinct bigrams × 5 + one heavy × 50: capacity 50 churns on
    // the uniform mass (retained k-th ≤ bound), so the first attempt
    // cannot prove completeness — escalation must reach the exact
    // answer instead of refusing
    val rows = (1 to 100).flatMap(i => Seq.fill(5)(s"u$i x")) ++
      Seq.fill(50)("h h")
    val corpus = rows.zipWithIndex
      .map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
    val got = TextOps.heavyNgrams(corpus, n = 2, k = 5, capacity = 50)
      .as[(String, Long)].collect().toSeq
    // exact top-5: the heavy, then uniform ties broken by ngram text
    got shouldBe Seq(("h h", 50L), ("u1 x", 5L), ("u10 x", 5L),
      ("u100 x", 5L), ("u11 x", 5L))
    // with escalation disabled, the same corpus/config must refuse
    // rather than silently return an unproven "exact" top-k
    an[IllegalStateException] should be thrownBy
      TextOps.heavyNgrams(corpus, n = 2, k = 5, capacity = 50,
        maxDoublings = 0)
  }

  test("heavyNgrams: sketch-then-recount equals the exact top-k, and the " +
      "gate config is a REAL sketch with a holding completeness bound") {
    val corpus = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val grams = corpus.select(explode(expr(
        "transform(sequence(1, size(split(text,' ')) - 1)," +
          " i -> concat_ws(' ', element_at(split(text,' '), i)," +
          " element_at(split(text,' '), i + 1)))")).as("ngram"))
    val exact = grams.groupBy("ngram").agg(count(lit(1)).as("cnt"))
    val nDistinct = exact.count()
    val total = grams.count()
    val want = exact.orderBy(col("cnt").desc, col("ngram")).limit(20)
      .as[(String, Long)].collect().toSeq
    // same capacity the gate uses: it must really evict at this scale
    val capacity = 768
    withClue("config must exercise eviction (capacity < distinct): ") {
      assert(capacity < nDistinct)
    }
    withClue("completeness bound must hold (kth count > N/(cap+1)): ") {
      assert(want.last._2 > total.toDouble / (capacity + 1))
    }
    val got = TextOps.heavyNgrams(corpus, n = 2, k = 20, capacity = capacity)
      .as[(String, Long)].collect().toSeq
    got shouldBe want
    // partition-layout invariance of the FINAL answer (candidate sets
    // may differ; the completeness bound makes the top-k stable)
    val got2 = TextOps.heavyNgrams(corpus.repartition(13), n = 2, k = 20,
      capacity = capacity).as[(String, Long)].collect().toSeq
    got2 shouldBe want
  }
  test("vocabDivergence: finite on one-sided tokens, zero on identical corpora, symmetric") {
    val a = Seq((1L, "x x y z"), (2L, "x y")).toDF("doc_id", "text") // x:3 y:2 z:1
    val b = Seq((3L, "x y w w")).toDF("doc_id", "text")              // x:1 y:1 w:2
    val d = TextOps.vocabDivergence(a, b, 10).collect()
    d.map(_.getDouble(3)).foreach(_ should be >= 0.0)
    // w exists only in b: p_a = 0 yet the contribution is finite —
    // 0.5 · ln(2) / 2 with p_b = 0.5
    val w = d.find(_.getString(0) == "w").get
    w.getDouble(1) shouldBe 0.0
    w.getDouble(2) shouldBe 0.5
    w.getDouble(3) shouldBe BigDecimal(0.25 * math.log(2))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // identical corpora → all contributions exactly 0
    TextOps.vocabDivergence(a, a, 10).collect()
      .map(_.getDouble(3)).foreach(_ shouldBe 0.0)
    // symmetric in its arguments
    val sw = TextOps.vocabDivergence(b, a, 10).collect()
      .map(r => r.getString(0) -> r.getDouble(3)).toMap
    d.map(r => r.getString(0) -> r.getDouble(3)).toMap shouldBe sw
  }

  test("noveltyScore: 0 for fully-seen docs, 1 for disjoint vocab, fractional mixes, zero-gram docs score 0.0") {
    val ref = Seq((10L, "a b c d"), (11L, "c d e")).toDF("doc_id", "text")
    // ref bigrams: {a b, b c, c d, d e}
    val tgt = Seq(
      (1L, "a b c"),        // {a b, b c} both seen → novelty 0
      (2L, "x y z"),        // {x y, y z} both new → novelty 1
      (3L, "a b q r"),      // {a b, b q, q r}: 2 of 3 new
      (4L, "solo")          // zero bigrams → 0.0 by definition
    ).toDF("doc_id", "text")
    val r = TextOps.noveltyScore(tgt, ref, n = 2)
      .as[(Long, Long, Long, Double)].collect().sortBy(_._1)
    r(0) shouldBe ((1L, 2L, 0L, 0.0))
    r(1) shouldBe ((2L, 2L, 2L, 1.0))
    r(2) shouldBe ((3L, 3L, 2L, BigDecimal(2.0 / 3)
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble))
    r(3) shouldBe ((4L, 0L, 0L, 0.0))
    // a corpus is never novel against itself
    TextOps.noveltyScore(ref, ref, n = 2).as[(Long, Long, Long, Double)]
      .collect().foreach(_._4 shouldBe 0.0)
  }

  test("bpeFertility: per-stratum tokens-per-word; punctuation-heavy strata score higher") {
    val d = Seq(
      (1L, "en", "plain words here"),            // 3 bpe / 3 ws
      (2L, "en", "more plain words"),            // 3 / 3
      (3L, "xx", "it's punct-heavy, truly!")     // splits at every mark
    ).toDF("doc_id", "lang", "text")
    val f = TextOps.bpeFertility(d, "lang")
      .as[(String, Long, Long, Double)].collect().map(r => r._1 -> r).toMap
    f("en")._2 shouldBe 6L   // bpe tokens
    f("en")._3 shouldBe 6L   // ws tokens
    f("en")._4 shouldBe 1.0
    // "it's punct-heavy, truly!" → it ' s punct - heavy , truly ! = 9
    f("xx")._2 shouldBe 9L
    f("xx")._3 shouldBe 3L
    f("xx")._4 shouldBe 3.0
  }

  test("gram store: build + extend == from-scratch over the union; asOf scores the retained generation; re-delivery is a no-op") {
    val refA = Seq((10L, "a b c d")).toDF("doc_id", "text")
    val refB = Seq((11L, "c d e")).toDF("doc_id", "text")
    val tgt = Seq((1L, "a b c"), (2L, "d e f"), (3L, "x y")).toDF("doc_id", "text")
    val store = graft.util.Scratch.dir("gram-store").toString
    TextOps.buildGramStore(refA, store, n = 2)
    TextOps.extendGramStore(refB, store, shardId = Some("s1"))
    val got = TextOps.noveltyAgainstStore(tgt, store).orderBy("doc_id").collect()
    got shouldBe TextOps.noveltyScore(tgt, refA.unionByName(refB), n = 2)
      .orderBy("doc_id").collect()
    // doc 2's {d e} is only in the extend shard: asOf gen 0 (pre-extend)
    // scores it novel, the head generation does not
    val asOf0 = TextOps.noveltyAgainstStore(tgt, store, asOf = Some(0))
      .orderBy("doc_id").collect()
    asOf0 shouldBe TextOps.noveltyScore(tgt, refA, n = 2)
      .orderBy("doc_id").collect()
    asOf0.map(_.getDouble(3)).toSeq should not be got.map(_.getDouble(3)).toSeq
    // ledgered shard re-delivery changes nothing
    TextOps.extendGramStore(refB, store, shardId = Some("s1"))
    TextOps.noveltyAgainstStore(tgt, store).orderBy("doc_id").collect() shouldBe got
  }
}
