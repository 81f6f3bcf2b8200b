package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.ShardedStore

/** Text-analysis operators for large-scale training-data pipelines:
  * token statistics, quality scoring, language ID, and document
  * fingerprinting over the `documents` table.
  *
  * All operators are single-pass, map-only (or one grouped agg),
  * built from codegen'd built-ins — no UDFs. At 100 TB these scale
  * linearly with input splits; nothing shuffles except explicit
  * grouped outputs.
  */
object TextOps {

  /** Deterministic whitespace tokenization — the one canonical
    * tokenizer every operator here shares, so fingerprints/dedup/
    * stats agree with each other.
    */
  def tokens(text: Column): Column = split(text, " ")

  /** Unicode-aware tokenization: maximal letter runs and digit runs
    * (`\p{L}+|\p{N}+`), dropping punctuation/symbols. On real
    * punctuation-heavy text the whitespace split glues marks onto
    * words ("word," ≠ "word"), skewing counts, quality ratios, and
    * TF-IDF keys; this is the variant an LLM-corpus pipeline scores
    * with. Kept to the Java-regex ∩ RE2 subset so the DuckDB oracle
    * matches byte-for-byte. Map-only codegen'd regex, same cost class
    * as [[bpeTokenStats]].
    */
  val unicodeTokenPattern = "[\\p{L}]+|[\\p{N}]+"

  def tokensUnicode(text: Column): Column =
    regexp_extract_all(text, lit(unicodeTokenPattern), lit(0))

  /** The tokenizer the `unicode` options below select between. */
  private def tok(text: Column, unicode: Boolean): Column =
    if (unicode) tokensUnicode(text) else tokens(text)

  /** Corpus-unigram log-probability score — the statistical stand-in
    * for the LM-perplexity quality filter every production corpus
    * pipeline runs (docs whose tokens are improbable under the
    * corpus's own unigram distribution are boilerplate, encoding
    * noise, or wrong-language): per doc, the mean negative log
    * probability of its tokens under corpus token frequencies, plus
    * the token count.
    *
    * Scale shape: one exploded-token aggregation builds the unigram
    * table (vocabulary-sized, shuffled on token — Zipf makes the head
    * heavy but partial aggregation absorbs it map-side); the corpus
    * total is ONE driver-side long (a count, not a 1-row cross join —
    * which would plan the nested-loop shape PlanAudit exists to
    * catch); scoring is the exploded tokens equi-joined to the vocab
    * then re-aggregated per doc. Two shuffles on narrow keys; no UDF.
    */
  def unigramLogprob(docs: DataFrame, unicode: Boolean = false): DataFrame = {
    val toks = docTokens(docs, unicode)
    val vocab = toks.groupBy(col("w")).agg(count(lit(1)).cast("double").as("c"))
    scoreTokens(toks, vocab, toks.count().toDouble)
  }

  private def docTokens(docs: DataFrame, unicode: Boolean): DataFrame =
    docs.select(col("doc_id"), explode(tok(col("text"), unicode)).as("w"))

  /** Shared scoring tail of [[unigramLogprob]] and [[scoreAgainstVocab]]:
    * per doc, the mean negative log probability of its tokens under
    * `(w, c)` frequencies with corpus total `t` (one driver-side
    * double, never a 1-row cross join).
    */
  private def scoreTokens(toks: DataFrame, vocab: DataFrame, t: Double): DataFrame =
    toks.join(vocab, "w")
      .groupBy(col("doc_id"))
      .agg(round(avg(-log(col("c") / lit(t))), 6).as("avg_neg_logprob"),
        count(lit(1)).as("n_tokens"))

  /** Vocabulary drift between two corpora — the per-token
    * Jensen–Shannon divergence contributions of their unigram
    * distributions, largest first: the shard/version QA check ("what
    * changed between yesterday's corpus and today's?") that catches a
    * crawler regression or a source-mix shift before a training run
    * does. JS rather than KL because it is symmetric and FINITE on
    * tokens only one side has seen — exactly the tokens drift
    * surfaces. Output: (tok, p_a, p_b, js) rounded to 6, the `topK`
    * largest contributions, ties broken by token.
    *
    * Scale shape: two vocabulary-sized token aggregations, a full
    * outer join of the two count tables, corpus totals as driver
    * scalars (never a 1-row cross join), and the top-k plans as
    * TakeOrderedAndProject. The ranking key is the ROUNDED
    * contribution so the order is reproducible across engines.
    */
  def vocabDivergence(a: DataFrame, b: DataFrame, topK: Int = 20,
                      unicode: Boolean = false): DataFrame = {
    require(topK >= 1, s"vocabDivergence: topK must be ≥ 1, got $topK")
    val ta = docTokens(a, unicode).groupBy(col("w"))
      .agg(count(lit(1)).cast("double").as("ca"))
    val tb = docTokens(b, unicode).groupBy(col("w"))
      .agg(count(lit(1)).cast("double").as("cb"))
    val na = ta.agg(sum("ca")).head().getDouble(0)
    val nb = tb.agg(sum("cb")).head().getDouble(0)
    val joined = ta.join(tb, Seq("w"), "full_outer")
      .select(col("w").as("tok"),
        (coalesce(col("ca"), lit(0.0)) / na).as("pa"),
        (coalesce(col("cb"), lit(0.0)) / nb).as("pb"))
    val m = (col("pa") + col("pb")) / 2
    def half(p: org.apache.spark.sql.Column) =
      when(p > 0, p * log(p / m) / 2).otherwise(lit(0.0))
    joined.select(col("tok"), round(col("pa"), 6).as("p_a"),
        round(col("pb"), 6).as("p_b"),
        round(half(col("pa")) + half(col("pb")), 6).as("js"))
      .orderBy(col("js").desc, col("tok"))
      .limit(topK)
  }

  /** N-gram novelty score — per target document, the fraction of its
    * distinct word n-grams NEVER seen in a reference corpus. The
    * memorization/novelty axis of data QA: near 0 flags a doc that is
    * (re)combined reference material (synthetic data echoing its
    * training set, a scrape of an already-ingested source); near 1
    * flags genuinely new text worth the marginal training token. The
    * complement of the containment family — decontamination asks "does
    * the doc CONTAIN a benchmark item", novelty asks "does the doc add
    * anything at all".
    *
    * Scale shape: the reference's distinct-gram set is a distributed
    * aggregation (never a driver structure); the target's grams LEFT
    * JOIN it on the gram hash — one shuffle keyed by gram, partial
    * counts map-side. Zero-gram targets (< n tokens) score 0.0 by
    * definition rather than null, via the final id-keyed left join.
    * Gram hashing is the same single-pass kernel the dedup family
    * uses ([[graft.functions.VectorFunctions.shingleHashes]]), so the
    * whole pipeline shares one tokenization.
    */
  def noveltyScore(target: DataFrame, reference: DataFrame,
                   n: Int = 2): DataFrame = {
    require(n >= 1, s"noveltyScore: n must be ≥ 1, got $n")
    noveltyVs(target, distinctGrams(reference, n), n)
  }

  /** The shared scoring tail: target grams LEFT JOIN a distinct
    * reference gram set (however obtained — from-scratch or stored).
    */
  private def noveltyVs(target: DataFrame, refG: DataFrame,
                        n: Int): DataFrame = {
    import graft.functions.VectorFunctions
    val tg = target.select(col("doc_id"),
      explode(VectorFunctions.shingleHashes(col("text"), n)).as("g"))
    val stats = tg.join(refG.withColumn("seen", lit(1L)), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        (count(lit(1)) - count(col("seen"))).as("n_new"))
    target.select(col("doc_id"))
      .join(stats, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        coalesce(round(col("n_new").cast("double") / col("n_grams"), 6),
          lit(0.0)).as("novelty"))
  }

  // ── persisted reference-gram store (novelty serving) ──────────────
  //
  // The daily form of [[noveltyScore]]: the reference's distinct-gram
  // set IS the model, and it is UNION-additive — a shard's grams fold
  // in by set union, so the reference maintains incrementally while
  // scoring stays a read-only join against the store. Same lifecycle
  // as the vocab/ANN/containment stores: build → extend per shard →
  // score many, committed through [[graft.util.Manifest]] generations
  // (crash-safe, atomically visible, ledgered no-op re-delivery,
  // `asOf` time travel).

  private def gramsPath(path: String) = s"$path/grams"

  private def distinctGrams(docs: DataFrame, n: Int): DataFrame = {
    import graft.functions.VectorFunctions
    docs.select(explode(VectorFunctions.shingleHashes(col("text"), n)).as("g"))
      .distinct()
  }

  /** Initialize the gram store with `docs`' distinct n-grams as
    * generation 0; `n` is pinned in `params` — probes score with the
    * stored geometry.
    */
  def buildGramStore(docs: DataFrame, path: String, n: Int = 2,
                     applied: Set[String] = Set.empty): Unit = {
    val spark = docs.sparkSession
    import spark.implicits._
    graft.util.Manifest.init(spark, path, applied) {
      Seq(n).toDF("n")
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(s"$path/params")
      distinctGrams(docs, n)
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .parquet(gramsPath(path))
    }
    ()
  }

  /** Fold a shard's grams into the store — append-only, and only the
    * grams the committed generation does not already hold (the
    * anti-join keeps the store at the true set size; a racing extend
    * can at worst duplicate a gram row, which the reader's distinct
    * absorbs — set union is idempotent). Ledgered by `shardId` so a
    * re-delivered shard is a no-op.
    */
  def extendGramStore(newDocs: DataFrame, path: String,
                      shardId: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    val n = graft.util.Manifest.read(spark, path, "params")
      .head().getInt(0)
    val existing = graft.util.Manifest.read(spark, path, "grams")
    graft.util.Manifest.extend(spark, path, shardId) {
      distinctGrams(newDocs, n)
        .join(existing, Seq("g"), "left_anti")
        .write.mode(org.apache.spark.sql.SaveMode.Append)
        .parquet(gramsPath(path))
    }
    ()
  }

  /** The reference-gram store as a streamed [[graft.util.ShardedStore]]
    * — the novelty reference maintained as a live stream: batch 0
    * initializes, later batches append their genuinely-new grams
    * ([[extendGramStore]] under the ledgered batch id; set union is
    * idempotent anyway, making this the most benign of the stores under
    * re-delivery). Scoring against the streamed store equals
    * from-scratch [[noveltyScore]] over everything streamed.
    */
  def gramStore(path: String, n: Int = 2): ShardedStore =
    ShardedStore.onManifest(path, "grams")(
      buildGramStore(_, path, n, _), extendGramStore(_, path, _))

  /** Score docs' novelty against the STORED reference — the serving
    * side of the loop: old reference text is never re-shingled, the
    * gram set joins in as stored rows. After build + k extends this
    * equals [[noveltyScore]] against everything folded in (set union
    * is exactly what the from-scratch distinct computes — spec- and
    * gate-verified). `asOf` scores against a retained earlier
    * generation.
    */
  def noveltyAgainstStore(target: DataFrame, path: String,
                          asOf: Option[Int] = None): DataFrame = {
    val spark = target.sparkSession
    val n = graft.util.Manifest.read(spark, path, "params")
      .head().getInt(0)
    noveltyVs(target,
      graft.util.Manifest.read(spark, path, "grams", asOf)
        .select(col("g")).distinct(),
      n)
  }

  // ── incremental unigram vocabulary store ──────────────────────────
  //
  // The daily form of [[unigramLogprob]]: corpus token frequencies are
  // the model, and they are ADDITIVE — a shard's counts merge into the
  // stored vocabulary by summation, so the corpus LM maintains
  // incrementally while scoring stays a read-only join against the
  // store. Same lifecycle shape as the dedup/ANN/candle stores:
  // build → extend per shard (append-only) → score many — committed
  // through [[graft.util.Manifest]] generations, so extends are
  // crash-safe and atomically visible, re-delivered shards are no-ops,
  // and any retained generation scores as-of (`VERSION AS OF`).

  private def vocabPath(path: String) = s"$path/vocab"

  /** Per-shard token-count rows of `docs` — the append unit. */
  private def tokenCounts(docs: DataFrame, unicode: Boolean): DataFrame =
    docTokens(docs, unicode).groupBy(col("w")).agg(count(lit(1)).as("c"))

  /** The vocabulary as a [[graft.util.ShardedStore]] — the corpus-LM
    * maintenance loop, batch or streamed: the build writes the first
    * tranche's token counts, every extend APPENDS a shard's own count
    * rows (readers merge by summation, so nothing existing is
    * rewritten). A re-delivered ledgered shard is a no-op — doubled
    * count rows would silently skew every later score. Scoring against
    * the store equals from-scratch [[unigramLogprob]] over everything
    * folded in, and a row-preserving compaction cannot move any score.
    */
  def vocabStore(path: String, unicode: Boolean = false): ShardedStore =
    ShardedStore.additive(path, "vocab")(ShardedStore.Pin.none) { (docs, _, _) =>
      tokenCounts(docs, unicode).write.mode("append").parquet(vocabPath(path))
    }

  /** The store's merged vocabulary: `(w, c)` summed across the shard
    * files of one committed generation (the newest when `asOf` is
    * None).
    */
  def vocabCounts(spark: org.apache.spark.sql.SparkSession, path: String,
                  asOf: Option[Int] = None): DataFrame =
    graft.util.Manifest.read(spark, path, "vocab", asOf)
      .groupBy(col("w")).agg(sum(col("c")).cast("double").as("c"))

  /** Score docs against the STORED corpus LM — the serving side of the
    * daily loop: old text is never re-tokenized, the vocabulary joins
    * in as `(w, c)` rows, and the corpus total is one sum over the
    * vocab (vocabulary-sized, not corpus-sized). After build + k
    * extends this equals [[unigramLogprob]] over everything folded in
    * (counts are additive — gate- and spec-verified). Tokens absent
    * from the vocabulary drop from a doc's mean (inner join), exactly
    * as they would in the from-scratch form. `asOf` scores against a
    * retained earlier generation — yesterday's LM, unperturbed by
    * today's in-flight extend.
    */
  def scoreAgainstVocab(docs: DataFrame, path: String,
                        unicode: Boolean = false,
                        asOf: Option[Int] = None): DataFrame = {
    val spark = docs.sparkSession
    val vocab = vocabCounts(spark, path, asOf)
    val t = vocab.agg(sum(col("c"))).head().getDouble(0)
    scoreTokens(docTokens(docs, unicode), vocab, t)
  }

  /** Corpus-bigram conditional log-probability score — the unigram
    * filter's ([[unigramLogprob]]) next model class up: per doc, the
    * mean negative log of `p(w_i | w_{i-1})` under add-one-smoothed
    * corpus bigram statistics, plus the bigram count. A doc of
    * individually common tokens in an order the corpus never produces
    * (shuffled boilerplate, table dumps, mixed-language lines) scores
    * poorly here while sailing through the unigram gate — which is why
    * production quality filters score with a conditional model.
    *
    * Model: `p(w2|w1) = (c2(w1,w2) + 1) / (c1(w1) + V)` with `c2` the
    * corpus bigram count, `c1(w1)` the context count (occurrences of
    * `w1` with a successor), and `V` the unigram vocabulary size.
    *
    * Scale shape: bigram extraction is MAP-ONLY (two array slices
    * zipped per row — no self-join of adjacent tokens); the bigram
    * table aggregates on the narrow (w1, w2) key with map-side
    * partials; `V` is one driver-side long; scoring is one equi-join
    * of exploded doc bigrams against the bigram table (the context
    * count rides ON the bigram row via a window-free second agg join
    * on w1, also narrow-key). Docs with fewer than two tokens have no
    * bigrams and drop out, same inner-join semantics as the unigram
    * scorer's unseen tokens.
    */
  def bigramLogprob(docs: DataFrame, unicode: Boolean = false): DataFrame = {
    val t = tok(col("text"), unicode)
    val pairs = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => struct(a.as("w1"), b.as("w2")))
    val bg = docs.select(col("doc_id"), explode(pairs).as("p"))
      .select(col("doc_id"), col("p.w1").as("w1"), col("p.w2").as("w2"))
    val c2 = bg.groupBy(col("w1"), col("w2")).agg(count(lit(1)).as("c2"))
    val c1 = bg.groupBy(col("w1")).agg(count(lit(1)).as("c1"))
    val v = docTokens(docs, unicode).select(col("w")).distinct().count()
    bg.join(c2, Seq("w1", "w2")).join(c1, Seq("w1"))
      .groupBy(col("doc_id"))
      .agg(round(avg(-log((col("c2") + lit(1.0)) / (col("c1") + lit(v.toDouble)))),
          6).as("avg_neg_logprob"),
        count(lit(1)).as("n_bigrams"))
  }

  /** Top-k TF-IDF terms per document — the classic statistical
    * featurization (retrieval keys, topic signatures, nearest-neighbor
    * blocking keys). tf is the in-doc term count, idf is
    * `ln(N / doc-frequency)`; scores round to 6 dp BEFORE ranking so
    * ties (and therefore the term-ascending tiebreak) resolve
    * identically in any engine.
    *
    * Scale shape: two grouped aggregations (doc-term counts, term doc
    * frequencies) and one equi-join on the term, all narrow keys with
    * map-side partials; the corpus size is one driver-side long; the
    * final rank is a window PARTITIONED BY doc_id — millions of
    * independent k-row heaps, not a global sort.
    */
  def tfidfTopTerms(docs: DataFrame, k: Int = 5,
                    unicode: Boolean = false): DataFrame = {
    val toks = docs.select(col("doc_id"),
      explode(tok(col("text"), unicode)).as("w"))
    val tf = toks.groupBy(col("doc_id"), col("w"))
      .agg(count(lit(1)).cast("double").as("tf"))
    val df = toks.groupBy(col("w"))
      .agg(countDistinct(col("doc_id")).cast("double").as("df"))
    val n = docs.count().toDouble
    val scored = tf.join(df, "w")
      .select(col("doc_id"), col("w").as("term"),
        round(col("tf") * log(lit(n) / col("df")), 6).as("tfidf"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id")).orderBy(col("tfidf").desc, col("term"))
    scored.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k).drop("rn")
  }

  /** Per-document token statistics: counts, distinct counts, average
    * token length, chars. One projection, no shuffle; the three token
    * statistics come from the one-pass
    * [[graft.functions.TokenStats]] kernel (the built-in
    * `aggregate`/`array_distinct` formulation re-splits the text per
    * lambda element access).
    */
  def tokenStats(docs: DataFrame, unicode: Boolean = false): DataFrame =
    if (!unicode)
      docs
        .withColumn("ts", graft.functions.TextFunctions.tokenStats(col("text")))
        .select(
          col("doc_id"),
          col("ts.n_tokens").as("n_tokens"),
          col("ts.n_distinct_tokens").as("n_distinct_tokens"),
          round(col("ts.sum_token_len").cast("double") / col("ts.n_tokens"), 6)
            .as("avg_token_len"),
          length(col("text")).cast("long").as("n_chars"))
    else
      // regex tokens via built-ins; the token array is projected to its
      // OWN column first so lambdas reference an attribute (an inlined
      // regexp_extract_all would re-run per lambda element — the
      // repetition() trap)
      docs.select(col("doc_id"), col("text"),
          tokensUnicode(col("text")).as("toks"))
        .select(
          col("doc_id"),
          size(col("toks")).cast("long").as("n_tokens"),
          size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
          round(aggregate(transform(col("toks"), t => length(t).cast("long")),
            lit(0L), (a, x) => a + x).cast("double") / size(col("toks")), 6)
            .as("avg_token_len"),
          length(col("text")).cast("long").as("n_chars"))

  /** BPE-style pre-tokenization counts: the GPT-2-family pre-tokenizer
    * splits runs of letters, runs of digits, and individual
    * punctuation/symbol marks before byte-pair merging; these counts
    * are the standard corpus-budget statistics (tokens-per-doc) a
    * training pipeline computes at ingest. Pure regexp built-ins —
    * map-only, codegen'd.
    */
  val bpePattern = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"

  def bpeTokenStats(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .cast("long").as("n_bpe_tokens"),
      size(regexp_extract_all(col("text"), lit("[A-Za-z]+"), lit(0)))
        .cast("long").as("n_alpha_runs"),
      size(regexp_extract_all(col("text"), lit("[0-9]+"), lit(0)))
        .cast("long").as("n_digit_runs"),
      size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9\\s]"), lit(0)))
        .cast("long").as("n_marks"))

  /** Tokenizer fertility per stratum — tokens-per-word by language/
    * source, THE tokenizer-QA number: a tokenizer tuned on English
    * typically fragments other languages into far more pieces per
    * word, which silently taxes their effective context length and
    * training budget; the per-stratum fertility table is how that tax
    * is audited before a run. Tokens come from the GPT-2-family
    * pre-tokenizer counts ([[bpeTokenStats]]'s [[bpePattern]]), words
    * from the whitespace split. Map-only per-doc counts + one
    * strata-sized aggregation.
    */
  def bpeFertility(docs: DataFrame, stratumCol: String): DataFrame =
    docs.select(col(stratumCol),
        size(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .cast("long").as("bpe"),
        size(split(col("text"), " ")).cast("long").as("ws"))
      .groupBy(col(stratumCol))
      .agg(sum(col("bpe")).as("n_bpe_tokens"),
        sum(col("ws")).as("n_ws_tokens"),
        round(sum(col("bpe")).cast("double") / sum(col("ws")), 6)
          .as("fertility"))

  // ── trained BPE tokenizer ─────────────────────────────────────────
  //
  // Byte-pair-encoding TRAINING as a distributed operator — the other
  // half of [[bpeTokenStats]] (which only counts pre-tokens): learn the
  // merge table from corpus statistics, then tokenize with it. The
  // algorithm is the published BPE procedure (Sennrich et al. 2016, and
  // the GPT-2 tokenizer family): pre-tokenize, represent each distinct
  // pre-token as a character sequence, then repeatedly (a) count
  // adjacent symbol pairs weighted by word frequency, (b) merge the
  // most frequent pair everywhere (left-to-right, non-overlapping),
  // recording it in the merge table.
  //
  // Scale shape: the corpus is touched ONCE (the pre-token count
  // aggregation — corpus-sized, one shuffle on the word). Every
  // training round after that runs on the DISTINCT-WORD table
  // (vocabulary-sized — millions of rows at 100 TB, not trillions):
  // one exploded pair aggregation + a top-1 `orderBy(...).limit(1)`
  // (TakeOrderedAndProject — no global sort materializes), and one
  // map-only re-segmentation fold. Each round snapshots the word table
  // to parquet ([[Dedup.writeThroughAt]]) so the logical plan stays
  // O(1) — `nMerges` chained lambda transforms would otherwise nest
  // the plan `nMerges` deep. Driver state is the merge table itself
  // (`nMerges` rows) plus two totals — bounded.

  private def bpeMergesPath(p: String) = s"$p/merges"
  private def bpeWordsPath(p: String) = s"$p/words"
  private def bpeStatsPath(p: String) = s"$p/stats"
  private def bpeVocabPath(p: String) = s"$p/vocab"

  /** The stored segmentation cache `(word, n_seg, segs)` — exposed so
    * a gate harness can hand the trained model to an external oracle
    * (the apply/encode joins are then independently recomputable
    * outside Spark).
    */
  def bpeSegmentation(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(bpeWordsPath(path))

  /** The stored serving vocabulary `(symbol, id)` — dense lexicographic
    * ids over the trained model's final segments.
    */
  def bpeVocab(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(bpeVocabPath(path))

  /** Tokenize `docs` to TRAINING TOKEN IDS with the trained model —
    * the artifact an LLM data pipeline actually ships: per document,
    * the ordered `array<int>` of vocabulary ids. Plan shape mirrors
    * [[applyBpe]] (pre-token equi-join against the segmentation cache;
    * old text never re-segmented) plus a symbol→id join against the
    * stored vocabulary; token order is recovered with an
    * `array_sort(struct(pre-token pos, segment idx, id))` per document
    * — a grouped aggregation, never a global window.
    *
    * Unseen words fall back to per-character symbols ([[applyBpe]]'s
    * contract); characters outside the vocabulary encode as id −1
    * (documented OOV sentinel — a real deployment grows the vocab or
    * byte-fallbacks; the sentinel keeps the encoding total and
    * deterministic). Documents with no pre-tokens emit an empty array.
    */
  def encodeBpe(docs: DataFrame, path: String): DataFrame = {
    val spark = docs.sparkSession
    val segs = spark.read.parquet(bpeWordsPath(path)).select("word", "segs")
    val vocab = bpeVocab(spark, path)
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    val pre = docs.select(col("doc_id"),
      posexplode_outer(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
        .as(Seq("pos", "word")))
    val toks = pre.join(segs, Seq("word"), "left")
      .select(col("doc_id"), col("pos"),
        posexplode(coalesce(col("segs"), chars)).as(Seq("idx", "symbol")))
    val ids = toks.join(vocab, Seq("symbol"), "left")
      .select(col("doc_id"), col("pos"), col("idx"),
        coalesce(col("id"), lit(-1)).cast("int").as("tid"))
    val agg = ids.groupBy("doc_id").agg(
      transform(array_sort(collect_list(struct(col("pos"), col("idx"), col("tid")))),
        s => s.getField("tid")).as("token_ids"))
    docs.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("token_ids"), array().cast("array<int>")).as("token_ids"))
  }

  /** Pack the encoded corpus into fixed-length TRAINING SEQUENCES —
    * the artifact that actually feeds a trainer: documents in
    * deterministic doc_id order, each document's [[encodeBpe]] ids
    * followed by `sepId` (distinct from the −1 OOV sentinel), the
    * whole token stream chunked into `seqLen`-id sequences with the
    * final partial kept. Returns `(seq_id, token_ids array<int>)`.
    *
    * Scale shape: global token positions come from the two-phase
    * range-exchange enumeration (per-partition token counts → driver
    * prefix → map), NEVER a one-task global window — the
    * [[graft.operators.Curation.shufflePositions]] discipline. The
    * one full-stream exchange is the `groupBy(seq_id)` that assembles
    * sequences — inherent to repacking (every token changes container)
    * — and per-group state is bounded by `seqLen`.
    */
  def packTokenIds(docs: DataFrame, path: String, seqLen: Int,
                   sepId: Int = -2): DataFrame = {
    require(seqLen >= 2, "seqLen must be at least 2")
    val spark = docs.sparkSession
    val enc = encodeBpe(docs, path).select(col("doc_id"),
      concat(col("token_ids"), array(lit(sepId).cast("int"))).as("ids"))
    val parts = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // ONE .rdd materialization: the range exchange's bounds are sampled
    // once inside this RDD's shuffle dependency and its map output is
    // reused by both actions below, so the count pass and the emit pass
    // see identical partitioning (the shufflePositions correctness
    // argument)
    val rdd = enc.repartitionByRange(parts, col("doc_id"))
      .sortWithinPartitions("doc_id").rdd
    // bounded driver data: one long per partition (token counts)
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      var t = 0L
      while (it.hasNext) { t += it.next().getSeq[Int](1).size.toLong }
      Iterator((i, t))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val tokRows = rdd.mapPartitionsWithIndex { (i, it) =>
      var pos = offsets(i)
      it.flatMap { r =>
        r.getSeq[Int](1).iterator.map { id =>
          val p = pos; pos += 1
          org.apache.spark.sql.Row(p / seqLen, p % seqLen, id)
        }
      }
    }
    import org.apache.spark.sql.types._
    val flat = spark.createDataFrame(tokRows, StructType(Seq(
      StructField("seq_id", LongType, nullable = false),
      StructField("off", LongType, nullable = false),
      StructField("tid", IntegerType, nullable = false))))
    flat.groupBy("seq_id").agg(
      transform(array_sort(collect_list(struct(col("off"), col("tid")))),
        s => s.getField("tid")).as("token_ids"))
  }

  /** The corpus's word n-grams as one `ngram` column (whitespace
    * tokenization, space-joined) — the item stream the heavy-hitter
    * operators and stores consume.
    */
  def ngrams(docs: DataFrame, n: Int): DataFrame = {
    require(n >= 1)
    // byte-span kernel (r17): the previous SQL transform inlined
    // `split` into the lambda, so each element_at re-ran the tokenizer
    // — O(tokens²) per doc (the hazard repetition/ngramDigest dodge by
    // projecting tokens to an attribute first), plus a concat_ws
    // string build per gram. NgramStrings emits string-identical grams
    // as zero-copy views in one pass.
    docs.select(explode_outer(
        graft.functions.VectorFunctions.ngramStrings(col("text"), n))
        .as("ngram"))
      .filter(col("ngram").isNotNull)
  }

  /** EXACT top-k most frequent n-grams via the sketch-then-recount
    * two-pass — the shape that answers "what are the corpus's dominant
    * phrases" over 100 TB without shuffling every distinct n-gram:
    *
    *  1. one [[FreqSketch.MisraGries]] pass with `capacity` counters —
    *     only capacity-entry maps cross the (single-key) shuffle, and
    *     the mergeable-summaries bound guarantees every n-gram with
    *     true count > N/(capacity+1) survives as a candidate whatever
    *     partition order the partials merged in;
    *  2. one exact recount of the ≤ capacity candidates (an `isin`
    *     pushdown filter, then a tiny groupBy) and a k-row take.
    *
    * The result is provably the exact top-k whenever the k-th true
    * count exceeds N/(capacity+1) — on corpora where it doesn't
    * (near-uniform small vocabularies deflate every retained count,
    * inflating the bound), the operator ESCALATES: capacity doubles
    * and the two-pass reruns, up to `maxDoublings` times, so callers
    * get the exact answer at adaptive cost instead of a refusal. A
    * doubled capacity reaching the distinct-item count makes the
    * "sketch" an exact bounded map (bound 0 — completeness trivially
    * proven), so escalation always terminates on bounded
    * vocabularies; the throw remains only for corpora still unproven
    * at the escalation cap. The spec asserts the FIRST-attempt
    * capacity really evicts (capacity < distinct n-grams at gate
    * scale — the claim is about the sketch, not a disguised exact
    * groupBy). Ties at the k-th count break by n-gram text,
    * deterministically.
    */
  def heavyNgrams(docs: DataFrame, n: Int = 2, k: Int = 20,
                  capacity: Int = 768, maxDoublings: Int = 3): DataFrame = {
    require(k >= 1 && capacity >= k && maxDoublings >= 0)
    val spark = docs.sparkSession
    import spark.implicits._
    // widen BEFORE the explode: the doc rows shuffle (narrow), the
    // gram rows never do, and both the sketch pass and the recounts
    // run at full parallelism instead of one-file-one-task
    val grams = ngrams(FreqSketch.widenToCores(docs), n)
    var cap = capacity
    var attempt = 0
    var result: Option[Seq[(String, Long)]] = None
    var lastKth = 0L
    var lastBound = 0.0
    while (result.isEmpty && attempt <= maxDoublings) {
      val mg = udaf(new FreqSketch.MisraGries(cap))
      // N and the sketch come from the SAME pass; the Misra-Gries
      // error bound (N − Σ retained counts)/(capacity+1) is then
      // derived from THIS corpus, at whatever scale the caller runs —
      // not a constant calibrated against any testdata generation.
      val row = grams.agg(mg(col("ngram")).as("sk"),
        count(lit(1)).as("n")).head()
      val sk = row.getMap[String, Long](0)
      val total = row.getLong(1)
      val bound = (total - sk.valuesIterator.sum).toDouble / (cap + 1)
      // the completeness decision comes from the SKETCH, before any
      // recount is paid: ≥ k items retain a count above the bound ⟹
      // their TRUE counts (≥ retained) put the true k-th count above
      // the bound too, so no evicted item (true count ≤ bound) can be
      // a true top-k member — the candidate set is provably complete
      // and the recount below cannot fail its check by construction.
      val kthRetained =
        if (sk.size < k) -1L
        else sk.valuesIterator.toSeq.sorted(Ordering[Long].reverse)(k - 1)
      if (total == 0) result = Some(Seq.empty)
      else if (bound == 0.0) {
        // zero lost mass ⟹ the map never decremented: it holds the
        // EXACT count of every distinct item (the escalated-capacity
        // terminal state) — serve the top-k directly, no second pass
        result = Some(sk.toSeq.sortBy { case (g, c) => (-c, g) }.take(k))
      } else if (kthRetained.toDouble > bound) {
        val top = grams.filter(col("ngram").isin(sk.keys.toSeq: _*))
          .groupBy("ngram").agg(count(lit(1)).as("cnt"))
          .orderBy(col("cnt").desc, col("ngram")).limit(k)
          .as[(String, Long)].collect()
        result = Some(top.toSeq)
      } else {
        lastKth = math.max(kthRetained, 0L)
        lastBound = bound
        if (attempt < maxDoublings)
          org.apache.log4j.Logger.getLogger(getClass).warn(
            f"heavyNgrams: k-th retained count $lastKth ≤ error bound " +
              f"$lastBound%.1f at capacity $cap — escalating to ${cap * 2}")
        cap *= 2
        attempt += 1
      }
    }
    result.map(_.toDF("ngram", "cnt")).getOrElse {
      throw new IllegalStateException(
        s"heavyNgrams: k-th retained count $lastKth does not clear the " +
          f"sketch error bound $lastBound%.1f even after $maxDoublings " +
          s"capacity doublings (final capacity ${cap / 2}) — the candidate " +
          "set may be missing true heavy hitters; raise capacity/" +
          "maxDoublings or lower k")
    }
  }

  /** One trained merge: `rank` is training order, `pair_count` the
    * (overlap-naive, standard) adjacent-pair count that won the argmax,
    * `applied_count` how many merges actually applied corpus-wide
    * (non-overlapping, left-to-right — on runs like "aaa" the two
    * overlapping (a,a) pairs admit one merge).
    */
  case class BpeMerge(rank: Int, left: String, right: String,
                      merged: String, pair_count: Long, applied_count: Long)

  /** Train `nMerges` BPE merges over `docs` and persist the model at
    * `path`: `merges/` (the table above), `words/` (every distinct
    * pre-token with its FINAL segment count — the serving-side
    * segmentation cache [[applyBpe]] joins against), `stats/` (initial
    * symbol total). Deterministic end-to-end: pair counts are exact
    * longs, the argmax tiebreak is (count desc, left asc, right asc),
    * and the merge fold is order-independent per word. Training stops
    * early when no pair reaches `minCount` (returns the merges made).
    */
  def trainBpe(docs: DataFrame, path: String, nMerges: Int,
               minCount: Long = 2): Seq[BpeMerge] = {
    val spark = docs.sparkSession
    import spark.implicits._
    val chars = transform(sequence(lit(1), length(col("word"))),
      i => col("word").substr(i, lit(1)))
    var (words, snapPath) = Dedup.writeThroughAt(
      docs.select(explode(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .select(col("word"), col("cnt"), chars.as("seg")))
    def symbolTotal(w: DataFrame): Long =
      w.agg(coalesce(sum(size(col("seg")) * col("cnt")), lit(0L))).head().getLong(0)
    val initialSymbols = symbolTotal(words)
    var total = initialSymbols
    val merges = scala.collection.mutable.ArrayBuffer.empty[BpeMerge]
    var rank = 0
    var done = false
    while (rank < nMerges && !done) {
      // adjacent-pair counts over the vocabulary, weighted by word
      // frequency. explode_outer: a plain explode would infer a
      // size>0 pre-filter that re-evaluates the pair transform per
      // element (the repetition() trap).
      val best = words
        .select(col("cnt"), explode_outer(
          when(size(col("seg")) >= 2,
            transform(sequence(lit(1), size(col("seg")) - 1),
              j => struct(element_at(col("seg"), j).as("a"),
                element_at(col("seg"), j + 1).as("b"))))).as("p"))
        .filter(col("p").isNotNull)
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("cnt")).as("n"))
        .orderBy(col("n").desc, col("a"), col("b"))
        .limit(1).collect()
      if (best.isEmpty || best.head.getLong(2) < minCount) done = true
      else {
        val (a, b, n) = (best.head.getString(0), best.head.getString(1),
          best.head.getLong(2))
        val merged = a + b
        // left-to-right non-overlapping merge fold: append, or replace
        // the just-appended `a` when `b` follows it. A replaced slot
        // holds `merged` (strictly longer than `a`), so a merged slot
        // can never be re-merged within the same round — exactly the
        // sequential semantics. try_element_at: the empty-accumulator
        // probe must yield null, not an ANSI index error.
        val newSeg = aggregate(col("seg"),
          array().cast("array<string>"),
          (acc, s) =>
            when(try_element_at(acc, lit(-1)) === lit(a) && s === lit(b),
              concat(slice(acc, lit(1), size(acc) - 1), array(lit(merged))))
              .otherwise(concat(acc, array(s))))
        val (next, nextPath) = Dedup.writeThroughAt(
          words.select(col("word"), col("cnt"), newSeg.as("seg")))
        val newTotal = symbolTotal(next)
        merges += BpeMerge(rank, a, b, merged, n, total - newTotal)
        Dedup.dropSnapshot(spark, snapPath)
        words = next; snapPath = nextPath; total = newTotal
        rank += 1
      }
    }
    merges.toSeq.toDF()
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(bpeMergesPath(path))
    // the cache keeps the final segment ARRAYS, not just their counts:
    // [[applyBpe]] reads n_seg; [[encodeBpe]] needs the symbols
    words.select(col("word"), size(col("seg")).cast("long").as("n_seg"),
        col("seg").as("segs"))
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(bpeWordsPath(path))
    // serving vocabulary: every final segment symbol with a dense id in
    // lexicographic order — a deterministic function of the trained
    // cache, so re-training reproduces identical ids. Bounded driver
    // state: distinct final segments (≤ alphabet + merges).
    val symbols = words.select(explode(col("seg")).as("symbol")).distinct()
      .collect().map(_.getString(0)).sorted
    symbols.zipWithIndex.toSeq.toDF("symbol", "id")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(bpeVocabPath(path))
    Seq(initialSymbols).toDF("initial_symbols")
      .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
      .parquet(bpeStatsPath(path))
    Dedup.dropSnapshot(spark, snapPath)
    merges.toSeq
  }

  /** Tokenize `docs` with the trained model — the serving path: every
    * pre-token occurrence joins the stored segmentation cache (one
    * equi-join on the word; vocabulary-sized build side, broadcast or
    * sort-merge as AQE sizes it) and per-doc BPE token counts
    * aggregate back. Words unseen at training time fall back to
    * character count (their worst-case segmentation — documented,
    * deterministic). Old text is never re-segmented through the merge
    * loop: the cache IS the apply-side model, the same build-once/
    * serve-many shape as the vocab/ANN/candle stores.
    */
  def applyBpe(docs: DataFrame, path: String): DataFrame = {
    val spark = docs.sparkSession
    val segs = spark.read.parquet(bpeWordsPath(path))
    docs.select(col("doc_id"),
        explode_outer(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .as("word"))
      .join(segs, Seq("word"), "left")
      .groupBy("doc_id")
      .agg(
        coalesce(sum(coalesce(col("n_seg"), length(col("word")).cast("long"))),
          lit(0L)).as("n_bpe_tokens"),
        count(col("word")).as("n_pretokens"))
  }

  /** Driver-visible contract of the trained model — four invariant
    * rows `(invariant, ok)` any engine can assert as constants:
    *  - `merge_concat`: every merged symbol is left||right;
    *  - `ranks_contiguous`: ranks are exactly 0..n-1;
    *  - `token_total_reconciles`: re-tokenizing the TRAINING corpus
    *    through the stored segmentation cache shrinks the symbol total
    *    by exactly the sum of recorded `applied_count`s — a cross-check
    *    of three independently stored artifacts (stats row, merge
    *    ledger, word cache) against a fresh corpus scan;
    *  - `apply_bounds`: per pre-token occurrence, the BPE segment
    *    count sits in [1, char length].
    */
  def bpeInvariants(docs: DataFrame, path: String): DataFrame = {
    val spark = docs.sparkSession
    val merges = spark.read.parquet(bpeMergesPath(path))
    val nM = merges.count()
    val initial = spark.read.parquet(bpeStatsPath(path)).head().getLong(0)
    val appliedSum = merges.agg(coalesce(sum(col("applied_count")), lit(0L)))
      .head().getLong(0)
    val structural = merges.agg(
      (count(when(col("merged") =!= concat(col("left"), col("right")), 1)) === 0)
        .as("ok"))
      .select(lit("merge_concat").as("invariant"), col("ok"))
    val ranks = merges.agg(
      (lit(nM == 0) || (min(col("rank")) === 0 && max(col("rank")) === nM - 1 &&
        countDistinct(col("rank")) === nM)).as("ok"))
      .select(lit("ranks_contiguous").as("invariant"), col("ok"))
    val joined = docs.select(
        explode_outer(regexp_extract_all(col("text"), lit(bpePattern), lit(0)))
          .as("word"))
      .filter(col("word").isNotNull)
      .join(spark.read.parquet(bpeWordsPath(path)), Seq("word"), "left")
    val totals = joined.agg(
      (coalesce(sum(coalesce(col("n_seg"), length(col("word")).cast("long"))),
        lit(0L)) === lit(initial - appliedSum)).as("reconciles"),
      (count(when(col("n_seg") < 1 ||
        col("n_seg") > length(col("word")), 1)) === 0).as("bounded"))
    totals.select(lit("token_total_reconciles").as("invariant"),
        col("reconciles").as("ok"))
      .unionByName(totals.select(lit("apply_bounds").as("invariant"),
        col("bounded").as("ok")))
      .unionByName(structural).unionByName(ranks)
  }

  /** Quality score: stopword ratio, type-token ratio, length band.
    * Deterministic heuristic — the shape of C4/Gopher-style quality
    * filters with the lexicons shrunk to the synthetic corpus.
    */
  val stopwords: Seq[String] = Seq("the", "a", "of", "and", "to", "in")

  def qualityScore(docs: DataFrame, unicode: Boolean = false): DataFrame = {
    val toks = tok(col("text"), unicode)
    val stopArr = array(stopwords.map(lit): _*)
    val nTok = size(toks).cast("double")
    val stopRatio = size(filter(toks, t => array_contains(stopArr, t))).cast("double") / nTok
    val typeToken = size(array_distinct(toks)).cast("double") / nTok
    val lengthOk = (col("n_chars") >= 50 && col("n_chars") <= 5000).cast("int")
    docs.select(
      col("doc_id"),
      round(stopRatio, 6).as("stopword_ratio"),
      round(typeToken, 6).as("type_token_ratio"),
      lengthOk.as("length_ok"),
      round(stopRatio * 0.3 + typeToken * 0.5 + lengthOk.cast("double") * 0.2, 6)
        .as("quality_score"))
  }

  /** Language-ID by stopword-profile overlap (classic n-gram/lexicon
    * heuristic, shrunk to small deterministic profiles). Scores each
    * profile by distinct-token overlap; argmax with fixed tie order.
    */
  val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a", "of", "and", "to", "fast", "slow", "small", "big"),
    "es" -> Seq("el", "la", "de", "y", "datos", "tabla", "fila", "columna"),
    "de" -> Seq("der", "die", "das", "und", "zu", "daten", "zeile", "spalte"))

  def langId(docs: DataFrame): DataFrame = {
    val distinctToks = array_distinct(tokens(col("text")))
    val scored = langProfiles.foldLeft(docs.select(col("doc_id"), col("lang"), distinctToks.as("toks"))) {
      case (df, (lang, profile)) =>
        val profArr = array(profile.map(lit): _*)
        df.withColumn(s"score_$lang",
          size(filter(col("toks"), t => array_contains(profArr, t))).cast("long"))
    }
    // argmax with deterministic tie order = profile declaration order
    val best = langProfiles.map { case (lang, _) => (lang, col(s"score_$lang")) }
      .foldLeft((lit("und"), lit(-1L))) { case ((bestLang, bestScore), (lang, score)) =>
        (when(score > bestScore, lit(lang)).otherwise(bestLang),
          when(score > bestScore, score).otherwise(bestScore))
      }
    scored.select(
      col("doc_id") +: col("lang").as("labeled_lang") +:
        langProfiles.map { case (l, _) => col(s"score_$l") } :+
        best._1.as("pred_lang"): _*)
  }

  /** Canonical document fingerprint: md5 over the sorted distinct token
    * set — an order/multiplicity-insensitive content hash (the
    * "canonicalize then hash" fingerprinting family). Identical tokens
    * in any order/repetition → identical fingerprint.
    */
  def fingerprint(docs: DataFrame): DataFrame =
    docs.select(
      col("doc_id"),
      md5(concat_ws(" ", array_sort(array_distinct(tokens(col("text")))))).as("fingerprint"))

  /** Gopher-family quality RULE bundle: hard per-doc pass/fail flags —
    * token-count band, mean-token-length band, symbol-character ratio,
    * stopword presence, top-bigram share — and the conjunctive `keep`
    * bit. This is the filter stage a pretraining pipeline runs after
    * scoring: rules, not scores, decide survival. Map-only except the
    * repetition signal, which joins in from [[repetition]] (one
    * shuffle + one broadcast-able join on doc_id). Thresholds follow
    * the published rule family, scaled to this corpus's token world.
    */
  def qualityFlags(docs: DataFrame,
                   minTokens: Int = 30, maxTokens: Int = 100000,
                   maxTopBigramShare: Double = 0.20): DataFrame = {
    val stopArr = array(stopwords.map(lit): _*)
    val base = docs
      .withColumn("ts", graft.functions.TextFunctions.tokenStats(col("text")))
      .select(
        col("doc_id"),
        col("ts.n_tokens").as("n_tokens"),
        (col("ts.sum_token_len").cast("double") / col("ts.n_tokens")).as("avg_tok"),
        (size(filter(tokens(col("text")), t => array_contains(stopArr, t))) > 0)
          .as("has_stopword"),
        (size(regexp_extract_all(col("text"), lit("[^A-Za-z0-9 ]"), lit(0)))
          .cast("double") / length(col("text"))).as("symbol_ratio"))
    val rep = repetition(docs, 2).select(col("doc_id"), col("top_fraction"))
    val flags = base.join(rep, Seq("doc_id"), "left")
      .select(
        col("doc_id"), col("n_tokens"),
        (col("n_tokens") >= minTokens && col("n_tokens") <= maxTokens)
          .as("flag_length"),
        (col("avg_tok") >= 2.0 && col("avg_tok") <= 12.0).as("flag_word_len"),
        (col("symbol_ratio") <= 0.25).as("flag_symbols"),
        col("has_stopword").as("flag_stopword"),
        // docs too short for bigrams count as maximally repetitive
        (coalesce(col("top_fraction"), lit(1.0)) <= maxTopBigramShare)
          .as("flag_repetition"))
    flags.withColumn("keep",
      col("flag_length") && col("flag_word_len") && col("flag_symbols") &&
        col("flag_stopword") && col("flag_repetition"))
  }

  /** Within-document repetition signals (the Gopher-family quality
    * rule): per doc, the total word `n`-gram count, the most frequent
    * n-gram's count, its share of the total, and the distinct-gram
    * share. High `top_fraction` / low `distinct_fraction` marks
    * boilerplate and looping generations.
    *
    * Shape: tokens are projected to their OWN column first so the
    * n-gram lambda references an attribute (one split per row — an
    * inlined `split` would re-run per lambda element); grams explode
    * into a two-level aggregation whose first level combines map-side.
    * Docs shorter than `n` tokens have no grams and emit no row.
    */
  def repetition(docs: DataFrame, n: Int = 2): DataFrame = {
    val toked = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    val grams = toked
      .withColumn("grams", when(size(col("toks")) >= n,
        transform(sequence(lit(0), size(col("toks")) - n), i =>
          concat_ws(" ", (0 until n).map(j =>
            element_at(col("toks"), (i + j + 1).cast("int"))): _*)))
        .otherwise(array().cast("array<string>")))
      // count distinct grams BY 64-bit HASH: the per-gram shuffle then
      // carries 8-byte keys instead of gram strings (counts are
      // identical up to a ~2⁻⁶⁴ collision, same trade as Dedup).
      // explode_OUTER on purpose: plain explode makes the optimizer
      // infer a `size(grams) > 0` pre-filter and push it below the
      // token projection, where it re-evaluates the whole n-gram
      // transform with `split(text)` inlined PER ELEMENT — O(tokens²)
      // per doc, twice. Outer explode infers nothing; the null rows
      // from gram-less docs drop in a post-Generate filter instead.
      .select(col("doc_id"), explode_outer(col("grams")).as("gram"))
      .filter(col("gram").isNotNull)
      .select(col("doc_id"), xxhash64(col("gram")).as("gram"))
    grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("cnt"))
      .groupBy("doc_id").agg(
        sum(col("cnt")).as("n_grams"),
        max(col("cnt")).as("top_gram_count"),
        round(max(col("cnt")) * lit(1.0) / sum(col("cnt")), 6).as("top_fraction"),
        round(count(lit(1)) * lit(1.0) / sum(col("cnt")), 6).as("distinct_fraction"))
  }

  /** The full ORDERED n-gram stream of every document, digested to one
    * delimiter-joined string per doc (plus the gram count). Unlike
    * [[repetition]] — which hashes grams and keeps only aggregate
    * shape — this emits the complete array content, ordered, so the
    * gate's comparator covers every element and its position (the
    * array-column comparator is unproven; a string digest is not).
    *
    * Map-only: one split per row, one `transform` over an attribute
    * (never an inlined `split` per lambda element — that re-evaluates
    * the tokenizer O(tokens²) per doc), no shuffle, no explode. Docs
    * shorter than `n` tokens digest to the empty string.
    */
  def ngramDigest(docs: DataFrame, n: Int = 3, sep: String = "|"): DataFrame = {
    val toked = docs.select(col("doc_id"), tokens(col("text")).as("toks"))
    toked
      .withColumn("grams", when(size(col("toks")) >= n,
        transform(sequence(lit(0), size(col("toks")) - n), i =>
          concat_ws(" ", (0 until n).map(j =>
            element_at(col("toks"), (i + j + 1).cast("int"))): _*)))
        .otherwise(array().cast("array<string>")))
      .select(col("doc_id"),
        concat_ws(sep, col("grams")).as("gram_csv"),
        size(col("grams")).cast("long").as("n_grams"))
  }
}
