package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VectorFunctions
import graft.util.ShardedStore

/** Corpus-curation operators for LLM training-data pipelines, beyond
  * dedup/similarity: benchmark decontamination, deterministic
  * train/val/test splitting, sequence packing, and PII scrubbing.
  *
  * Scale design (100 TB):
  *  - Decontamination joins the corpus against the benchmark on 8-byte
  *    shingle hashes with the benchmark side broadcast — eval sets are
  *    bounded (MBs), so the corpus streams through map-side in one
  *    pass, no corpus shuffle at all.
  *  - Splits/sampling hash the ID column — content never moves; the
  *    assignment is a map-only projection, reproducible across engines
  *    and runs (md5, not JVM-seeded RNG).
  *  - Packing computes running token offsets per shard with a window
  *    partitioned BY shard — shards pack in parallel (the global-order
  *    variant would be a single-partition window, the classic scale
  *    trap).
  *  - Scrubbing is a map-only regex pass (codegen'd `regexp_replace`).
  */
object Curation {

  /** Contamination report: corpus docs sharing at least `minShared`
    * word `n`-grams with a benchmark doc — the overlap check used to
    * decontaminate pretraining data against eval sets. One row per
    * contaminated (doc, bench) pair with the shared-shingle count.
    *
    * The join runs on 64-bit shingle hashes (distinct-per-doc), so the
    * shared count equals the string-shingle overlap up to a ~2⁻⁶⁴
    * collision. `broadcast` on the benchmark side is deliberate and
    * safe: benchmarks are bounded small by nature (unlike the corpus
    * tables that must never be hinted — see Dedup).
    */
  def contaminationReport(corpus: DataFrame, benchmark: DataFrame,
                          n: Int = 3, minShared: Int = 1): DataFrame = {
    // explode_outer: plain explode would make the optimizer infer a
    // size(...) > 0 pre-filter that re-evaluates the shingle kernel
    // per row below this projection (see TextOps.repetition)
    val c = corpus.select(col("doc_id"),
        explode_outer(VectorFunctions.shingleHashes(col("text"), n)).as("h"))
      .filter(col("h").isNotNull)
    val b = benchmark.select(col("doc_id").as("bench_id"),
        explode_outer(VectorFunctions.shingleHashes(col("text"), n)).as("h"))
      .filter(col("h").isNotNull)
    c.join(broadcast(b), "h")
      .groupBy("doc_id", "bench_id")
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }

  /** Corpus rows with every contaminated doc removed — the apply side
    * of [[contaminationReport]].
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    n: Int = 3, minShared: Int = 1): DataFrame =
    corpus.join(
      contaminationReport(corpus, benchmark, n, minShared)
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")

  /** Decontaminate by CONTAINMENT — drop every corpus document whose
    * shingle overlap with some benchmark item reaches
    * `|A∩B|/min(|A|,|B|) ≥ threshold`
    * ([[graft.operators.Dedup.ngramContainmentAcross]]). This is the
    * metric benchmark leakage actually presents as: a benchmark item
    * QUOTED inside a long training document has containment ≈ 1 while
    * its Jaccard — and any Jaccard-tuned banding's collision odds —
    * vanishes with the length ratio. Exact by the prefix-filter
    * theorem; anti-join keyed by doc_id, so the corpus never
    * materializes more than once.
    */
  def decontaminateByContainment(corpus: DataFrame, benchmark: DataFrame,
                                 n: Int = 2,
                                 threshold: Double = 0.5): DataFrame =
    corpus.join(
      graft.operators.Dedup.ngramContainmentAcross(corpus, benchmark, n, threshold)
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")

  /** Decontaminate by EDIT DISTANCE on a key column — drop every
    * corpus document whose key is within `maxDist` character edits of
    * some benchmark item's key
    * ([[graft.operators.Dedup.editDistanceJoinAcross]]). This is the
    * leakage shape the SET metrics under-score: a benchmark title or
    * prompt copied with a typo, punctuation drift, or OCR noise moves
    * edit distance by 1–2 while whole token shingles churn. The
    * corpus/benchmark frames must both carry `doc_id` and `keyCol`;
    * the anti-join is keyed by doc_id, so the corpus never
    * materializes more than once.
    */
  def decontaminateByEdit(corpus: DataFrame, benchmark: DataFrame,
                          keyCol: String, maxDist: Int = 2): DataFrame =
    corpus.join(
      graft.operators.Dedup
        .editDistanceJoinAcross(corpus, benchmark, keyCol, maxDist)
        .select("doc_id").distinct(),
      Seq("doc_id"), "left_anti")

  /** Bloom-prefiltered containment decontamination — the 100 TB shape
    * of [[decontaminateByContainment]], BIT-IDENTICAL to it: the
    * benchmark's distinct shingle hashes are folded into one Bloom
    * filter (benchmarks are MBs; the filter is KBs–MBs), compiled into
    * the corpus scan ([[graft.functions.BloomMightContainAnyLong]] — one
    * codegen'd any-element probe over the shingle array with first-hit
    * early exit, no explode, no shuffle), and only docs with at least
    * one possible shared shingle ever reach the exact containment
    * join. A doc with
    * ZERO shared shingles has containment 0 < t, so non-candidates
    * survive by construction; Bloom's one-sided error (false positives
    * only) means the candidate set is a superset of the true flagged
    * set, and the exact verification removes the false positives —
    * the same equality contract [[graft.operators.Bloom.bloomStoreJoin]]
    * gates, so this gate shares the exact path's DuckDB oracle
    * verbatim.
    *
    * Why it matters at scale: the exact path explodes EVERY corpus
    * doc's prefix shingles into the index join; here the corpus pays
    * one map-only scan (filter membership is a codegen'd long probe)
    * and the join input shrinks to the contamination-adjacent sliver —
    * on a 100 TB corpus against a bounded eval suite that is the
    * difference between shuffling the corpus and shuffling megabytes.
    * The benchmark pays one count + one filter build (driver-merged
    * over its partitions — bounded by the declared key volume).
    *
    * Measured boundary (ScaleProbe `bloom` section, sf1): the win
    * tracks shingle SELECTIVITY. On the template-vocab corpus word
    * bigrams appear in nearly every doc, so the prefilter prunes
    * nothing and costs its probe scan (~12% CPU over exact — the
    * bounded worst case); at n=5 the candidate sliver is real and CPU
    * halves (119 → 64 CPU-s). Production decon recipes use long
    * n-grams (the GPT-3/Pile 13-gram rule) precisely because they are
    * selective — the regime this path is built for.
    */
  def decontaminateByBloom(corpus: DataFrame, benchmark: DataFrame,
                           n: Int = 2, threshold: Double = 0.5,
                           fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    val benchSh = benchmark
      .select(explode(VectorFunctions.shingleHashes(col("text"), n)).as("sh"))
      .distinct()
    val nKeys = math.max(benchSh.count(), 1L)
    val bloom = benchSh.stat.bloomFilter("sh", nKeys, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val holder = new graft.functions.BloomHolder(bos.toByteArray)
    // the corpus side never leaves the scan: one codegen'd
    // any-element probe with first-hit early exit partitions the
    // corpus into non-candidates (bypass — containment provably 0)
    // and the candidate sliver that pays the exact verification
    val mightShare = ColumnBridge.column(
      graft.functions.BloomMightContainAnyLong(
        ColumnBridge.expression(VectorFunctions.shingleHashes(col("text"), n)),
        holder))
    corpus.filter(!mightShare)
      .unionByName(decontaminateByContainment(
        corpus.filter(mightShare), benchmark, n, threshold))
  }

  /** SURGICAL decontamination — scrub verbatim benchmark n-gram runs
    * out of corpus text instead of dropping whole documents (the
    * GPT-3/Pile 13-gram-collision recipe, the remedy when a long,
    * otherwise-good document merely QUOTES an eval item): every
    * w-token sliding window of the corpus (all offsets, not
    * stride-aligned — quotes don't align to span boundaries) is
    * matched against the distinct w-window hash set of the benchmark;
    * every corpus token covered by a colliding window is removed and
    * the survivors reassemble in order. Returns one row per corpus
    * doc: (doc_id, text_clean, n_scrubbed) — n_scrubbed = 0 and
    * text_clean == original tokenization for untouched docs, so the
    * operator composes as a map step.
    *
    * Scale shape: the benchmark window set is bounded (eval sets are
    * MBs) and broadcast — the corpus streams through map-side; the
    * kill set is (doc_id, pos) keyed; reassembly is a per-doc
    * aggregation. The corpus is scanned twice (windows + tokens),
    * never self-joined. Windows shorter than w can't contain a
    * benchmark w-run, so sub-w docs pass through untouched by
    * construction.
    */
  def scrubBenchmarkSpans(corpus: DataFrame, benchmark: DataFrame,
                          w: Int = 8): DataFrame = {
    require(w >= 1, s"scrubBenchmarkSpans: w must be ≥ 1, got $w")
    // widen the corpus before the window/token explosions (r17, the
    // hashedShingles argument): the per-row kernel is ~|tokens| md5s
    // over every w-token window, and a few-file corpus otherwise runs
    // the whole scrub at scan parallelism (measured: the sf0.1 scrub
    // subtree was a 2.4 s single-task stage inside cur_pipeline6).
    // Text bytes are compressed in the optimizer estimate and the
    // per-byte cost is high — the smaller 64 KB/task budget applies
    // (see Width.partsFor's doc).
    val c = corpus.repartition(
      Width.partsFor(corpus, 64L * 1024), col("doc_id"))
    // single-pass byte-span window kernel (r17): the previous SQL
    // transform built every window with slice + concat_ws + md5 —
    // three allocations and two codec passes per window on BOTH sides
    // of the kill join (~4 CPU-s per window stage at sf0.1). Only hash
    // equality is consumed, so xxhash64 over the window's byte span is
    // output-identical (w-token windows shorter than w yield an empty
    // array either way — see WindowHashes).
    def windows(cc: org.apache.spark.sql.Column) =
      graft.functions.VectorFunctions.windowHashes(cc, w)
    val bw = benchmark
      .select(explode_outer(windows(col("text"))).as("h"))
      .filter(col("h").isNotNull).distinct()
    val cw = c.select(col("doc_id"),
      posexplode_outer(windows(col("text"))).as(Seq("start", "h")))
      .filter(col("h").isNotNull)
    val kills = cw.join(broadcast(bw), "h")
      .select(col("doc_id"),
        explode(sequence(col("start"), col("start") + w - 1)).as("pos"))
      .distinct()
    val toks = c.select(col("doc_id"),
      posexplode_outer(split(col("text"), " ")).as(Seq("pos", "tok")))
      .filter(col("tok").isNotNull)
    val kept = toks.join(kills, Seq("doc_id", "pos"), "left_anti")
    val rebuilt = kept.groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("tok")))),
        s => s.getField("tok"))).as("text_clean"))
    val scrubbed = kills.groupBy("doc_id")
      .agg(count(lit(1)).as("n_scrubbed"))
    corpus.select("doc_id")
      .join(rebuilt, Seq("doc_id"), "left")
      .join(scrubbed, Seq("doc_id"), "left")
      .na.fill("", Seq("text_clean"))
      .na.fill(0, Seq("n_scrubbed"))
  }

  /** Deterministic 16-bit hash bucket of an ID column: the first four
    * hex chars of `md5(cast(id as string))` → [0, 65536). Pure
    * function of the ID — stable across runs, partitionings, and
    * engines (DuckDB's `md5(VARCHAR)` hashes the same UTF-8 bytes).
    */
  def hashBucket(idCol: String): org.apache.spark.sql.Column =
    conv(substring(md5(encode(col(idCol).cast("string"), "UTF-8")), 1, 4),
      16, 10).cast("int")

  /** Deterministic train/val/test split on the hash bucket — the
    * reproducible, content-independent split a training pipeline needs
    * (RNG-free: re-running on regrown data keeps every surviving doc
    * in its original split). Percent thresholds quantize to 1/65536
    * granularity.
    */
  def hashSplit(df: DataFrame, idCol: String,
                trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    require(trainPct > 0 && valPct >= 0 && trainPct + valPct <= 100)
    val trainMax = 65536L * trainPct / 100
    val valMax = 65536L * (trainPct + valPct) / 100
    val b = hashBucket(idCol)
    df.withColumn("split",
      when(b < trainMax, "train").when(b < valMax, "val").otherwise("test"))
  }

  /** Leakage-safe split — [[hashSplit]] keyed by DUPLICATE COMPONENT
    * instead of document: every member of a near-dup component lands
    * in the SAME split, so a paraphrase/near-copy pair can never
    * straddle the train/test boundary. This is the split-level
    * contamination that doc-keyed hashing silently reintroduces even
    * after deduplication-by-downweighting ([[graft.operators.Dedup
    * .dupWeights]] keeps all copies — so the split key must be the
    * component). Docs outside the pair graph are their own component
    * (cid = doc_id), reducing exactly to [[hashSplit]] for them.
    *
    * Scale shape: component labels are output-sized (docs in the pair
    * graph only), one id-keyed join back (AQE broadcasts the small
    * side); the split assignment itself stays the map-only md5
    * bucket, now over the component id.
    */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame,
                       trainPct: Int = 80, valPct: Int = 10): DataFrame = {
    val labeled = docs
      .join(graft.operators.Dedup.dupComponents(pairs), Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("component_id"), col("doc_id")))
      .drop("component_id")
    hashSplit(labeled, "cid", trainPct, valPct).drop("cid")
  }

  /** Deterministic weighted sampling WITHOUT replacement — the
    * Efraimidis–Spirakis order-statistic scheme with the RNG replaced
    * by the [[hashBucket]] id hash: each row gets key `u^(1/w)`
    * (`u = (bucket + ½)/65536`, `w` its weight) and the k largest
    * keys win; a row's inclusion odds scale with its weight exactly
    * as weighted reservoir sampling prescribes, but the draw is a
    * pure function of (id, weight) — reproducible across runs,
    * partitionings, and engines, like every sampler here. The
    * composition target of [[temperatureWeights]]/`dupWeights`:
    * compute per-doc weights, then draw the actual mix.
    *
    * Scale shape: one map-only key projection + a global top-k, which
    * Spark plans as TakeOrderedAndProject (per-partition bounded
    * heaps, never a full sort). Zero-weight rows get key 0 and are
    * drawn only when the sample exhausts everything else.
    */
  def weightedSample(df: DataFrame, idCol: String, weightCol: String,
                     k: Int): DataFrame = {
    require(k >= 1, s"weightedSample: k must be ≥ 1, got $k")
    val u = (hashBucket(idCol).cast("double") + 0.5) / 65536.0
    df.withColumn("es_key", pow(u, lit(1.0) / col(weightCol)))
      .orderBy(col("es_key").desc, col(idCol))
      .limit(k)
      .drop("es_key")
  }

  /** Deterministic fraction sample by ID hash: keeps ids whose bucket
    * falls below `fraction` of the 16-bit space. Unlike
    * `DataFrame.sample` this is reproducible and stable under
    * re-partitioning and incremental reruns.
    */
  def sampleByHash(df: DataFrame, idCol: String, fraction: Double): DataFrame = {
    require(fraction >= 0 && fraction <= 1)
    df.filter(hashBucket(idCol) < (65536 * fraction).toLong)
  }

  /** Seeded 16-bit draw bucket — [[hashBucket]] with a seed mixed into
    * the hashed bytes, so different curation passes (caps, epochs)
    * draw INDEPENDENT deterministic orders over the same ids.
    */
  def seededBucket(idCol: String, seed: String): org.apache.spark.sql.Column =
    conv(substring(md5(encode(
      concat(lit(s"$seed|"), col(idCol).cast("string")), "UTF-8")), 1, 4),
      16, 10).cast("int")

  /** Per-stratum document cap — keep at most `k` docs per source /
    * domain / language, the crawl-curation rule that stops a handful
    * of giant domains from dominating the mix (the C4/RefinedWeb
    * per-domain cap). Which k survive is a pure function of
    * (seed, id): docs draw the seeded hash order and the k
    * LARGEST draws per stratum win (ties broken by id, descending) —
    * reproducible across runs, partitionings, and engines, like every
    * sampler here.
    *
    * Scale shape: the `row_number() OVER (PARTITION BY stratum)`
    * formulation fully sorts every stratum — on a 100 TB crawl the
    * heavy domains ARE the problem being capped, so their sort is the
    * biggest partition in the job. This instead runs the
    * [[graft.plans.TopKPerKeyPlan]] bounded-heap operator: every task
    * keeps ≤ k rows per stratum map-side, the shuffle moves
    * O(k × strata) rows, and no stratum is ever sorted.
    */
  def capPerStratum(df: DataFrame, stratumCol: String, idCol: String,
                    k: Int, seed: String = "cap0"): DataFrame = {
    require(k >= 1, s"capPerStratum: k must be ≥ 1, got $k")
    graft.operators.Serving.topKPerKey(
        df.withColumn("draw", seededBucket(idCol, seed)),
        k, Seq(stratumCol), Seq("draw", idCol))
      .drop("draw")
  }

  /** Temperature-scaled mixture weights — COMPUTE the sampling
    * distribution [[mixtureSample]] takes as given: with stratum
    * (language/source) empirical shares `p_s = n_s / N`, temperature
    * sampling draws strata as `q_s ∝ p_s^α` (α = 1 keeps the natural
    * mix, α → 0 approaches uniform over strata — the multilingual
    * rebalancing rule of mT5/XLM-R), and each doc in stratum `s`
    * carries weight `q_s / n_s` so per-doc weights sum to exactly 1
    * and a weighted sampler reproduces temperature sampling at the
    * document level. Output: (doc_id, stratum, weight rounded 6).
    *
    * Scale shape: one stratum-sized aggregation (the counts), the
    * normalizer is an aggregate over THAT (strata-count rows, not
    * corpus rows), and the weights come back via one keyed join the
    * optimizer broadcasts — the corpus is scanned once and never
    * window-sorted.
    */
  def temperatureWeights(df: DataFrame, stratumCol: String, idCol: String,
                         alpha: Double): DataFrame = {
    require(alpha > 0, s"temperatureWeights: alpha must be > 0, got $alpha")
    val counts = df.groupBy(col(stratumCol))
      .agg(count(lit(1)).cast("double").as("n_s"))
    val total = counts.agg(sum("n_s")).head().getDouble(0)
    val scaled = counts.withColumn("ps_a", pow(col("n_s") / total, alpha))
    val z = scaled.agg(sum("ps_a")).head().getDouble(0)
    val w = scaled.select(col(stratumCol),
      (col("ps_a") / z / col("n_s")).as("w"))
    df.select(col(idCol), col(stratumCol))
      .join(w, stratumCol)
      .select(col(idCol), col(stratumCol),
        round(col("w"), 6).as("weight"))
  }

  /** Token-budget epoch allocation — the data-recipe step AFTER
    * [[temperatureWeights]]: given a total training token budget `B`
    * and per-stratum available token mass `a_s`, allocate
    * `alloc_s = B · q_s` tokens to each stratum under the temperature
    * mix `q_s ∝ (a_s/A)^α`, and report `epochs_s = alloc_s / a_s` —
    * how many passes over each source the run will make (the
    * LLaMA-recipe table: rare high-quality sources repeat > 1 epoch,
    * bulk crawl < 1). Emitting epochs makes the repetition cost of a
    * chosen (α, B) point explicit BEFORE a run is launched.
    *
    * Scale shape: one stratum-sized aggregation over the corpus, two
    * driver scalars (total mass, normalizer), closed-form per-stratum
    * arithmetic — output is strata-sized, nothing joins back to the
    * corpus. All doubles rounded (≤6 dp) with division order fixed so
    * the DuckDB oracle replays bit-equal.
    */
  def epochAllocation(df: DataFrame, stratumCol: String, tokenCol: String,
                      alpha: Double, budgetTokens: Long): DataFrame = {
    require(alpha > 0, s"epochAllocation: alpha must be > 0, got $alpha")
    require(budgetTokens > 0,
      s"epochAllocation: budget must be > 0, got $budgetTokens")
    val avail = df.groupBy(col(stratumCol))
      .agg(sum(col(tokenCol)).cast("double").as("a_s"))
    val total = avail.agg(sum("a_s")).head().getDouble(0)
    val scaled = avail.withColumn("ps_a", pow(col("a_s") / total, alpha))
    val z = scaled.agg(sum("ps_a")).head().getDouble(0)
    val b = lit(budgetTokens.toDouble)
    scaled.select(col(stratumCol),
      col("a_s").cast("long").as("avail_tokens"),
      round(col("ps_a") / z, 6).as("weight"),
      round(b * col("ps_a") / z, 2).as("alloc_tokens"),
      round(b * col("ps_a") / z / col("a_s"), 6).as("epochs"))
  }

  /** DSIR-style importance weights (Data Selection via Importance
    * Resampling, Xie et al. 2023): score every RAW document by how
    * much its hashed n-gram BAG looks like the TARGET corpus's gram
    * distribution rather than the raw corpus's own —
    * `log_w(doc) = Σ_{g∈doc} log p̂_tgt(bucket(g)) / p̂_raw(bucket(g))`
    * with add-α smoothing over `buckets` hashed feature buckets. The
    * standard pretraining-data selection stage: follow with
    * [[weightedSample]] / top-k to draw a target-flavored subset from
    * a bulk crawl.
    *
    * Determinism & oracle parity: the bucket is the first four hex
    * chars of `md5(gram)` mod `buckets` (the [[hashBucket]] device —
    * identical bytes in any engine), grams are the raw whitespace
    * n-gram BAG (duplicates count: importance weights are about the
    * doc's distribution, not its vocabulary), and the per-gram
    * normalizer `log (N_raw+αB)/(N_tgt+αB)` enters once per gram so
    * the whole weight re-derives in SQL.
    *
    * Scale shape: two linear gram passes (grouped counts over ≤
    * `buckets` keys — map-side combined, uniform by hash so no skew),
    * one BROADCAST join of the bucket-ratio table (≤ `buckets` rows —
    * tiny by construction at any corpus size), one per-doc sum. Docs
    * with fewer than n tokens carry weight 0 (no evidence either way).
    */
  /** Per-doc n-gram BUCKET bag (no distinct — importance weights are
    * about the doc's distribution, not its vocabulary): one kernel
    * pass per doc emits each gram occurrence's 16-bit-md5 bucket id,
    * bit-identical to the retired per-gram SQL chain
    * `pmod(conv(substring(md5(encode(g, 'UTF-8')), 1, 4), 16, 10),
    * buckets)` — see [[graft.functions.GramBucketIds]] (r17: the SQL
    * form built each gram through a per-element lambda that re-split
    * the text per access, then paid string md5/hex/conv per gram —
    * the DSIR family's dominant pass).
    */
  private def gramBuckets(df: DataFrame, n: Int, buckets: Int): DataFrame = {
    // widen the DOC side before the explode (the FreqSketch lesson):
    // one-file corpora otherwise run the gram fan-out in one task
    graft.operators.FreqSketch.widenToCores(df)
      .select(col("doc_id"), explode_outer(
        graft.functions.VectorFunctions.gramBucketIds(col("text"), n, buckets))
        .as("bucket"))
      .filter(col("bucket").isNotNull)
  }

  /** (bucket, c) table of a corpus's gram-bucket bag. */
  private def bucketCounts(df: DataFrame, n: Int, buckets: Int,
                           name: String): DataFrame =
    gramBuckets(df, n, buckets).groupBy(col("bucket"))
      .agg(count(lit(1)).as(name))

  /** Shared scoring tail of [[dsirLogWeights]] / [[dsirAgainstStore]]:
    * raw-side counts computed in-plan, target counts supplied (live or
    * from the store — additive either way), smoothing over a complete
    * bucket spine, per-doc Σ llr + |doc|·norm.
    */
  private def dsirScore(raw: DataFrame, rawB: DataFrame,
                        tgtCounts: DataFrame, nTgt: Long,
                        buckets: Int, alpha: Double): DataFrame = {
    val spark = raw.sparkSession
    // ONE raw gram fan-out (r13 ADVICE): the tokenize + n-gram explode
    // over the full raw corpus is the dominant pass of DSIR's stated
    // use case (scoring a bulk crawl), and it previously re-executed
    // three times — corpus total, per-bucket counts, per-doc scoring
    // join. The fan-out now collapses once into per-(doc, bucket) gram
    // counts, materialized with the repo's snap convention for
    // expensive intermediates; the corpus total and the raw bucket
    // counts are second-level aggregates of that small frame, and the
    // scoring sum weights each bucket's llr by the doc's gram count —
    // the identical multiset sum.
    val docBucket = graft.operators.Dedup.materialize(
      rawB.groupBy("doc_id", "bucket").agg(count(lit(1)).as("cnt")))
    val nRaw = docBucket.agg(coalesce(sum(col("cnt")), lit(0L)))
      .head().getLong(0)
    val perGramNorm =
      math.log(nRaw + alpha * buckets) - math.log(nTgt + alpha * buckets)
    // complete bucket spine so absent buckets still smooth to α/α = 1
    val spine = spark.range(buckets).select(col("id").cast("int").as("bucket"))
    val llr = spine
      .join(docBucket.groupBy("bucket").agg(sum(col("cnt")).as("c_raw")),
        Seq("bucket"), "left")
      .join(tgtCounts, Seq("bucket"), "left")
      .na.fill(0L, Seq("c_raw", "c_tgt"))
      .select(col("bucket"),
        (log(col("c_tgt") + alpha) - log(col("c_raw") + alpha)).as("llr"))
    val scored = docBucket
      .join(broadcast(llr), "bucket")
      .groupBy("doc_id")
      .agg(round(sum(col("llr") * col("cnt")) + sum(col("cnt")) * perGramNorm, 6)
        .as("log_w"))
    raw.select("doc_id").join(scored, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("log_w"), lit(0.0)).as("log_w"))
  }

  def dsirLogWeights(raw: DataFrame, target: DataFrame, n: Int = 2,
                     buckets: Int = 4096, alpha: Double = 0.5): DataFrame = {
    require(n >= 1, s"dsirLogWeights: n must be >= 1, got $n")
    require(buckets >= 2 && buckets <= 65536,
      s"dsirLogWeights: buckets must be in [2, 65536], got $buckets")
    require(alpha > 0, s"dsirLogWeights: alpha must be > 0, got $alpha")
    // one target gram fan-out: the ≤`buckets`-row count table is
    // materialized once and serves both the llr join and the target
    // total (previously the fan-out ran twice — count + counts)
    val tgtCounts = graft.operators.Dedup.materialize(
      bucketCounts(target, n, buckets, "c_tgt"))
    val nTgt = tgtCounts.agg(coalesce(sum(col("c_tgt")), lit(0L)))
      .head().getLong(0)
    dsirScore(raw, gramBuckets(raw, n, buckets), tgtCounts, nTgt, buckets, alpha)
  }

  // ── persisted DSIR target-distribution store ──────────────────────
  //
  // The TARGET distribution is the fixed reference of DSIR scoring
  // (the curated set); the raw side is whatever corpus is being scored
  // today. Bucket counts are ADDITIVE, so the reference maintains
  // exactly like the vocabulary store: per-shard append of the shard's
  // own (bucket, c) rows, summation on read, ledgered retries, params
  // (n, buckets) pinned at build so every extend and probe agrees on
  // the feature space. After build + k extends, scoring equals
  // [[dsirLogWeights]] against everything folded in — exactly.

  /** The DSIR target as a [[graft.util.ShardedStore]] — the
    * importance-resampling reference, batch or streamed: the build pins
    * the (n, buckets) feature space in `params` and writes the first
    * tranche's bucket counts, every extend appends a shard's OWN count
    * rows in the pinned space under its ledgered shard id (a retry is a
    * no-op). Counts sum on read, so scoring any raw corpus against the
    * store equals from-scratch [[dsirLogWeights]] over everything
    * folded in.
    */
  def dsirStore(path: String, n: Int = 2,
                buckets: Int = 4096): ShardedStore = {
    require(buckets >= 2 && buckets <= 65536,
      s"dsirStore: buckets must be in [2, 65536], got $buckets")
    val pin = ShardedStore.Pin[(Int, Int)](
      fit = _ => (n, buckets),
      save = (spark, p) =>
        spark.createDataFrame(Seq(p)).toDF("n", "buckets").write.parquet(s"$path/params"),
      load = { spark =>
        val p = graft.util.Manifest.read(spark, path, "params").head()
        (p.getInt(0), p.getInt(1))
      })
    ShardedStore.additive(path, "counts")(pin) { case (target, _, (pinnedN, pinnedBuckets)) =>
      bucketCounts(target, pinnedN, pinnedBuckets, "c")
        .write.mode("append").parquet(s"$path/counts")
    }
  }

  /** Score `raw` against the STORED target distribution — equals
    * [[dsirLogWeights]](raw, everything folded into the store)
    * verbatim (count summation IS the union). One committed store
    * generation serves the whole call (params/counts pinned — the
    * [[graft.operators.Dedup.containmentAcrossIndexed]] contract).
    */
  def dsirAgainstStore(raw: DataFrame, path: String,
                       alpha: Double = 0.5): DataFrame = {
    val spark = raw.sparkSession
    val asOf = Some(graft.util.Manifest.snapshot(spark, path).gen)
    val p = graft.util.Manifest.read(spark, path, "params", asOf).head()
    val (n, buckets) = (p.getInt(0), p.getInt(1))
    val tgt = graft.util.Manifest.read(spark, path, "counts", asOf)
      .groupBy("bucket").agg(sum(col("c")).as("c_tgt"))
    val nTgt = tgt.agg(coalesce(sum(col("c_tgt")), lit(0L)))
      .head().getLong(0)
    dsirScore(raw, gramBuckets(raw, n, buckets), tgt, nTgt, buckets, alpha)
  }

  /** Weighted mixture sampling: keep a per-stratum deterministic hash
    * fraction of rows ("all English, half German, a quarter Chinese")
    * — how a training mix is drawn from a curated pool. Strata absent
    * from `fractions` are dropped, making the mix an explicit
    * contract. Map-only: the mix rides along as a literal map and the
    * filter reuses [[hashBucket]], so a doc sampled at fraction f stays
    * sampled at every fraction ≥ f (nested samples, stable reruns).
    * Fractions quantize to 1/65536.
    */
  def mixtureSample(df: DataFrame, stratumCol: String, idCol: String,
                    fractions: Map[String, Double]): DataFrame = {
    require(fractions.values.forall(f => f >= 0 && f <= 1),
      "fractions must be in [0, 1]")
    val thresholds =
      typedLit(fractions.map { case (k, v) => k -> (65536 * v).toLong })
    df.filter(hashBucket(idCol) <
      coalesce(element_at(thresholds, col(stratumCol)), lit(0L)))
  }

  /** Per-stratum percentile quality gate: keep rows whose `scoreCol`
    * sits at or above the stratum's `pct` interpolated quantile —
    * "drop the worst 40% of each language", the relative-threshold
    * form quality filtering takes when score distributions differ by
    * stratum (an absolute cutoff tuned on English would gut a
    * lower-scoring language entirely).
    *
    * Scale shape: the cutoffs are ONE aggregation row per stratum —
    * computed with a single `percentile` shuffle and broadcast back,
    * so the corpus is touched exactly twice (agg scan + filter scan)
    * and never window-sorted. The tempting `percent_rank() OVER
    * (PARTITION BY stratum)` formulation globally sorts each stratum
    * inside one task — with a handful of strata over 100 TB that is
    * five serial sorts; the agg+broadcast plan is why this exists as
    * an operator.
    *
    * The filter compares against the RAW cutoff (the emitted `cutoff`
    * column is rounded for display only): an interpolated quantile
    * strictly between two distinct scores equals no row in any
    * engine, and one landing ON a tied score is exact in every
    * engine, so `>=` membership is engine-portable.
    */
  def percentileCutoff(df: DataFrame, stratumCol: String, scoreCol: String,
                       pct: Double): DataFrame = {
    require(pct >= 0 && pct <= 1, "pct must be in [0, 1]")
    val cuts = df.groupBy(col(stratumCol))
      .agg(percentile(col(scoreCol), lit(pct)).as("__cutoff"))
    df.join(broadcast(cuts), Seq(stratumCol))
      .filter(col(scoreCol) >= col("__cutoff"))
      .withColumn("cutoff", round(col("__cutoff"), 6))
      .drop("__cutoff")
  }

  /** Pack documents into fixed token-budget bins ("concat-and-chunk"
    * sequence packing): shard the corpus by `doc_id % nShards`, order
    * each shard by doc_id, and assign each doc to the bin its running
    * token offset starts in. One window per SHARD — shards pack
    * independently and in parallel, which is both the scalable plan
    * and how real packing runs (per-worker streams), at the cost of
    * bins never crossing shards.
    *
    * Output: (doc_id, shard, n_tokens, bin_id) — bin_id is local to
    * the shard.
    */
  def packSequences(docs: DataFrame, maxTokens: Int,
                    nShards: Int = 8): DataFrame = {
    require(maxTokens > 0 && nShards > 0)
    val toks = size(split(col("text"), " ")).cast("long")
    val w = Window.partitionBy(col("shard")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.select(col("doc_id"), pmod(col("doc_id"), lit(nShards)).as("shard"),
        toks.as("n_tokens"))
      .withColumn("start_offset", sum(col("n_tokens")).over(w) - col("n_tokens"))
      .withColumn("bin_id",
        floor(col("start_offset") / lit(maxTokens.toDouble)).cast("long"))
      .select(col("doc_id"), col("shard"), col("n_tokens"), col("bin_id"))
  }

  /** Split every document into fixed-token training chunks with
    * `overlapTokens` of context carried across boundaries — the
    * sequence-preparation step between curation and packing (the
    * sliding-window form every context-bounded trainer feeds on).
    * Emits `(doc_id, chunk_id, n_tokens, chunk)`: chunks start every
    * `chunkTokens - overlapTokens` tokens, the final chunk clips to the
    * doc end, and a doc at or under the budget is one chunk. Map-only
    * (tokenize → windowed slices → posexplode), no shuffle; the token
    * array is projected to its own column so the slice lambda reads an
    * attribute, not a re-split (the repetition() trap).
    */
  def chunkDocuments(docs: DataFrame, chunkTokens: Int = 128,
                     overlapTokens: Int = 32): DataFrame = {
    require(chunkTokens > 0 && overlapTokens >= 0 && overlapTokens < chunkTokens,
      "need 0 <= overlapTokens < chunkTokens")
    val stride = chunkTokens - overlapTokens
    val toked = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val n = size(col("toks"))
    val nChunks = when(n <= chunkTokens, lit(1))
      .otherwise(ceil((n - chunkTokens) / lit(stride.toDouble)).cast("int") + 1)
    toked.select(col("doc_id"),
        posexplode(transform(sequence(lit(0), nChunks - 1),
          i => concat_ws(" ", slice(col("toks"), i * stride + 1, lit(chunkTokens)))))
          .as(Seq("chunk_id", "chunk")))
      .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
        size(split(col("chunk"), " ")).cast("long").as("n_tokens"),
        col("chunk"))
  }

  /** Temperature-scaled mixture sampling — the multilingual resampling
    * rule: the target mixture is `q_l ∝ p_l^(1/T)` (T > 1 flattens the
    * distribution toward low-resource strata), realized by
    * DOWNSAMPLING only, so each stratum keeps the fraction
    * `p_l^(1/T − 1) / max_k p_k^(1/T − 1)` of its rows — the smallest
    * stratum keeps everything, the dominant one is cut hardest, and
    * T = 1 keeps every row (no resampling). Selection reuses the
    * deterministic md5 bucketing of [[hashSplit]]/[[mixtureSample]],
    * so the sample is engine-reproducible; fractions round to 6 dp
    * before the 16-bit bucket threshold so last-ulp `pow` differences
    * across engines cannot flip membership.
    *
    * Stratum frequencies are one grouped count collected to the driver
    * (bounded by stratum cardinality — languages/sources, not rows).
    *
    * NULL-stratum rows are DROPPED, explicitly and by construction: a
    * null stratum has no frequency to temper (and a null map key is a
    * runtime error in the threshold literal), so the driver-side count
    * filters nulls out and the membership filter's `element_at` lookup
    * is null for such rows — matching `WHERE`-clause three-valued
    * logic, i.e. the SQL oracle's inner-join-on-stratum semantics.
    * Route un-stratified rows through a sentinel stratum value upstream
    * if they must survive.
    */
  def temperatureSample(docs: DataFrame, stratumCol: String, idCol: String,
                        temperature: Double): DataFrame = {
    require(temperature > 0, "temperature must be positive")
    val counts = docs.filter(col(stratumCol).isNotNull)
      .groupBy(col(stratumCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "no non-null strata to sample from")
    val total = counts.values.sum.toDouble
    val pows = counts.map { case (s, c) =>
      s -> math.pow(c / total, 1.0 / temperature - 1.0)
    }
    val mx = pows.values.max
    val thresholds = pows.map { case (s, w) =>
      s -> math.floor(BigDecimal(w / mx).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble * 65536).toLong
    }
    val thrMap = map(thresholds.toSeq.flatMap { case (s, t) =>
      Seq(lit(s), lit(t)) }: _*)
    docs.filter(hashBucket(idCol) < element_at(thrMap, col(stratumCol)))
  }

  /** Deterministic global training order: every row gets a consecutive
    * position 1..N along the seeded-hash permutation of its id — "the
    * corpus shuffle" a training run fixes once so every re-run, resume,
    * and data-parallel reader sees the same order.
    *
    * The tempting formulation is `row_number() OVER (ORDER BY
    * md5(seed || id))` — an empty-partition global window that funnels
    * 100 TB through ONE task. This operator produces the identical
    * column with a RANGE exchange instead: rows range-partition and
    * sort on the hash key (a total order, ties broken by id), a
    * per-partition count pass collects `numPartitions` longs to the
    * driver, and each partition stamps consecutive positions from its
    * prefix offset. Two jobs, no global sort on one executor — the
    * standard distributed enumeration pattern (zipWithIndex done on a
    * DataFrame with a chosen order).
    */
  def shufflePositions(docs: DataFrame, seed: String, idCol: String = "doc_id",
                       partitions: Int = 0): DataFrame = {
    val spark = docs.sparkSession
    val n = if (partitions > 0) partitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val key = md5(concat(lit(seed), col(idCol).cast("string")))
    val sorted = docs.select(col(idCol), key.as("__k"))
      .repartitionByRange(n, col("__k"), col(idCol))
      .sortWithinPartitions(col("__k"), col(idCol))
    val rdd = sorted.rdd
    // bounded driver data: one long per partition. Count in a Long from
    // the start — Iterator.size returns Int, which would overflow at
    // 2³¹ rows per partition BEFORE any .toLong widening could help.
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      var c = 0L
      while (it.hasNext) { it.next(); c += 1L }
      Iterator((i, c))
    }.collect().sortBy(_._1).map(_._2)
    val offsets = counts.scanLeft(0L)(_ + _)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var pos = offsets(i)
      it.map { r => pos += 1; org.apache.spark.sql.Row(r.get(0), pos) }
    }
    // the id column keeps its (analyzer-resolved) name and type —
    // positions attach to whatever identifier the caller enumerated
    // by; resolving through a select keeps case-insensitive lookups
    // working like every other column reference
    val idField = docs.select(col(idCol)).schema.head
    spark.createDataFrame(out, org.apache.spark.sql.types.StructType(Seq(
      idField,
      org.apache.spark.sql.types.StructField("shuffle_pos",
        org.apache.spark.sql.types.LongType, nullable = false))))
  }

  /** SEMANTIC benchmark decontamination — the embedding-space
    * complement of the n-gram [[decontaminate]]: drop corpus docs
    * whose embedding is within cosine `threshold` of ANY benchmark
    * embedding, catching paraphrased or re-worded eval leakage that
    * shares no verbatim n-gram. Matching runs through
    * [[Similarity.crossMatches]] — shared-hyperplane LSH buckets meet
    * the two sets in an equi-join (the corpus never scans the bench
    * set row by row), exact cosine verifies each candidate — then one
    * anti join drops the matched doc ids. At the recall-1.0 LSH
    * configuration the result equals the exact-cosine cross-pair
    * filter (the gate's oracle).
    */
  def semanticDecontaminate(docs: DataFrame, corpusVecs: DataFrame,
                            benchVecs: DataFrame, threshold: Double,
                            numPlanes: Int = 32, bands: Int = 16,
                            dim: Int = 64,
                            multiProbe: Boolean = false): DataFrame = {
    val dirty = Similarity.crossMatches(corpusVecs, benchVecs, threshold,
        numPlanes, bands, dim, multiProbe)
      .select(col("id_a").as("doc_id")).distinct()
    docs.join(dirty, Seq("doc_id"), "left_anti")
  }

  /** [[semanticDecontaminate]] routed through [[Pca.crossDispatch]]:
    * the engine picks the banded arm (cross-set LSH at the
    * occupancy-scaled multi-probe geometry — signs the whole corpus
    * per call) or the residual-store arm ([[Pca.
    * residualThresholdCross]] — bench vectors probe a trained cell
    * layout, touching nprobe/nlist of the corpus) from the measured
    * costs. The banded arm's recall is the standing gate-pinned claim
    * of its geometry; the residual arm's is the probe-coverage
    * contract its calibrated budget prices — gate-pinned in-engine
    * against the exact kill set on the forced branch. `force` pins an
    * arm (see [[Pca.crossDispatch]]); a supplied dispatch serves the
    * banded arm without a scan.
    *
    * `bar` defaults to 1.0: decontamination is leakage-sensitive, and
    * the residual arm only guarantees kill recall >= bar — a sub-1.0
    * default would let a cost heuristic silently downgrade the decon
    * contract by corpus size (r15 ADVICE finding 3: an auto-dispatched
    * large-corpus caller could retain up to 10% of truly contaminated
    * docs where the explicit banded path was recall-1.0). Sub-1.0 kill
    * recall is an explicit caller opt-in, never the engine's choice.
    */
  def semanticDecontaminateAuto(docs: DataFrame, corpusVecs: DataFrame,
                                benchVecs: DataFrame, threshold: Double,
                                kDims: Int = 16, bar: Double = 1.0,
                                dim: Int = 64,
                                dispatchOpt: Option[Pca.CrossDispatch] = None,
                                force: Option[Boolean] = None): DataFrame = {
    val d = dispatchOpt.getOrElse(
      Pca.crossDispatch(corpusVecs, benchVecs.count(), bar = bar,
        kDims = kDims, threshold = threshold, force = force))
    if (sys.env.contains("GRAFT_PROBE"))
      println(f"[probe]   semanticDecontaminateAuto " +
        f"costBanded=${d.analyticBanded}%.3g " +
        f"costResidual=${d.analyticResidual}%.3g -> " +
        (if (d.residual) "residual" else "banded"))
    if (d.residual) {
      // the decon arm serves the THRESHOLD-coverage budget, not the
      // kNN one the generic dispatch priced — see
      // semanticDeconResidualCheck for the measured divergence
      val (_, npFloor) = Similarity.scaledIvfConfig(d.n)
      // a reduced layout (wide corpus) prunes in the reduced space; the
      // coverage calibration and every probed candidate count kills at
      // FULL width either way
      val rm = d.rmodel.get
      val np = Pca.calibrateThresholdNprobe(corpusVecs, rm, benchVecs,
        threshold, bar, floor = math.max(8, npFloor))
      val dirty = Pca.residualThresholdCross(corpusVecs, benchVecs, rm, np,
        threshold)
      docs.join(dirty.select(col("id_a").as("doc_id")).distinct(),
        Seq("doc_id"), "left_anti")
    } else {
      // serve the geometry the dispatcher priced: the occupancy-scaled
      // WIDE arm at the analytic recall bar (same r as the legacy
      // scaled config — shared-prefix hyperplanes make its candidates a
      // superset of the r15 geometry's, so recall only moves up)
      val (planes, bands, mp) = Similarity.scaledLshConfigWideArm(
        d.n, threshold, recallBar = Pca.crossBandRecallBar)
      semanticDecontaminate(docs, corpusVecs, benchVecs, threshold,
        numPlanes = planes, bands = bands, dim = dim, multiProbe = mp)
    }
  }

  /** Contract of the residual decon branch as ONE invariant row,
    * measured in-engine against the exact kill set (corpus ×
    * broadcast-bench exact cosine — the oracle's own arithmetic):
    * `kill_recall_ok` — the probed arm finds at least `minRecall` of
    * the true above-threshold corpus ids at its calibrated budget;
    * `no_false_kills` — every probed kill IS above threshold (true by
    * construction: candidates verify by exact cosine; the row proves
    * the construction). The kNN calibration budget is the honest
    * proxy for threshold coverage — both quantities are "did the true
    * neighbors' cells get probed", which is why the contract is
    * MEASURED here rather than assumed transferred.
    */
  def semanticDeconResidualCheck(corpusVecs: DataFrame, benchVecs: DataFrame,
                                 threshold: Double, kDims: Int = 16,
                                 minRecall: Double = 0.9,
                                 modelOpt: Option[Pca.IvfResidualModel] = None,
                                 nprobe: Int = 0): DataFrame = {
    import graft.functions.VectorFunctions
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{BooleanType, StructField, StructType}
    val spark = corpusVecs.sparkSession
    val n = corpusVecs.count()
    val (nlist, npFloor) = Similarity.scaledIvfConfig(n)
    val model = modelOpt.getOrElse(Pca.fitIvfResidual(corpusVecs, kDims, nlist))
    // THRESHOLD calibration, not the kNN budget: a decon query owes
    // its whole above-threshold kill set, which spreads over more
    // cells than its top-k (the r15 sf0.01 gate measured the kNN
    // budget under-covering kills — coverage 0.9-bar missed)
    val np = math.min(model.nlist,
      if (nprobe > 0) nprobe
      else Pca.calibrateThresholdNprobe(corpusVecs, model, benchVecs,
        threshold, minRecall, floor = math.max(8, npFloor)))
    // r16: the three contract counts below are separate actions — the
    // probed kill set was re-derived twice and the exact broadcast
    // reference three times per gate run. Both are id sets bounded by
    // the kill count; snapshot once, count scans.
    val probed = Dedup.materialize(
      Pca.residualThresholdCross(corpusVecs, benchVecs, model,
        np, threshold).select(col("id_a")).distinct())
    val exact = Dedup.materialize(corpusVecs.select(col("vec_id").as("id_a"),
        col("embedding").as("ea"),
        VectorFunctions.norm(col("embedding")).as("na"))
      .join(broadcast(benchVecs.select(col("embedding").as("eb"),
          VectorFunctions.norm(col("embedding")).as("nb"))),
        round(VectorFunctions.dot(col("ea"), col("eb")) /
          (col("na") * col("nb")), 6) >= threshold)
      .select(col("id_a")).distinct())
    val nExact = exact.count()
    val nHit = probed.join(exact, Seq("id_a"), "left_semi").count()
    val falseKills = probed.join(exact, Seq("id_a"), "left_anti").count()
    spark.createDataFrame(
      java.util.List.of(Row(nHit.toDouble >= minRecall * nExact,
        falseKills == 0L)),
      StructType(Seq(
        StructField("kill_recall_ok", BooleanType, nullable = false),
        StructField("no_false_kills", BooleanType, nullable = false))))
  }

  /** kNN label propagation — semi-supervised corpus labeling: each
    * TARGET vector takes the majority label among its k most-similar
    * SEED vectors at cosine ≥ `threshold` (the auto-labeling step a
    * curation pipeline runs to spread a small human/classifier-labeled
    * seed set over the corpus — quality tiers, topic tags, domains).
    * Candidates come from [[Similarity.knnJoinCross]]'s banded LSH
    * equi-join (never a target×seed scan), so at a recall-1.0
    * geometry the vote set is exactly the true kNN list and the
    * answer is deterministic end-to-end: neighbor ranking ties break
    * by seed id, vote ties by (votes desc, label asc). Targets with
    * no seed above the threshold emit nothing — "no evidence" is
    * distinguishable from any label. Returns (vec_id, label, votes)
    * with exact long vote counts.
    */
  def propagateLabels(targetVecs: DataFrame, seedVecs: DataFrame,
                      seedLabels: DataFrame, k: Int = 5,
                      threshold: Double = 0.4,
                      numPlanes: Int = 32, bands: Int = 16,
                      dim: Int = 64): DataFrame = {
    require(k >= 1, s"propagateLabels: k must be >= 1, got $k")
    val knn = Similarity.knnJoinCross(targetVecs, seedVecs, threshold, k,
      numPlanes, bands, dim)
    labelVotes(knn, seedLabels)
  }

  /** [[propagateLabels]] with the kNN stage routed through
    * [[Pca.knnJoinCrossAuto]] — the dispatcher picks banded LSH or the
    * calibrated residual arm over the SEED side (the frozen-corpus
    * side a serving loop probes repeatedly); the vote/tiebreak tail is
    * shared verbatim with the explicit-geometry path.
    */
  def propagateLabelsAuto(targetVecs: DataFrame, seedVecs: DataFrame,
                          seedLabels: DataFrame, k: Int = 5,
                          threshold: Double = 0.4, kDims: Int = 16,
                          bar: Double = 0.9,
                          dispatchOpt: Option[Pca.CrossDispatch] = None,
                          force: Option[Boolean] = None): DataFrame = {
    require(k >= 1, s"propagateLabelsAuto: k must be >= 1, got $k")
    labelVotes(Pca.knnJoinCrossAuto(targetVecs, seedVecs, threshold, k,
      kDims, bar, dispatchOpt = dispatchOpt, force = force), seedLabels)
  }

  /** Shared vote tail of the label-propagation paths: majority label
    * among each target's kNN edges, neighbor ties broken upstream,
    * vote ties by (votes desc, label asc).
    */
  private def labelVotes(knn: DataFrame, seedLabels: DataFrame): DataFrame = {
    val votes = knn
      .join(seedLabels.select(col("doc_id").as("neighbor_id"), col("label")),
        "neighbor_id")
      .groupBy(col("query_id").as("vec_id"), col("label"))
      .agg(count(lit(1)).as("votes"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("votes").desc, col("label"))
    votes.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Length-bucketed batch assembly — the padding-minimization step of
    * a training dataloader pipeline: docs group into fixed-width
    * token-length buckets (`bucket = n_tokens div bucketWidth`), and
    * within each bucket consecutive docs (doc_id order) form batches
    * of `batchSize`, so a batch pads at most to its longest member's
    * bucket ceiling instead of the corpus maximum. Output: one row per
    * doc with its `n_tokens`, `bucket`, and `batch_id` (0-based within
    * the bucket).
    *
    * Scale shape: the naive formulation is a row_number window
    * PARTITIONED BY bucket — but bucket cardinality is tiny (corpus
    * max length / width), so at 100 TB each window partition is a
    * single task holding billions of rows: exactly the global-window
    * trap [[shufflePositions]] avoids. This uses the same two-phase
    * range-exchange enumeration, generalized per bucket: range-exchange
    * on (bucket, id), count rows per (partition, bucket) — bounded
    * driver state, at most partitions + buckets entries because range
    * partitioning makes each bucket a contiguous partition run — then
    * assign per-bucket positions map-side from the prefix offsets.
    * Answer is partition-count invariant (spec-asserted).
    */
  def lengthBatches(docs: DataFrame, batchSize: Int = 32,
                    bucketWidth: Int = 64, unicode: Boolean = false,
                    partitions: Int = 0): DataFrame = {
    require(batchSize > 0, "batchSize must be positive")
    require(bucketWidth > 0, "bucketWidth must be positive")
    val spark = docs.sparkSession
    val n = if (partitions > 0) partitions
            else spark.conf.get("spark.sql.shuffle.partitions").toInt
    val t = if (unicode) TextOps.tokensUnicode(col("text"))
            else TextOps.tokens(col("text"))
    val withLen = docs.select(col("doc_id"), size(t).as("n_tokens"))
      .withColumn("bucket",
        floor(col("n_tokens").cast("long") / lit(bucketWidth)).cast("long"))
    val sorted = withLen.repartitionByRange(n, col("bucket"), col("doc_id"))
      .sortWithinPartitions(col("bucket"), col("doc_id"))
    val rdd = sorted.rdd
    // bounded driver data: one (partition, bucket, count) triple per
    // bucket-run; Long counts from the start (Iterator.size is Int)
    val counts = rdd.mapPartitionsWithIndex { (i, it) =>
      val m = scala.collection.mutable.LinkedHashMap.empty[Long, Long]
      it.foreach { r =>
        val b = r.getLong(2); m.update(b, m.getOrElse(b, 0L) + 1L)
      }
      m.iterator.map { case (b, c) => (i, b, c) }
    }.collect()
    val offsets: Map[(Int, Long), Long] = counts.groupBy(_._2)
      .flatMap { case (b, runs) =>
        val byPart = runs.sortBy(_._1)
        byPart.map(_._1).zip(byPart.map(_._3).scanLeft(0L)(_ + _))
          .map { case (p, off) => (p, b) -> off }
      }
    val bc = spark.sparkContext.broadcast(offsets)
    val out = rdd.mapPartitionsWithIndex { (i, it) =>
      var cur = Long.MinValue
      var pos = 0L
      it.map { r =>
        val b = r.getLong(2)
        if (b != cur) { cur = b; pos = bc.value.getOrElse((i, b), 0L) }
        val row = org.apache.spark.sql.Row(
          r.get(0), r.getInt(1), b, pos / batchSize)
        pos += 1L
        row
      }
    }
    import org.apache.spark.sql.types._
    spark.createDataFrame(out, StructType(Seq(
      docs.select(col("doc_id")).schema.head,
      StructField("n_tokens", IntegerType, nullable = false),
      StructField("bucket", LongType, nullable = false),
      StructField("batch_id", LongType, nullable = false))))
  }

  // PII patterns: kept to the common subset of Java regex and RE2 so
  // external engines (and the DuckDB oracle) match byte-for-byte
  private[graft] val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private[graft] val PhoneRe = "\\b[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}\\b"
  private[graft] val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** Redact common PII shapes (emails, NANP-style phone numbers, IPv4
    * addresses) and count what was removed. Map-only codegen'd regex
    * pass; counts let a pipeline monitor redaction rates per source.
    * All other columns pass through, so the op drops into a pipeline
    * between any two stages; `text` is replaced in place.
    */
  def scrubPii(docs: DataFrame): DataFrame =
    docs
      .withColumn("n_emails",
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0))).cast("long"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0))).cast("long"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("text"), lit(Ipv4Re), lit(0))).cast("long"))
      .withColumn("text",
        regexp_replace(
          regexp_replace(
            regexp_replace(col("text"), EmailRe, "<EMAIL>"),
            PhoneRe, "<PHONE>"),
          Ipv4Re, "<IP>"))

  /** SemDeDup-style semantic diversity selection: assign every
    * embedding to its nearest trained centroid (cosine argmax — one
    * map-only pass, nlist codegen'd dots per row) and keep each
    * cluster's `perCluster` most PROTOTYPICAL vectors (highest cosine
    * to the centroid, vec_id tie-break) — the cluster-quota sampler
    * that bounds semantic redundancy in a pretraining corpus: near-
    * duplicate embeddings share a cluster and compete for its quota
    * instead of all surviving.
    *
    * Scale shape: the ranking window partitions BY cluster (never a
    * global sort); at 100 TB vectors stream map-side through the
    * assignment and only the per-cluster top-k survives the one
    * key-sharded exchange. Determinism: centroid training is
    * bit-deterministic ([[Similarity.trainCentroids]]), the assignment
    * tie-breaks by cluster id, the rank by vec_id.
    *
    * Output: (cluster, vec_id, sim, rank) with `sim` the cosine to the
    * assigned centroid, rounded 6dp for engine portability (ranking
    * uses the RAW cosine).
    */
  def semanticPrototypes(emb: DataFrame, cents: Similarity.Cents,
                         perCluster: Int): DataFrame = {
    require(perCluster >= 1, "perCluster must be >= 1")
    val nrm = VectorFunctions.norm(col("embedding"))
    val withNorm = emb.select(col("vec_id"), col("embedding"),
      when(nrm === 0.0, lit(1.0)).otherwise(nrm).as("__rn"))
    // least() over (negated cosine, cid) structs: ties pick smaller cid
    val best = least(cents.toIndexedSeq.map { c =>
      struct((-VectorFunctions.dot(col("embedding"), lit(c._2)) /
        (lit(c._3) * col("__rn"))).as("s"), lit(c._1).as("cid"))
    }: _*)
    val assigned = withNorm.select(col("vec_id"),
      best.getField("cid").as("cluster"),
      negate(best.getField("s")).as("__cos"))
    val w = Window.partitionBy(col("cluster"))
      .orderBy(col("__cos").desc, col("vec_id"))
    assigned.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCluster)
      .select(col("cluster"), col("vec_id"),
        round(col("__cos"), 6).as("sim"), col("rank"))
  }
}
