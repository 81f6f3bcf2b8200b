package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * n-gram Jaccard, MinHash+LSH, and SimHash near-dup detection over
  * the `documents` table.
  *
  * Scale design (100 TB):
  *  - Exact dedup is one hash-shuffle on the content hash — the
  *    theoretical minimum.
  *  - Pairwise similarity is NEVER all-pairs: candidates come from an
  *    inverted shingle index (small corpora) or MinHash band buckets
  *    (the scale path); exact Jaccard runs only on candidates.
  *  - All hashes are xxhash64 (codegen'd Catalyst expression), seeded
  *    deterministically — results are partitioning-independent.
  */
object Dedup {

  /** Exact duplicate groups: one row per distinct text, the surviving
    * doc_id (min), and the duplicate count. Single shuffle on md5(text)
    * — never on the full text bytes.
    */
  def exactGroups(docs: DataFrame): DataFrame =
    docs.groupBy(md5(col("text")).as("content_hash"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Exact dedup keeping whole surviving rows (deterministic: min
    * doc_id wins, unlike dropDuplicates which keeps an arbitrary row).
    */
  def exactRows(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(md5(col("text")))
    docs.withColumn("keep_id", min(col("doc_id")).over(w))
      .filter(col("doc_id") === col("keep_id"))
      .drop("keep_id")
  }

  /** Global span-level dedup — the C4/RefinedWeb "drop any span seen
    * before" rule at fixed token granularity. Each doc splits into
    * consecutive `spanTokens`-token windows; the FIRST occurrence of
    * each distinct span across the corpus (ordered by doc_id, then
    * in-doc position) survives; every doc reassembles from its
    * surviving spans in order (possibly to an empty string). Unlike
    * whole-doc dedup this removes boilerplate REGIONS shared across
    * otherwise-distinct documents — the dominant duplication mode in
    * web corpora.
    *
    * Scale shape: two shuffles — first-occurrence election exchanges
    * md5(span) (a fixed 32-char key, not the span text, as the window
    * partition key), reassembly exchanges doc_id. Both are
    * hash-partitioned; nothing is global. The window inside one span
    * hash is at most the span's duplicate count.
    */
  def dedupSpans(docs: DataFrame, spanTokens: Int = 16): DataFrame =
    // left join inside reassembleSpans keeps a row for a doc whose
    // every span was seen before (empty text) — row count is stable
    // for pipelines
    reassembleSpans(docs, electFirst(spanRows(docs, spanTokens)))

  /** The (doc_id, pos, span, h) rows [[dedupSpans]] elects over —
    * shared by the one-shot and incremental span-dedup paths. The
    * md5 is computed HERE, once, and reused by the election window,
    * the index anti join, and the store writes.
    */
  private def spanRows(docs: DataFrame, spanTokens: Int): DataFrame = {
    val toked = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val nSpans = ceil(size(col("toks")) / lit(spanTokens.toDouble)).cast("int")
    toked.select(col("doc_id"),
      posexplode(transform(sequence(lit(0), nSpans - 1),
        i => concat_ws(" ", slice(col("toks"), i * spanTokens + 1, lit(spanTokens)))))
        .as(Seq("pos", "span")))
      .withColumn("h", md5(col("span")))
  }

  /** Reassemble docs from their surviving spans (empty string when
    * every span was seen), keeping one row per input doc.
    */
  private def reassembleSpans(docs: DataFrame, kept: DataFrame): DataFrame = {
    val rebuilt = kept.groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("pos"), col("span")))),
        s => s.getField("span"))).as("text_dedup"))
    docs.select("doc_id").join(rebuilt, Seq("doc_id"), "left")
      .na.fill("", Seq("text_dedup"))
  }

  /** Content-defined chunk dedup — [[dedupSpans]] with BOUNDARIES
    * DERIVED FROM CONTENT instead of fixed 16-token tiles: a chunk
    * ends at token `i` when the hash of the last `w` tokens falls in
    * a 1/`modulus` band (the Rabin/CDC recipe storage dedup uses,
    * applied to text). The property fixed tiles lack: ONE inserted
    * token shifts every downstream tile (nothing re-aligns, dup
    * regions survive), while CDC boundaries re-synchronize within ~w
    * tokens of the edit, so shared regions between near-copies dedup
    * regardless of offset — spec-proven against the fixed-tile
    * behavior. Expected chunk length ≈ `modulus` tokens.
    *
    * Scale shape: boundary flags and chunk assembly are ONE
    * left-to-right pass inside the token array (higher-order
    * `aggregate` — map-only, no per-token explode, no shuffle until
    * chunks exist); election and reassembly are [[dedupSpans]]'s own
    * two hash-partitioned exchanges (md5(chunk), then doc_id).
    */
  def dedupChunksCdc(docs: DataFrame, w: Int = 3,
                     modulus: Int = 8): DataFrame = {
    require(w >= 1 && modulus >= 2,
      s"dedupChunksCdc: need w ≥ 1 and modulus ≥ 2, got w=$w modulus=$modulus")
    reassembleSpans(docs, electFirst(cdcChunkRows(docs, w, modulus)))
  }

  /** The (doc_id, pos, span, h) rows [[dedupChunksCdc]] elects over —
    * same shape as [[spanRows]], so the election/reassembly machinery
    * is shared. The cut decision hashes the JOINED last-`w`-token
    * window with md5 (first two hex chars mod `modulus`), replayable
    * verbatim in the DuckDB oracle.
    */
  private def cdcChunkRows(docs: DataFrame, w: Int,
                           modulus: Int): DataFrame = {
    val toked = docs.select(col("doc_id"), split(col("text"), " ").as("toks"))
    val flags = transform(sequence(lit(1), size(col("toks"))),
      i => when((i >= w) &&
        (conv(substring(md5(
          concat_ws(" ", slice(col("toks"), i - (w - 1), lit(w)))), 1, 2), 16, 10)
          .cast("int") % modulus === 0), 1).otherwise(0))
    // one pass: grow the current chunk token by token, flush it on a
    // cut; `first` disambiguates "empty current chunk" from a chunk
    // whose accumulated text is the empty string (empty tokens exist
    // wherever the raw text has doubled separators)
    val parts = zip_with(col("toks"), col("b"),
      (t, f) => struct(t.as("t"), f.as("f")))
    val chunks = aggregate(
      parts,
      struct(array().cast("array<string>").as("done"),
        lit("").as("cur"), lit(true).as("first")),
      (acc, x) => {
        val cur2 = when(acc.getField("first"), x.getField("t"))
          .otherwise(concat(acc.getField("cur"), lit(" "), x.getField("t")))
        when(x.getField("f") === 1,
          struct(concat(acc.getField("done"), array(cur2)).as("done"),
            lit("").as("cur"), lit(true).as("first")))
          .otherwise(struct(acc.getField("done").as("done"),
            cur2.as("cur"), lit(false).as("first")))
      },
      acc => when(acc.getField("first"), acc.getField("done"))
        .otherwise(concat(acc.getField("done"), array(acc.getField("cur")))))
    toked.withColumn("b", flags)
      .select(col("doc_id"), posexplode(chunks).as(Seq("pos", "span")))
      .withColumn("h", md5(col("span")))
  }

  // ── incremental span dedup ────────────────────────────────────────
  //
  // The daily form of [[dedupSpans]]: the "seen spans" set IS the
  // state a production span-dedup maintains — each arriving shard
  // drops spans the corpus has already seen (one anti join against
  // the stored hash set, old text never re-read), elects first
  // occurrences among what remains, and appends only ITS new span
  // hashes. Same lifecycle shape as the near-dup MinHash index
  // ([[buildNearDupIndex]]/[[incrementalPairs]]/[[extendIndex]]).
  // Equivalence contract (gate + spec): with shard doc_id ranges
  // increasing in arrival order, build→increment→extend over the
  // shards reproduces exactly the from-scratch [[dedupSpans]] election
  // over their union.

  private def spansPath(path: String) = s"$path/spans"

  /** Initialize the seen-span index on the first tranche and return
    * that tranche deduped (its own internal duplicates elected away).
    */
  def buildSpanIndex(docs: DataFrame, path: String, spanTokens: Int = 16,
                     applied: Set[String] = Set.empty): DataFrame = {
    val kept = electFirst(spanRows(docs, spanTokens))
    graft.util.Manifest.init(docs.sparkSession, path, applied) {
      kept.select(col("h")).distinct()
        .write.mode(SaveMode.Overwrite).parquet(spansPath(path))
    }
    reassembleSpans(docs, kept)
  }

  /** Dedup a new shard against the stored seen-span set WITHOUT
    * mutating it: one anti join on the span hash (the stored side is
    * a hash set scan, never text), then first-occurrence election
    * within the shard's remaining spans.
    */
  def dedupSpansIncremental(newDocs: DataFrame, path: String,
                            spanTokens: Int = 16): DataFrame = {
    val spark = newDocs.sparkSession
    val seen = graft.util.Manifest.read(spark, path, "spans")
    val fresh = spanRows(newDocs, spanTokens).join(seen, Seq("h"), "left_anti")
    reassembleSpans(newDocs, electFirst(fresh))
  }

  /** Fold a checked shard's new spans into the index (append-only —
    * a shard's kept spans are by construction disjoint from the
    * stored set). `shardId` (when given) makes a retried re-application
    * a no-op via the manifest ledger ([[graft.util.Manifest.extend]]) —
    * duplicate span hashes would not change dedup answers (the anti
    * join is membership), but they bloat the stored set for nothing;
    * the commit also makes the append atomically visible (a racing
    * reader keeps the previous generation) and a mid-append crash
    * retryable.
    */
  def extendSpanIndex(newDocs: DataFrame, path: String,
                      spanTokens: Int = 16,
                      shardId: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    val seen = graft.util.Manifest.read(spark, path, "spans")
    // materialize the delta FIRST, then append it in a separate job:
    // appending to the same directory the anti join is scanning would
    // lean on the eager file-listing snapshot — unspecified behavior
    // Spark only explicitly rejects for overwrite mode. (The manifest
    // read pins an explicit file list, but the delta still must not
    // observe its own append.)
    graft.util.Manifest.extend(spark, path, shardId) {
      val (delta, deltaPath) = writeThroughAt(
        spanRows(newDocs, spanTokens)
          .select(col("h")).distinct()
          .join(seen, Seq("h"), "left_anti"))
      delta.write.mode(SaveMode.Append).parquet(spansPath(path))
      dropSnapshot(spark, deltaPath)
    }
    ()
  }

  /** The seen-span index as a streamed [[graft.util.ShardedStore]] —
    * the span-dedup state maintained as a live stream: batch 0
    * initializes the index with its own elected spans, later batches
    * append only spans the store has not seen ([[extendSpanIndex]]
    * under the ledgered batch id; membership anti-joins make duplicate
    * hashes answer-neutral anyway, the ledger keeps the stored set
    * tight). The final stored set is the DISTINCT span set of
    * everything streamed — batch-order-independent — so deduping a
    * later tranche against the streamed store equals the from-scratch
    * election restricted to that tranche.
    */
  def spanStore(path: String, spanTokens: Int = 16): graft.util.ShardedStore =
    graft.util.ShardedStore.onManifest(path, "spans")(
      buildSpanIndex(_, path, spanTokens, _),
      extendSpanIndex(_, path, spanTokens, _))

  /** First-occurrence election: keep each distinct span's earliest
    * (doc_id, pos) row; the window partitions on the precomputed span
    * HASH so the exchange carries a fixed-width key, not span text.
    */
  private def electFirst(spans: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("h")).orderBy(col("doc_id"), col("pos"))
    spans.withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).drop("rn")
  }

  /** Word n-gram shingles of the canonical token stream, distinct. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    if (n <= 1) array_distinct(toks)
    else {
      val idx = sequence(lit(0), size(toks) - n)
      // guard: size < n would make sequence() count DOWN and index 0
      val grams = array_distinct(transform(idx, i =>
        concat_ws(" ", (0 until n).map(j => element_at(toks, (i + j + 1).cast("int"))): _*)))
      when(size(toks) >= n, grams).otherwise(array().cast("array<string>"))
    }
  }

  /** Per-doc distinct shingle sets, hashed to 64-bit via xxhash64.
    * Every downstream set operation (inverted index, intersection,
    * MinHash) runs on 8-byte longs instead of shingle strings — the
    * shuffle carries fixed-width keys and the Jaccard math is unchanged
    * (distinct hashes ≡ distinct shingles up to a ~2⁻⁶⁴ collision).
    */
  private def hashedShingles(docs: DataFrame, n: Int): DataFrame = {
    // repartition on doc_id: document corpora often arrive as few large
    // files, and every downstream stage (shingle scan, index join,
    // per-pair agg) inherits this partitioning — without it the whole
    // pipeline can collapse into one task per input file. The partition
    // count is EXPLICIT: a column-only repartition is an advisory-size
    // exchange that AQE happily coalesces back to one partition when
    // the *input* is small — even though the pipelined join fan-out
    // downstream is thousands of rows per input row.
    //
    // The shingle kernel runs ABOVE the exchange (r13): the exchange
    // carries raw text — the same order of bytes as the hash arrays —
    // and the kernel then runs at full shuffle parallelism instead of
    // one task per input file (the FreqSketch.widenToCores lesson: a
    // one-file corpus otherwise serializes the single most expensive
    // map of the whole miner). Re-use across consumers is NOT lost:
    // every caller snap()s this frame, so the kernel runs once into
    // the snapshot either way.
    // Width is BYTE-ADAPTIVE since r17 (the scrubBenchmarkSpans rule,
    // 64 KB text budget): the conf-width exchange made every snap() of
    // this frame pay one parquet-writer init + task overhead PER
    // SESSION CORE for kilobyte corpora — measured sf0.1: the shingle
    // snapshot stage alone was 9.3 CPU-s of dedup_ngram_jaccard's 52,
    // and a bare 32-way write of this frame costs 3.8-7.3 CPU-s vs
    // 0.8-1.5 at narrow width, while the shingle kernel itself is
    // 58 ms per corpus pass. partsFor saturates at the conf cap, so
    // any real corpus keeps the full-width plan (the r13 one-file
    // lesson still holds there: the kernel runs above the exchange at
    // full parallelism).
    val projected = docs.select(col("doc_id"), col("text"))
    val parts = Width.partsFor(projected, 64L * 1024)
    projected
      .repartition(parts, col("doc_id"))
      .select(col("doc_id"),
        graft.functions.VectorFunctions.shingleHashes(col("text"), n).as("hs"))
  }

  /** Exact n-gram Jaccard similarity for every pair at or above the
    * threshold, doc_a < doc_b, via **prefix filtering** (the PPJoin
    * family): because [[graft.functions.ShingleHashes]] sorts every
    * doc's shingle hashes by the same global order, a pair with
    * jaccard ≥ t has intersection ≥ ⌈t·|d|⌉ for BOTH docs, and by
    * pigeonhole its smallest shared hash falls inside both docs'
    * first `|d| - ⌈t·|d|⌉ + 1` hashes. So only those prefixes are
    * indexed/joined — candidate generation shrinks ~(1-t)² with NO
    * recall loss — and each distinct candidate pair is verified with
    * an exact linear-merge intersection over the full sets.
    *
    * Scale shape: explode(prefix) → self-equi-join on the 8-byte hash
    * → distinct pairs → two joins to fetch the full sets → one
    * O(|A|+|B|) merge per pair. Nothing quadratic in the corpus
    * materializes unless the data genuinely contains that many
    * near-dup pairs.
    *
    * `maxShingleDf` additionally drops shingles appearing in more than
    * that many docs from the index (classic stop-shingle cut — they
    * generate O(df²) candidates and no near-dup signal); with the cut
    * enabled recall can drop for pairs whose overlap is exclusively
    * stop-shingles — disabled by default. SEMANTICS (since r11): the
    * cap is FULL-CORPUS document frequency, an upper bound of the
    * pre-r11 prefix-entry df — the same cap value prunes MORE; re-tune
    * carried-over values. The capped path is guarded: when the cap
    * touches more than [[maxShingleDfLossBudget]] of docs' prefixes
    * (uniformly dense corpora, where it guts recall) the call REFUSES
    * rather than returning a silently incomplete answer; within budget
    * it logs the measured affected fraction.
    */
  def ngramJaccard(docs: DataFrame, n: Int, threshold: Double,
                   maxShingleDf: Int = 0): DataFrame = {
    // Materialize the shingle sets ONCE (write-through snapshot, same
    // lifecycle as dupComponents'): every path below references them
    // repeatedly, and exchange reuse does NOT kick in across the
    // subtrees in the executed plan — r11 measured the shingle-kernel
    // subtree evaluated 6× per call, serializing the stage chain
    // (BENCH_r11 12× wall regression). Eager by design — same
    // contract as [[dupComponents]].
    val sets = snap(hashedShingles(docs, n))
    // OVERLAPPED stage chain (r13): the indexed path's prefix snapshot
    // and the density statistic both derive from `sets` alone and are
    // independent of each other — the prefix write starts
    // SPECULATIVELY on a second thread while the driver runs the
    // density jobs (Spark sessions schedule concurrent jobs fine; the
    // two writes target distinct UUID dirs). The sparse branch (the
    // overwhelmingly common one — dense is the n²-output regime) then
    // finds its snapshot already built; the dense branch awaits and
    // retires the wasted write, a cost strictly smaller than the
    // all-pairs verification it is about to run.
    //
    // prefix length |d| - ceil(t*|d|) + 1 (exact-recall bound), taken
    // over the df-ascending order: each doc's prefix is its RAREST
    // shingles. Only PREFIX rows are snapshotted — the self-join and
    // the cap guard read nothing else, so the non-prefix tail never
    // hits disk.
    // The speculative job must stay CANCELLABLE from both directions:
    // the caller's cancelJobGroup must reach it (pool threads don't
    // inherit the caller's thread-local job group, so it is re-set
    // inside the closure), and the dense branch must be able to kill
    // the abandoned write instead of letting it run to completion
    // against the all-pairs scorer's executors. Job TAGS give the second
    // handle without disturbing the first (tags are a set; group id is
    // a single slot the caller owns).
    val sc = docs.sparkSession.sparkContext
    val callerGroup = sc.getLocalProperty("spark.jobGroup.id")
    val callerDesc = sc.getLocalProperty("spark.job.description")
    val specTag = s"graft-ngram-prefix-spec-${java.util.UUID.randomUUID()}"
    val prefixFut = scala.concurrent.Future {
      val prevGroup = sc.getLocalProperty("spark.jobGroup.id")
      val prevDesc = sc.getLocalProperty("spark.job.description")
      sc.setLocalProperty("spark.jobGroup.id", callerGroup)
      sc.setLocalProperty("spark.job.description", callerDesc)
      sc.addJobTag(specTag)
      try writeThroughAt(dfRankedPostings(sets).filter(
        col("pos") < col("sz") - ceil(lit(threshold) * col("sz") - 1e-9) + 1))
      finally {
        sc.removeJobTag(specTag)
        sc.setLocalProperty("spark.jobGroup.id", prevGroup)
        sc.setLocalProperty("spark.job.description", prevDesc)
      }
    }(scala.concurrent.ExecutionContext.global)
    val (nDocs, density) = overlapDensity(sets)
    // Cost-based path choice (see [[denseOverlapCutoff]]): when the
    // expected PREFIX-JOIN overlap of a random pair reaches ~1,
    // nearly every pair is a candidate, so candidate generation is
    // Θ(n²) with or without the index — the blocked all-pairs
    // verification does the same exact merges without paying the
    // df-rank window, the candidate distinct, or the two fetch joins.
    // The prefix scaling is jaccard's: probe side indexes ~(1−t) of
    // its postings, the shortened side ~(1−2t/(1+t)).
    // The capped path stays indexed: maxShingleDf is defined as an
    // index cut, and the cap guard below adjudicates its recall.
    val dense = denseRegime("ngramJaccard", Seq(nDocs), density,
      (1 - threshold) * (1 - 2 * threshold / (1 + threshold)))
    if (dense && maxShingleDf <= 0) {
      // the dense branch won: CANCEL the in-flight speculative write
      // (it would otherwise compete with the all-pairs scorer for executors
      // to produce a snapshot nobody reads), then retire whatever
      // landed. Cleanup failures are LOGGED — a leaked snapshot dir is
      // disk the operator owes an explanation for, not a silent drop.
      sc.cancelJobsWithTag(specTag)
      prefixFut.onComplete {
        case scala.util.Success((_, p)) =>
          try dropSnapshot(docs.sparkSession, p)
          catch {
            case scala.util.control.NonFatal(e) =>
              org.apache.log4j.Logger.getLogger(getClass).warn(
                s"ngramJaccard: failed to retire speculative prefix snapshot $p", e)
          }
        case scala.util.Failure(e) =>
          // cancellation lands here by design; anything else is logged
          if (!e.isInstanceOf[org.apache.spark.SparkException] ||
              !String.valueOf(e.getMessage).contains("cancelled"))
            org.apache.log4j.Logger.getLogger(getClass).warn(
              "ngramJaccard: speculative prefix snapshot failed", e)
      }(scala.concurrent.ExecutionContext.global)
      // size-ratio prefilter BEFORE the merge (the same bound the
      // indexed path pushes into its candidate join): round(j,6) ≥ t
      // forces min ≥ tSafe·max, so failing pairs skip the kernel
      // entirely — they could only produce rows the filter drops
      val tSafe = math.max(threshold - 1e-6, 0.0)
      scoreJaccard(allPairsBlocked(sets, nDocs)
          .filter(least(size(col("hs_a")), size(col("hs_b"))).cast("double") >=
            lit(tSafe) * greatest(size(col("hs_a")), size(col("hs_b"))) - 1e-9),
        Seq(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b")), threshold)
    } else {
      val prefix = scala.concurrent.Await
        .result(prefixFut, scala.concurrent.duration.Duration.Inf)._1
      jaccardIndexed(sets, prefix, threshold, maxShingleDf)
    }
  }

  private def jaccardIndexed(sets: DataFrame, prefix: DataFrame,
                             threshold: Double,
                             maxShingleDf: Int): DataFrame = {
    checkShingleDfCap(prefix, maxShingleDf, "ngramJaccard")
    val index =
      if (maxShingleDf <= 0) prefix
      else prefix.filter(col("df") <= maxShingleDf)
    // Self-join on the 8-byte prefix hash. No broadcast hint: at 100 TB
    // an O(corpus) broadcast would kill the driver, so the join is
    // planned by size — AQE converts to broadcast when the index is
    // genuinely small and splits skewed `h` partitions (hot shingles)
    // when it isn't.
    //
    // PER-MATCH positional + length filters (the PPJoin refinements),
    // pushed INTO the join condition so pruned match rows never leave
    // the join operator. Soundness of the positional predicate: for a
    // qualifying pair the EARLIEST shared shingle in the global
    // (df, hash) order is a prefix×prefix match (were it past either
    // prefix, ALL shared shingles would be, capping overlap below the
    // ⌈t·|d|⌉ floor — the prefix theorem's own argument), and since
    // every other shared shingle ranks after it,
    //   overlap ≤ 1 + min(szA−1−pa, szB−1−pb)
    // holds AT that match. A pair with jaccard ≥ t has overlap ≥
    // t·(szA+szB)/(1+t), so its earliest match survives the predicate
    // — candidates are EXISTS(surviving match), recall untouched.
    // The length predicate is the classic size-ratio bound
    // (overlap ≤ min(sz) forces min(sz) ≥ t·max(sz)).
    //
    // This is what makes the df-ascending order pay at the candidate
    // join: hot shingles rank LAST inside each prefix (high pos), which
    // is exactly where the positional predicate is tightest — the
    // df-hot × df-hot match mass (measured 16.5M join rows → 1.5M
    // candidate pairs for 256 real ones at sf0.1) dies inside the join
    // instead of flooding a pair-level aggregate.
    // predicates now live inside [[graft.functions.PrefixSliceMatches]]
    // (r17): alphaOk/sizeOk/aProbesB in the same double arithmetic,
    // swept per probe posting over the shingle's grouped sorted
    // postings; bShort stays a SQL filter on the build side (b-only).
    // ASYMMETRIC prefixes (AllPairs' index-prefix shortening): orient
    // each pair so the probe side `a` is the LARGER doc (ties by id)
    // and the indexed side `b` the smaller. For a qualifying pair the
    // earliest shared shingle obeys overlap ≥ α = t(szA+szB)/(1+t)
    // with α ≥ 2t/(1+t)·szB on the smaller doc, so its position in b
    // is < szB − ⌈2t/(1+t)·szB⌉ + 1 — a strictly SHORTER prefix than
    // the probe bound (2t/(1+t) ≥ t), cutting the per-shingle match
    // mass by ~1/3 at t = 0.5 with recall untouched.
    val bShort = col("pos") <
      col("sz") - ceil(lit(2 * threshold / (1 + threshold)) * col("sz") - 1e-9) + 1
    // distinct BEFORE verification: the candidate dedup is one
    // exchange over the surviving match rows, and every candidate pair
    // is verified exactly once — measured faster at sf0.1 than piping
    // duplicate matches straight into the fetch joins (whose shuffled
    // rows carry the full hash arrays, so redundancy there is paid in
    // array bytes, not 16-byte pair keys)
    // widen the PROBE scan: the prefix snapshot is small in BYTES
    // (8-byte keys), so file-combining packs it into one or two scan
    // tasks — but the join fans each row out to its full match mass
    // (16.5M rows at sf0.1), which would then burn in a single thread.
    // Explicit num-partitions exchange (AQE never coalesces those);
    // the build side stays a plain scan — it's one broadcast task
    // either way.
    // widen the probe side BY PROBE DOC, not round-robin (r17): the
    // oriented join (aProbesB) materializes every duplicate match of a
    // pair on the probe doc's partition, so hashing the probe rows by
    // doc_id co-locates a pair's duplicates and the plain distinct's
    // map-side partial aggregate collapses them BEFORE the exchange —
    // the pair shuffle carries ~the distinct pair set (measured sf0.1:
    // 51.5 MB of pre-dedup match rows -> ~8 MB of partially-deduped
    // pairs, miner CPU 23 -> ~17 s). Per-probe-doc match mass varies
    // (Σ df over the doc's prefix), but thousands of docs per
    // partition keep the spread even. The distinct's reduce side is
    // AQE-widthed by bytes and the verification fuses into it — see
    // verifyJaccard's no-widen note.
    // GROUPED build side (r17, [[graft.functions.PrefixSliceMatches]]):
    // the bShort-filtered postings of each shingle collect into ONE
    // (sz, doc_id)-sorted array; the join returns one row per PROBE
    // POSTING and the kernel sweeps the size-qualifying slice — the
    // 16.5M per-match join visits become in-array ALU sweeps, and the
    // pair stream keeps the probe-doc partitioning the map-side
    // distinct depends on (the 51.5 MB → 8 MB property above).
    val parts = index.sparkSession.sessionState.conf.numShufflePartitions
    val grouped = index.filter(bShort)
      .groupBy(col("h"))
      .agg(sort_array(collect_list(struct(col("sz"), col("doc_id"), col("pos"))))
        .as("grp"))
    val cand = index.repartition(parts, col("doc_id"))
      .join(grouped, Seq("h"))
      .select(col("doc_id").as("aid"),
        explode(graft.functions.VectorFunctions.prefixSliceMatches(col("grp"),
          col("sz"), col("pos"), col("doc_id"), threshold)).as("m"))
      .select(least(col("aid"), col("m")).as("doc_a"),
        greatest(col("aid"), col("m")).as("doc_b"))
      .distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** CROSS-SET [[ngramContainment]] — pairs (corpus doc, probe doc)
    * with `|A∩B| / min ≥ threshold`, each side shingled independently
    * — the decontamination shape: a benchmark item quoted inside a
    * long training document has containment ≈ 1 and Jaccard ≈ 0, so
    * this (not a Jaccard join) is the metric benchmark-decon needs.
    * The indexed form ([[containmentAcrossIndexed]]) with its corpus
    * side computed on the spot: the corpus postings are df-ranked over
    * the corpus itself and the probes are ranked under that corpus
    * order (unseen shingles last) — exactly what
    * [[buildContainmentIndex]] would persist — and both feed the one
    * cross-set core, [[containmentAcross]]. Each side's windows key on
    * its own doc ids, so overlapping id spaces across the two frames
    * stay distinct. Returns (doc_id [corpus side], probe_id,
    * containment).
    */
  def ngramContainmentAcross(corpus: DataFrame, probes: DataFrame,
                             n: Int = 2, threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"ngramContainmentAcross: threshold must be in (0, 1], got $threshold")
    // snapshots: each side's shingle kernel runs once (the sets are
    // re-read by the verification fetch), and the corpus postings —
    // read by the probe ranking's df table and by the candidate join —
    // are evaluated once (see ngramJaccard's reeval note)
    val cs = snap(hashedShingles(corpus, n))
    val ps = snap(hashedShingles(probes, n))
    containmentAcross("ngramContainmentAcross", cs, ps, threshold) {
      val cposts = snap(dfRankedPostings(cs))
      (cposts, frozenRankedPostings(ps, cposts.select(col("h"), col("df")).distinct()))
    }
  }

  /** The exact cross-set containment join behind
    * [[ngramContainmentAcross]] and [[containmentAcrossIndexed]], which
    * differ only in where the corpus side comes from. `cs`/`ps` are
    * (doc_id, hs) shingle sets; `postings` yields (corpus, probe)
    * (doc_id, sz, h, pos) postings ranked under ONE shared total order
    * — by name, so the dense regime never builds them.
    *
    * Dense regime (see [[denseOverlapCutoff]]): when a random
    * (corpus, probe) pair shares ~1 shingle within the small-side
    * prefix (the (1−t) factor — same shape as [[ngramContainment]]),
    * the posting join is Θ(nc·np) anyway — run the rectangle-blocked
    * exact verification instead.
    *
    * Otherwise the smaller set's prefix must share a shingle with the
    * other side's full postings (the theorem; size ties count the
    * probe as smaller — either choice is covered, it just must be
    * deterministic), and the per-match positional bound prunes inside
    * the join exactly as in [[ngramContainment]]. The theorem needs
    * only a FIXED order shared by both sides, not a meaningful one, so
    * any shared order gives the same answer.
    */
  private def containmentAcross(op: String, cs: DataFrame, ps: DataFrame,
                                threshold: Double)(
      postings: => (DataFrame, DataFrame)): DataFrame = {
    val keys = Seq(col("doc_id"), col("probe_id"))
    val (nc, np, density) = crossOverlapDensity(cs, ps)
    if (denseRegime(op, Seq(nc, np), density, 1 - threshold))
      return scoreContainment(allPairsBlockedAcross(cs, nc, ps, np), keys,
        threshold)
    val (cposts, pposts) = postings
    def plen(sz: Column) = sz - ceil(lit(threshold) * sz - 1e-9) + 1
    val smallerIsProbe = col("p.sz") <= col("c.sz")
    val prefixOk =
      (smallerIsProbe && col("p.pos") < plen(col("p.sz"))) ||
        (!smallerIsProbe && col("c.pos") < plen(col("c.sz")))
    // earliest-shared-shingle positional bound under the SHARED order
    // (both pos columns rank in the same total order, so the
    // ngramContainment argument carries over verbatim)
    val alphaOk = (lit(1) +
        least(col("p.sz") - 1 - col("p.pos"), col("c.sz") - 1 - col("c.pos")))
      .cast("double") >=
        lit(threshold) * least(col("p.sz"), col("c.sz")) - 1e-9
    val cand = cposts.as("c").join(pposts.as("p"),
        col("c.h") === col("p.h") && prefixOk && alphaOk)
      .select(col("c.doc_id").as("doc_id"), col("p.doc_id").as("probe_id"))
      .distinct()
    scoreContainment(cand
      .join(cs.select(col("doc_id"), col("hs").as("hs_a")), "doc_id")
      .join(ps.select(col("doc_id").as("probe_id"), col("hs").as("hs_b")),
        "probe_id"), keys, threshold)
  }

  /** Per-doc postings of the shingle-hash sets, positioned by the
    * ASCENDING-CORPUS-FREQUENCY global order (ties by hash) — the
    * AllPairs refinement of the prefix index shared by
    * [[ngramJaccard]] and [[ngramContainment]]. The prefix-filter
    * recall theorem holds for ANY fixed total order, so exactness is
    * untouched; ranking by rarity makes each doc's prefix its RAREST
    * shingles, and prefix-candidate cost becomes Σ df² over rare
    * shingles instead of whatever the hash order happens to pick. On
    * a shingle-dense corpus this is the difference between a
    * quadratic and a near-linear candidate join — the r11 sf1 scale
    * proof measured bigram df ≈ 1,000 there (BENCH_NOTES.md), and
    * natural Zipfian text still concentrates candidate mass in its
    * frequent shingles. Cost: one aggregation over the postings plus
    * one doc-keyed window — both reuse the posting exchange; `df`
    * rides along for [[ngramJaccard]]'s `maxShingleDf` cap (now
    * defined on full-corpus df, the natural reading).
    *
    * explode_OUTER + isNotNull: a plain generator makes the optimizer
    * infer a `size(...) > 0` pre-filter that pushes below the exchange
    * and re-evaluates the shingle kernel per row at the scan (see
    * TextOps.repetition); outer keeps the kernel at one evaluation.
    * Returns (doc_id, sz, h, df, pos) with pos 0-based per doc.
    */
  private def dfRankedPostings(sets: DataFrame): DataFrame = {
    val posts = sets.select(col("doc_id"), size(col("hs")).as("sz"),
        explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
    // df via groupBy + join, NOT count().over(Window.partitionBy(h)):
    // the window form saves one stage wave but loses map-side partial
    // aggregation — every posting row of a hot shingle buffers and
    // sorts inside a single window task, which on a Zipfian corpus
    // (df of the hottest shingle ~ a constant fraction of all
    // postings) is a one-task spill exactly where the build is
    // hottest. The aggregate shape keeps partials (hot shingles
    // collapse to one row per map task before the exchange) and the
    // join is a plain equi-join AQE can skew-split — neither property
    // has a window equivalent. The extra wave is the small df frame's
    // aggregation; the posting-side exchange is paid either way.
    val dfs = posts.groupBy(col("h")).agg(count(lit(1)).as("df"))
    val withDf = posts.join(dfs, "h")
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    // byte-adaptive window width (r17): `sets` is a parquet snapshot
    // scan, so its size estimate is reliable; an explicit same-key
    // exchange ahead of the window pins the window (and the prefix
    // snapshot write that follows it) to a width matched to the
    // corpus instead of the conf cap — at sf0.1 that stage paid ~32
    // parquet-writer inits to emit a few hundred KB. Saturates to the
    // conf width on any real corpus.
    val parts = Width.partsFor(sets, 64L * 1024)
    withDf.repartition(parts, col("doc_id"))
      .withColumn("pos", row_number().over(w) - 1)
      .select(col("doc_id"), col("sz"), col("h"), col("df"), col("pos"))
  }

  /** Exact-Jaccard verification of candidate (doc_a, doc_b) pairs:
    * fetch both full sorted shingle sets, merge-count the overlap.
    *
    * No broadcast hints: the shingle-set table is O(corpus) — a
    * hard-coded broadcast would OOM the driver at scale. The fetches
    * are plain keyed joins; AQE converts them to broadcasts when the
    * set table is actually small, and both reads share the
    * [[hashedShingles]] exchange with the candidate-generation stage.
    */
  private def verifyJaccard(cand: DataFrame, sets: DataFrame,
                            threshold: Double): DataFrame =
    // No explicit widen (r17): every caller feeds the output of a
    // `.distinct()`, whose final aggregate AQE widths by BYTES
    // (parallelismFirst, 1 MB min-partition) — at sf0.1 the 26 MB
    // candidate frame verifies across ~26 partitions with the fetch
    // joins broadcast, fused into the distinct's own reduce stage.
    // The previous round-robin widenToCores added a full exchange of
    // the candidate set (33 MB at sf0.1, plus its mandatory
    // sort-before-repartition) to fix the pre-AQE serial-stage
    // pathology; measured min-of-2 this round, dropping it took
    // dedup_ngram_jaccard 29.9 -> 21.6 CPU-s at identical wall.
    // Worst case at the boundary (a ~1 MB candidate frame) is a
    // single-task merge wave of ~0.5 s — the same order as the task
    // overhead the widen itself cost.
    scoreJaccard(cand
      .join(sets.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b"),
      Seq(col("doc_a"), col("doc_b")), threshold)

  /** The one exact-Jaccard scorer: `rows` carry two sorted shingle-hash
    * arrays `hs_a`/`hs_b`; returns the aliased `keys` plus the 6-dp
    * rounded `jaccard`, rows below `threshold` dropped. Every Jaccard
    * path (indexed, banded, blocked all-pairs) ends here, so they
    * return bit-identical results.
    *
    * EARLY-EXIT merge: jaccard ≥ t needs inter ≥ t·(szA+szB)/(1+t);
    * with the round(·,6) in the output filter a row can pass with
    * jaccard as low as t − 5e-7, so the bound is taken at t − 1e-6
    * (strictly looser) and survivors still face the EXACT original
    * filter — identical answers, but the millions of non-qualifying
    * candidates bail out of the merge the moment the remaining
    * elements cannot reach the bound instead of walking both arrays.
    */
  private def scoreJaccard(rows: DataFrame, keys: Seq[Column],
                           threshold: Double): DataFrame = {
    val tSafe = math.max(threshold - 1e-6, 0.0)
    val need = greatest(lit(0L), ceil(
      lit(tSafe / (1 + tSafe)) *
        (size(col("hs_a")) + size(col("hs_b"))).cast("double") - 1e-9))
    rows.select(keys ++ Seq(
        graft.functions.VectorFunctions.sortedIntersectAtLeast(
          col("hs_a"), col("hs_b"), need).as("inter"),
        size(col("hs_a")).cast("long").as("sz_a"),
        size(col("hs_b")).cast("long").as("sz_b")): _*)
      .filter(col("inter") >= 0)
      .withColumn("jaccard", round(col("inter").cast("double") /
        (col("sz_a") + col("sz_b") - col("inter")), 6))
      .filter(col("jaccard") >= threshold)
      .drop("inter", "sz_a", "sz_b")
  }

  /** The one exact-containment scorer — [[scoreJaccard]]'s sibling for
    * `round(inter / min(|A|,|B|), 6) ≥ t`. Early-exit bound:
    * `round(inter/min, 6) ≥ t` requires `inter ≥ (t − 5e-7)·min`, so
    * the merge may bail at `need = ⌈tSafe·min⌉` with tSafe = t − 1e-6
    * (strictly looser — the identical-results argument above) and
    * every surviving row still faces the EXACT metric filter. r17: the
    * dense/all-pairs verifiers ran the FULL merge per pair (profiled
    * at ~20 warm CPU-s on the sf0.1 all-pairs containment stage, 12.5M
    * merges for 3.2k qualifying rows); they share this bound now.
    */
  private def scoreContainment(rows: DataFrame, keys: Seq[Column],
                               threshold: Double): DataFrame = {
    val tSafe = math.max(threshold - 1e-6, 0.0)
    val szMin = least(size(col("hs_a")), size(col("hs_b")))
    rows.select(keys ++ Seq(
        graft.functions.VectorFunctions.sortedIntersectAtLeast(
          col("hs_a"), col("hs_b"),
          greatest(lit(0L), ceil(lit(tSafe) * szMin.cast("double") - 1e-9)))
          .as("inter"),
        szMin.cast("long").as("sz_min")): _*)
      .filter(col("inter") >= 0)
      .withColumn("containment",
        round(col("inter").cast("double") / col("sz_min"), 6))
      .filter(col("containment") >= threshold)
      .drop("inter", "sz_min")
  }

  /** Dense-regime cutoff for the ngram pair operators' cost-based
    * path choice. The base statistic is the EXPECTED shingle-hash
    * overlap of a uniformly random doc pair, Σ_h df·(df−1) / (n·(n−1))
    * — one vocabulary-sized aggregation over the already-materialized
    * shingle snapshot — scaled by each operator's prefix fractions
    * (the share of postings its candidate join actually indexes:
    * (1−t)·(1−2t/(1+t)) for jaccard's asymmetric prefixes, (1−t) for
    * containment's small-side-prefix × full-index). When that
    * prefix-scaled expectation reaches ~1, essentially every pair is
    * a candidate, so candidate generation is Θ(n²) with or without
    * the index and the blocked exact all-pairs verification does the
    * same merges without the df-rank window, candidate distinct, or
    * fetch joins. Measured on the sf0.1 documents corpus (vocab ≈ 930
    * bigrams, raw density 2.9): containment t=0.4 scales to 1.74 →
    * all-pairs 1.5–5× faster; jaccard t=0.5 scales to 0.48 → index
    * faster (its per-match filters prune 12.5M pairs to 256); on the
    * 10× GenScale corpus (raw density 0.6) everything scales < 0.4 →
    * index 2.9–7× faster. Real open-vocabulary corpora sit orders of
    * magnitude below 1 (density is M₂/n² and M₂ grows ~linearly once
    * the shingle vocabulary outgrows the corpus), so at 100 TB the
    * index path is always chosen; the dense branch exists for
    * boilerplate-heavy small-vocabulary slices, where Θ(n²) OUTPUT
    * makes all-pairs work the lower bound anyway. @volatile var so
    * tests can pin either path and assert bit-identical outputs;
    * [[denseRegime]] is its one reader.
    */
  @volatile var denseOverlapCutoff: Double = 1.0

  /** The dense-regime decision of every ngram pair operator: `density`
    * (an [[overlapDensity]]/[[crossOverlapDensity]] statistic) scaled
    * by the operator's `prefixFactor` reaches [[denseOverlapCutoff]].
    * `ns` are the side sizes, for the probe line only.
    */
  private def denseRegime(op: String, ns: Seq[Long], density: Double,
                          prefixFactor: Double): Boolean = {
    val prefixDensity = density * prefixFactor
    val dense = prefixDensity >= denseOverlapCutoff
    if (sys.env.contains("GRAFT_PROBE"))
      println(f"[probe]   $op n=${ns.mkString("x")} density=$density%.3f " +
        f"prefixDensity=$prefixDensity%.3f dense=$dense")
    dense
  }

  /** How many docs the density statistic reads in full before it
    * switches to a bounded deterministic sample. The dispatch needs
    * ONE bit (dense vs indexed) from `density`, and both paths are
    * exact — a full-corpus pass just to decide how to pass the corpus
    * is exactly the 100 TB anti-pattern. Above the bound, docs enter
    * by `xxhash64(doc_id)` (deterministic per corpus, uncorrelated
    * with id layout) at rate p = bound/n, and
    * `Σ_h df_s(df_s−1) / p²` is an unbiased estimator of the full m2
    * (each unordered co-occurring doc pair survives with prob p²).
    * The estimate concentrates wherever the decision is clear-cut and
    * is only noisy near the cutoff — where the two exact paths cost
    * about the same anyway. Below the bound (every hash gate's sf)
    * the statistic is exact and decisions are bit-stable.
    */
  val densitySampleDocs: Long = 2000L

  /** (nDocs, expected random-pair overlap) of a [[hashedShingles]]
    * snapshot — see [[denseOverlapCutoff]]. Linear in the postings;
    * the df aggregate is vocabulary-sized.
    */
  private[graft] def overlapDensity(sets: DataFrame): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = sets.count()
    if (n < 2) return (n, 0.0)
    val bound = densitySampleDocs
    val (src, p) =
      if (n <= bound || bound <= 0) (sets, 1.0)
      else {
        val perMille = math.max(1L, bound * 1000L / n)
        (sets.filter(pmod(xxhash64(col("doc_id")), lit(1000L)) < perMille),
          perMille / 1000.0)
      }
    val m2s = src.select(explode(col("hs")).as("h"))
      .groupBy("h").agg(count(lit(1)).as("df"))
      .agg(coalesce(sum(col("df") * (col("df") - 1)), lit(0L)))
      .head().getLong(0)
    val m2 = m2s / (p * p)
    if (sys.env.contains("GRAFT_PROBE"))
      println(f"[probe]   overlapDensity ${(System.nanoTime() - t0) / 1e9}%.2f s" +
        (if (p < 1.0) f" (sampled p=$p%.3f)" else ""))
    (n, m2 / (n.toDouble * (n - 1)))
  }

  /** [[overlapDensity]] straight from a documents frame — the
    * measurement harness's view of the dense-regime statistic
    * (ScaleProbe); the operators themselves compute it over their
    * materialized snapshot.
    */
  private[graft] def shingleOverlapDensity(docs: DataFrame,
                                           n: Int): (Long, Double) =
    overlapDensity(hashedShingles(docs, n))

  /** Cross-set [[overlapDensity]]: (nCorpus, nProbes, expected
    * overlap of a random (corpus, probe) pair, Σ_h dfc·dfp /(nc·np)).
    */
  private[graft] def crossOverlapDensity(cs: DataFrame,
                                         ps: DataFrame): (Long, Long, Double) = {
    val nc = cs.count(); val np = ps.count()
    if (nc == 0 || np == 0) return (nc, np, 0.0)
    def dfTab(s: DataFrame, name: String) =
      s.select(explode(col("hs")).as("h"))
        .groupBy("h").agg(count(lit(1)).as(name))
    val m = dfTab(cs, "dfc").join(dfTab(ps, "dfp"), "h")
      .agg(coalesce(sum(col("dfc") * col("dfp")), lit(0L)))
      .head().getLong(0)
    (nc, np, m.toDouble / (nc.toDouble * np))
  }

  /** Per-task pair budget for the blocked all-pairs paths: block side
    * ~1,400 docs → ~2M merge verifications per task — small enough to
    * stay skew-free at 32 way, large enough not to drown in task
    * overhead. */
  private val allPairsBlockSide = 1400L

  /** Exact all-pairs candidates as a TRIANGLE-BLOCKED EQUI-JOIN — the
    * distributed all-pairs shape, not a cartesian: docs hash into B
    * blocks; each unordered block pair {p ≤ q} is one join key; the
    * left side replicates block p's docs to keys (p, q ≥ p), the
    * right side block q's docs to keys (p ≤ q, q), so every doc pair
    * meets on exactly one key (same-block pairs deduped by id order).
    * B(B+1)/2 key-groups partition the n²/2 merge work evenly,
    * replication is ~B/2 per side, and Catalyst plans a plain
    * shuffled equi-join — no CartesianProduct, no one-task funnel.
    * Returns (id_a, id_b, hs_a, hs_b), each unordered pair once.
    */
  private def allPairsBlocked(sets: DataFrame, nDocs: Long): DataFrame = {
    val b = math.max(8L, math.min(256L, nDocs / allPairsBlockSide + 1)).toInt
    val blk = sets.withColumn("blk",
      pmod(xxhash64(col("doc_id")), lit(b)).cast("int"))
    val left = blk.select(col("doc_id"), col("hs"), col("blk"),
        explode(sequence(col("blk"), lit(b - 1))).as("o"))
      .select(col("doc_id"), col("hs"), col("blk"),
        (col("blk") * b + col("o")).as("bp"))
    val right = blk.select(col("doc_id"), col("hs"), col("blk"),
        explode(sequence(lit(0), col("blk"))).as("o"))
      .select(col("doc_id"), col("hs"), col("blk"),
        (col("o") * b + col("blk")).as("bp"))
    left.as("a").join(right.as("b"),
        col("a.bp") === col("b.bp") &&
          (col("a.blk") =!= col("b.blk") || col("a.doc_id") < col("b.doc_id")))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
        col("a.hs").as("hs_a"), col("b.hs").as("hs_b"))
  }

  /** Rectangle-blocked cross-set all-pairs: corpus blocks × probe
    * blocks, one equi-key per (p, q) cell; every (corpus, probe) pair
    * meets on exactly one key. Returns (doc_id, probe_id, hs_a, hs_b)
    * — corpus set, probe set.
    */
  private def allPairsBlockedAcross(cs: DataFrame, nc: Long,
                                    ps: DataFrame, np: Long): DataFrame = {
    val bc = math.max(8L, math.min(256L, nc / allPairsBlockSide + 1)).toInt
    val bp = math.max(4L, math.min(256L, np / allPairsBlockSide + 1)).toInt
    val left = cs.select(col("doc_id"), col("hs"),
        pmod(xxhash64(col("doc_id")), lit(bc)).cast("int").as("blk"),
        explode(sequence(lit(0), lit(bp - 1))).as("o"))
      .select(col("doc_id"), col("hs"),
        (col("blk") * bp + col("o")).as("cell"))
    val right = ps.select(col("doc_id"), col("hs"),
        pmod(xxhash64(col("doc_id")), lit(bp)).cast("int").as("blk"),
        explode(sequence(lit(0), lit(bc - 1))).as("o"))
      .select(col("doc_id"), col("hs"),
        (col("o") * bp + col("blk")).as("cell"))
    left.as("a").join(right.as("b"), col("a.cell") === col("b.cell"))
      .select(col("a.doc_id").as("doc_id"), col("b.doc_id").as("probe_id"),
        col("a.hs").as("hs_a"), col("b.hs").as("hs_b"))
  }

  /** CONTAINMENT near-dup pairs — `|A∩B| / min(|A|,|B|) ≥ threshold` —
    * the asymmetric sibling of [[ngramJaccard]], for the pair class
    * Jaccard is blind to: a short document quoted or embedded inside a
    * much longer one has containment ≈ 1 while its Jaccard (and with
    * it any Jaccard-tuned MinHash banding's collision probability)
    * goes to zero as the length ratio grows. This is the metric
    * benchmark-decontamination and quote-dedup actually want.
    *
    * Exact by the prefix-filter recall theorem, not by tuned recall:
    * order every set by one global total order (the df-ascending
    * AllPairs order of [[dfRankedPostings]]) and take each doc's first
    * `|X| − ⌈t·|X|⌉ + 1` shingles as its prefix. For any qualifying
    * pair, the SMALLER set's prefix must share a shingle with the
    * other set — were all shared shingles past that prefix, the
    * overlap could cap at `⌈t·|X|⌉ − 1 < t·|X| = t·min`. So candidates
    * come from joining small-side prefixes against the FULL posting
    * index. (Prefix×prefix — sound for Jaccard, where the required
    * overlap scales with BOTH sizes — is unsound here: the larger
    * doc's prefix bound `⌈t·|B|⌉ − 1` does not contradict a `t·min`
    * overlap. The full side costs one extra posting per shingle over
    * [[ngramJaccard]]'s index — linear, not quadratic.)
    *
    * Same scale posture as [[ngramJaccard]]: no broadcast hints (AQE
    * decides), candidates pruned by the small-side positional bound
    * before the exact merge-count verification, everything keyed by
    * shingle hash or doc id — never an all-pairs shape.
    */
  def ngramContainment(docs: DataFrame, n: Int = 2,
                       threshold: Double = 0.4): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"ngramContainment: threshold must be in (0, 1], got $threshold")
    // snapshots pin the shingle kernel and the posting index to one
    // evaluation each (see ngramJaccard — same 6×-reeval pathology)
    val sets = snap(hashedShingles(docs, n))
    val (nDocs, density) = overlapDensity(sets)
    // dense-regime path choice — see [[ngramJaccard]] and
    // [[denseOverlapCutoff]]. Containment's candidate join is
    // small-side prefix (~(1−t) of postings) × FULL index, so the
    // prefix scaling has a single (1−t) factor.
    if (denseRegime("ngramContainment", Seq(nDocs), density, 1 - threshold))
      scoreContainment(allPairsBlocked(sets, nDocs),
        Seq(least(col("id_a"), col("id_b")).as("doc_a"),
          greatest(col("id_a"), col("id_b")).as("doc_b")), threshold)
    else containmentIndexed(sets, threshold)
  }

  private def containmentIndexed(sets: DataFrame,
                                 threshold: Double): DataFrame = {
    // df-ranked postings (the shared AllPairs index): each doc's
    // prefix is its rarest shingles, so the prefix×full probe cost
    // tracks rare-shingle df², not the dense tail
    val full = snap(dfRankedPostings(sets))
    val prefix = full.filter(
      col("pos") < col("sz") - ceil(lit(threshold) * col("sz") - 1e-9) + 1)
    // the smaller set's prefix probes the full index (size ties break
    // by id so each unordered pair is generated exactly once).
    // PER-MATCH positional predicate pushed into the join (see
    // ngramJaccard): the earliest shared shingle of a qualifying pair
    // lies within the SMALL side's prefix and appears in the large
    // side's FULL postings at its own position, and every other shared
    // shingle ranks after it, so overlap ≤ 1 + min(remaining-a,
    // remaining-b) at that match while containment ≥ t forces
    // overlap ≥ t·sz_s — its earliest match survives, recall is exact,
    // and the hot-shingle match mass dies inside the join.
    val alphaOk = (lit(1) +
        least(col("a.sz") - 1 - col("a.pos"), col("b.sz") - 1 - col("b.pos")))
      .cast("double") >= lit(threshold) * col("a.sz") - 1e-9
    val cand = prefix.as("a")
      .join(full.as("b"),
        col("a.h") === col("b.h") &&
          (col("a.sz") < col("b.sz") ||
            (col("a.sz") === col("b.sz") && col("a.doc_id") < col("b.doc_id"))) &&
          alphaOk)
      .select(col("a.doc_id").as("doc_s"), col("b.doc_id").as("doc_l"))
      .distinct()
    scoreContainment(cand
      .join(sets.select(col("doc_id").as("doc_s"), col("hs").as("hs_a")), "doc_s")
      .join(sets.select(col("doc_id").as("doc_l"), col("hs").as("hs_b")), "doc_l"),
      Seq(least(col("doc_s"), col("doc_l")).as("doc_a"),
        greatest(col("doc_s"), col("doc_l")).as("doc_b")), threshold)
  }

  /** MinHash signatures: for each doc, `numHashes` minima of seeded
    * xxhash64 over its shingle-hash set. One explode + one grouped agg
    * (map-side partial min ⇒ the shuffle is one row per doc per
    * partition); each of the `numHashes` functions re-hashes the 8-byte
    * base shingle hash, not the string — string bytes are hashed exactly
    * once per shingle. Deterministic and partitioning-independent.
    */
  def minhashSignatures(docs: DataFrame, n: Int, numHashes: Int): DataFrame =
    signaturesFromSets(hashedShingles(docs, n), numHashes)

  /** MinHash signatures from an existing [[hashedShingles]] frame —
    * split out so [[minhashLsh]] computes the shingle sets ONCE and
    * shares the exchange between signature generation and Jaccard
    * verification.
    */
  private def signaturesFromSets(sets: DataFrame, numHashes: Int): DataFrame = {
    // explode_outer + isNotNull: avoid the inferred size(hs) > 0
    // pre-filter that would re-run the shingle kernel below the
    // exchange (see TextOps.repetition)
    val sh = sets.select(col("doc_id"), explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
    val mins = (0 until numHashes).map(i => min(xxhash64(lit(i), col("h"))).as(s"mh_$i"))
    sh.groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** MinHash + LSH banding near-dup pairs — the 100 TB-scale path.
    * Bands the signature into `bands` groups of `numHashes/bands` rows,
    * hashes each band, and joins docs sharing any band bucket; then
    * verifies candidates with exact n-gram Jaccard.
    *
    * Cost model: candidate generation is a shuffle on (band, bucket) —
    * collision probability for docs with Jaccard s is 1-(1-s^r)^b, so
    * true near-dups are found w.h.p. while the quadratic all-pairs
    * blowup never happens.
    */
  def minhashLsh(docs: DataFrame, n: Int = 2, threshold: Double = 0.5,
                 numHashes: Int = 32, bands: Int = 16): DataFrame = {
    // one kernel evaluation: the sets feed banding AND both
    // verification fetches (see ngramJaccard's reeval note)
    val sets = snap(hashedShingles(docs, n))
    // map-only banding through the MinHashMins kernel (bit-identical
    // buckets to the classic bandBuckets∘signaturesFromSets path,
    // spec-proven, without its signature exchange)
    val buckets = kernelBuckets(sets, numHashes, bands, probes = false)
      .drop("is_base")
    val cand = buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    // verify candidates with exact Jaccard over the full sorted sets
    // (one linear merge per pair — see verifyJaccard)
    verifyJaccard(cand, sets, threshold)
  }

  /** Query-directed multi-probe MinHash LSH — the recall/cost knob a
    * 100 TB dedup actually wants to turn. Single-probe banding buys
    * recall only by adding bands, and every band is another full-corpus
    * bucket exchange. Multi-probe instead ALSO probes, per band, the r
    * buckets obtained by substituting one signature coordinate with the
    * doc's second-smallest MinHash value ([[graft.functions.MinHashMins]]):
    * when two near-dups disagree on exactly one coordinate, the
    * disagreeing doc's min comes from a private shingle and its second
    * minimum is (w.p. ≈ their Jaccard) the other doc's minimum — so the
    * substituted bucket is precisely the most likely near-miss. Recall
    * at b bands approaches single-probe recall at ~2b bands for ~the
    * same exchange volume: probe rows are (r+1)× of one band's rows,
    * but carried as lean (doc_id, band, bucket) triples and joined
    * against BASE rows only, never probe×probe.
    *
    * Candidates are a strict superset of [[minhashLsh]] at the same
    * (numHashes, bands) — base buckets are bit-identical (spec-proven)
    * and base×base pairs are included — and exact-Jaccard verification
    * keeps precision 1.0 regardless of probing. Empty docs produce
    * sentinel signatures that can only pair with other empty docs, and
    * verification drops those (null Jaccard); filter empties upstream
    * if they are a corpus-scale population.
    */
  def minhashLshMultiProbe(docs: DataFrame, n: Int = 2, threshold: Double = 0.5,
                           numHashes: Int = 32, bands: Int = 16): DataFrame = {
    // one kernel evaluation (see minhashLsh)
    val sets = snap(hashedShingles(docs, n))
    val ext = kernelBuckets(sets, numHashes, bands, probes = true)
    val cand = bucketCandidates(ext, ext.filter(col("is_base"))).distinct()
    verifyJaccard(cand, sets, threshold)
  }

  /** The candidate-generation contract shared by every bucketed pair
    * generator: equi-join two bucket frames on (band, bucket), exclude
    * self-pairs, orient by id. ext×base — never probe×probe: a
    * distance-1 disagreement is caught from EITHER side (the
    * disagreeing doc's probe hits the other's base bucket), so joining
    * both extended sides would only add distance-2 noise candidates.
    * Callers own the final `distinct()` (increments union three of
    * these before deduping once).
    */
  private def bucketCandidates(ext: DataFrame, base: DataFrame): DataFrame =
    ext.as("x")
      .join(base.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
          col("x.doc_id") =!= col("y.doc_id"))
      .select(least(col("x.doc_id"), col("y.doc_id")).as("doc_a"),
        greatest(col("x.doc_id"), col("y.doc_id")).as("doc_b"))

  /** (doc_id, band, bucket, is_base) LSH bucket rows straight from a
    * [[hashedShingles]] frame via the one-pass [[graft.functions.MinHashMins]]
    * kernel — NO signature shuffle (the classic explode→groupBy path in
    * [[minhashSignatures]] pays one exchange to do the same). Band
    * `bId` folds signature rows `[bId·r, (bId+1)·r)` through the
    * built-in xxhash64 chain into one 64-bit bucket — bit-identical to
    * banding the classic signature frame (spec-proven:
    * m1 == min(xxhash64(lit(i), h)) and the same chain hashes). With
    * `probes = true`, each band also emits its r second-minimum
    * substitution probe buckets (`is_base = false`).
    *
    * The mm alias is non-cheap and multi-referenced, so CollapseProject
    * keeps the projection boundary — the kernel runs once per doc, not
    * per band. Empty docs get all-sentinel signatures; their buckets
    * can only pair them with other empty docs, and exact-Jaccard
    * verification drops those pairs (null Jaccard) — filter empties
    * upstream if they are a corpus-scale population.
    */
  private def kernelBuckets(sets: DataFrame, numHashes: Int, bands: Int,
                            probes: Boolean): DataFrame = {
    require(numHashes % bands == 0, "bands must divide numHashes")
    val r = numHashes / bands
    val sig = sets.select(col("doc_id"),
      graft.functions.VectorFunctions.minhashMins(col("hs"), numHashes).as("mm"))
    def m1(i: Int) = col("mm").getItem(i).getField("m1")
    def m2(i: Int) = col("mm").getItem(i).getField("m2")
    val rows = (0 until bands).flatMap { bId =>
      val idxs = bId * r until (bId + 1) * r
      val base = struct(lit(bId).as("band"),
        xxhash64(idxs.map(m1): _*).as("bucket"), lit(true).as("is_base"))
      if (!probes) Seq(base)
      else base +: idxs.map { j =>
        struct(lit(bId).as("band"),
          xxhash64(idxs.map(i => if (i == j) m2(j) else m1(i)): _*).as("bucket"),
          lit(false).as("is_base"))
      }
    }
    sig.select(col("doc_id"), explode(array(rows: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band").as("band"),
        col("bb.bucket").as("bucket"), col("bb.is_base").as("is_base"))
  }

  /** 64-bit frequency-weighted SimHash over the token stream, one
    * map-only pass per document via [[graft.functions.SimHash64]]
    * (bit-compatible with the classic explode → 64 bit-vote aggregates
    * plan, which shuffles every token of the corpus; this shuffles
    * nothing). The repartition spreads single-file corpora across
    * tasks for the downstream band join.
    */
  def simhash(docs: DataFrame): DataFrame = {
    val parts = docs.sparkSession.sessionState.conf.numShufflePartitions
    // kernel below the exchange: the band self-join downstream reads
    // the same subtree twice, and exchange reuse then runs the
    // signature computation once
    docs.select(col("doc_id"),
      graft.functions.TextFunctions.simhash64(col("text")).as("simhash"))
      .repartition(parts, col("doc_id"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, found via
    * band blocking over `maxDist + 1` disjoint bit ranges (pigeonhole:
    * ≤ maxDist differing bits cannot touch all maxDist+1 bands, so any
    * qualifying pair shares at least one exact band).
    */
  def simhashPairs(docs: DataFrame, maxDist: Int = 3): DataFrame = {
    require(maxDist >= 0 && maxDist < 64, "maxDist must be in [0, 63]")
    val nBands = maxDist + 1
    val sig = simhash(docs)
    val bandCols = (0 until nBands).map { bId =>
      val lo = bId * 64 / nBands
      val hi = (bId + 1) * 64 / nBands // exclusive
      val width = hi - lo
      val mask = if (width >= 64) -1L else (1L << width) - 1L
      struct(lit(bId).as("band"),
        shiftright(col("simhash"), lo).bitwiseAND(mask).as("bucket"))
    }
    val buckets = sig.select(col("doc_id"), col("simhash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("simhash"),
        col("bb.band").as("band"), col("bb.bucket").as("bucket"))
    val hamming = {
      val x = col("a.simhash").bitwiseXOR(col("b.simhash"))
      bit_count(x)
    }
    buckets.as("a")
      .join(buckets.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        hamming.as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxDist)
  }

  /** Driver-visible self-check for [[simhashPairs]]: compare the banded
    * pair set against a brute-force Hamming scan and emit ONE row of
    * invariants — all zero when the banding honors its pigeonhole
    * guarantee. The signatures are hash-seeded, so no external engine
    * can recompute the pair list itself; this folds the equivalence
    * assertion into constant-valued columns an oracle CAN assert.
    *
    * The brute scan is quadratic, so the check runs on a deterministic
    * hash-sample of at most `maxBruteDocs` documents (the pigeonhole
    * proof holds on any doc subset — banding and brute see the SAME
    * sample, so the equivalence is exact on it). The gate's cost is
    * thereby capped at ~maxBruteDocs² whatever the corpus size, while
    * [[simhashPairs]] itself — the production path — stays banded and
    * near-linear.
    */
  def simhashSelfCheck(docs: DataFrame, maxDist: Int = 3,
                       maxBruteDocs: Int = 2000): DataFrame = {
    // one count() job to size the sample fraction — acceptable in a
    // check harness (never on the production path)
    val n = docs.count()
    val sampled =
      if (n <= maxBruteDocs) docs
      else Curation.sampleByHash(docs, "doc_id", maxBruteDocs.toDouble / n)
    val banded = simhashPairs(sampled, maxDist)
    val sig = simhash(sampled)
    val brute = sig.as("a").crossJoin(sig.as("b"))
      .filter(col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .filter(col("hamming") <= maxDist)
    val missed = brute.select("doc_a", "doc_b")
      .join(banded.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
      .agg(count(lit(1)).as("missed_vs_brute"))
    val spurious = banded.select("doc_a", "doc_b")
      .join(brute.select("doc_a", "doc_b"), Seq("doc_a", "doc_b"), "left_anti")
      .agg(count(lit(1)).as("spurious_vs_brute"))
    val beyond = banded.filter(col("hamming") > maxDist)
      .agg(count(lit(1)).as("beyond_maxdist"))
    missed.crossJoin(spurious).crossJoin(beyond)
  }

  /** Edge-count bound for [[dupComponents]]' small-graph fast path: a
    * pair graph with at most this many edges (known exactly — the
    * edge list is materialized before the choice) runs an exact
    * driver-local union-find instead of the distributed doubling
    * loop. The loop's per-round fixed overhead (3 shuffle jobs ×
    * O(log diameter) rounds, each paying scheduling + exchange for
    * every partition) measured 13 CPU-s / 1.7 s wall on a 256-edge
    * graph — pure overhead at that size, while union-find is
    * microseconds. The default bounds driver memory at ~16 B/edge
    * (8 MB) — the same bounded-collect contract as the closure's own
    * hot-key list — and graphs past the bound take the distributed
    * loop unchanged, so the 100 TB posture is untouched (a web-scale
    * pair graph blows the bound immediately; the CONTRACTED graphs
    * of [[mergedComponents]]' daily increments, by design a few
    * nodes per new-pair endpoint, are exactly what stays under it).
    * 0 disables; callers (and specs) pin either path through
    * [[dupComponents]]' `driverEdgeBound`.
    */
  val maxDriverEdges: Long = 500000L

  /** Exact union-find over a driver-bounded edge list, root = min id
    * of each component (attach-larger-root-under-smaller keeps every
    * root the minimum of its tree, so `find` yields the same
    * canonical representative the distributed loop converges to).
    */
  private def driverComponents(spark: org.apache.spark.sql.SparkSession,
                               p: DataFrame): DataFrame = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    p.select(col("doc_a"), col("doc_b")).collect().foreach { row =>
      val a = row.getLong(0); val b = row.getLong(1)
      if (!parent.contains(a)) parent(a) = a
      if (!parent.contains(b)) parent(b) = b
      val ra = find(a); val rb = find(b)
      if (ra != rb) {
        if (ra < rb) parent(rb) = ra else parent(ra) = rb
      }
    }
    import spark.implicits._
    parent.keys.toSeq.map(k => (k, find(k)))
      .toDF("doc_id", "component_id")
  }

  /** Connected components over a near-dup pair graph: the transitive
    * closure that turns pairwise matches into dup GROUPS (A~B, B~C ⇒
    * {A,B,C} share one group even if A,C never matched directly) —
    * the contract an actual dedup pass needs, since keeping one doc
    * per *pair* over-deletes chains.
    *
    * Output: one row per doc that appears in a pair —
    * `(doc_id, component_id)` with `component_id` = min doc_id in the
    * component (deterministic canonical representative).
    *
    * Algorithm: min-label propagation with pointer-jumping. Each round
    * propagates the smallest neighbor label (one shuffle) and then
    * shortcuts every label to its label's label (one more join) — the
    * doubling step that turns O(diameter) rounds into O(log diameter),
    * which is what survives adversarially long dup CHAINS (templated
    * crawl pages) at corpus scale. The driver loop only checks a
    * per-round convergence COUNT — no row data ever reaches the
    * driver. Each round's labels are snapshotted to parquet so both
    * the data lineage AND the logical plan stay O(1) per round (see
    * the in-body comment — persist() alone lets the plan tree grow
    * 4× per round).
    *
    * `hotDegree` bounds the per-task shuffle rows of the propagation
    * join: a node whose degree reaches it (web-duplicate graphs are
    * power-law — a boilerplate page can match millions) is a HOT key,
    * and the propagation handles hot keys on a broadcast path instead
    * of the shuffle join (see in-body comment). Lower it in tests to
    * force the path; raise it past the max degree to disable.
    * `driverEdgeBound` (see [[maxDriverEdges]]) gates the driver-local
    * union-find fast path — 0 forces the distributed loop.
    */
  def dupComponents(pairs: DataFrame, hotDegree: Int = 65536,
                    driverEdgeBound: Long = maxDriverEdges): DataFrame = {
    val spark = pairs.sparkSession
    // snapshot the PAIRS to parquet, not persist(): the union below
    // reads its input twice (so materializing downstream of it would
    // run the possibly-expensive pair-generation plan twice), and —
    // crucially — persist() caches DATA but leaves the full
    // pair-generation lineage in every round's LOGICAL plan. With a
    // large input plan (e.g. multi-probe LSH verification feeding this
    // closure) the per-round plan trees then grow past what Spark can
    // even stringify. The write-through gives every round a
    // constant-size parquet-scan base instead.
    val (p, pPath) = writeThroughAt(pairs.select(col("doc_a"), col("doc_b")))
    // small-graph fast path: exact, bounded, same canonical labels
    val idsAreLong =
      p.schema("doc_a").dataType == org.apache.spark.sql.types.LongType &&
        p.schema("doc_b").dataType == org.apache.spark.sql.types.LongType
    if (driverEdgeBound > 0 && idsAreLong && p.count() <= driverEdgeBound) {
      val r = driverComponents(spark, p)
      dropSnapshot(spark, pPath)
      return r
    }
    // The symmetrized edge relation is round-invariant: it is
    // materialized ONCE below (in its final cold/hot-split shape) so
    // no round re-runs the union or the hot-key isin filters — each
    // round starts from a plain parquet scan of exactly its rows.
    val edges = p.select(col("doc_a").as("s"), col("doc_b").as("d"))
      .union(p.select(col("doc_b").as("s"), col("doc_a").as("d")))
    // Every round's labels are snapshotted to parquet (writeThrough),
    // NOT persist()ed: persist materializes data but leaves the full
    // lineage in the LOGICAL plan, and this loop's plan tree would
    // otherwise QUADRUPLE per round (`next` self-joins `propagated`,
    // which embeds `labels` twice) — after enough rounds Spark OOMs
    // just stringifying the plan for the execution listener. The
    // snapshot gives round k+1 a constant-size parquet-scan base, so
    // plan size is flat no matter how many rounds convergence takes.
    // Within a round the tiny label/edge joins recompute at worst a
    // couple of times across the write + convergence count — noise
    // next to a stable driver at adversarial chain depths. The
    // returned frame is the last snapshot's scan: the operator holds
    // zero block-manager storage after returning (spec-asserted).
    var (labels, labelsPath) = writeThroughAt(edges.groupBy(col("s").as("doc_id"))
      .agg(least(first(col("s")), min(col("d"))).as("component_id")))
    // Hot-key split for the per-round propagation join. The join keys
    // the EDGES by `s` to look up label(s); a power-law hub (degree ≥
    // hotDegree) would land its whole edge list on one sort-merge task
    // — the straggler that decides wall-clock at web-duplicate scale.
    // Degrees are a property of the static edge set, so the hot set is
    // computed ONCE (a partial-agg'd count — map-side combine bounds
    // the count shuffle itself), collected to the driver (power-law ⇒
    // few keys above any high threshold; the collect is bounded by
    // design, same contract as the probed-cell collect in Pq.annTopK),
    // and the split is a map-side isin filter. Hot edges then join
    // their labels via BROADCAST (the hot label slice is ≤ |hot keys|
    // rows — bytes), so no hub edge list ever crosses a shuffle keyed
    // by s; the downstream groupBy(d).min is already safe for hot d
    // because min partial-aggregates map-side. Spec-measured on a
    // 10⁵-spoke star: max per-task shuffle-read collapses from the
    // full spoke count to the even split.
    val hotKeys: Array[Long] = edges.groupBy("s")
      .agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= hotDegree).select("s")
      .collect().map(_.getLong(0))
    val (edgesCold, coldPath, edgesHot, hotPath) =
      if (hotKeys.isEmpty) {
        val (c, cp) = writeThroughAt(edges)
        (c, cp, None, None)
      } else {
        val (c, cp) = writeThroughAt(
          edges.filter(!col("s").isin(hotKeys.toIndexedSeq: _*)))
        val (h, hp) = writeThroughAt(
          edges.filter(col("s").isin(hotKeys.toIndexedSeq: _*)))
        (c, cp, Some(h), Some(hp))
      }
    // the pair snapshot fed only the edge materialization — retire it
    dropSnapshot(spark, pPath)
    var converged = false
    while (!converged) {
      // candidate label for d: the smallest label among its neighbors
      val labelsS = labels.select(col("doc_id").as("s"), col("component_id").as("nl"))
      val joined = edgesHot match {
        case None => edgesCold.join(labelsS, "s")
        case Some(hot) =>
          edgesCold.join(labelsS, "s").unionByName(
            hot.join(broadcast(
              labelsS.filter(col("s").isin(hotKeys.toIndexedSeq: _*))), "s"))
      }
      val viaNeighbors = joined
        .groupBy(col("d").as("doc_id"))
        .agg(min(col("nl")).as("neighbor_min"))
      // `prev` (this round's starting label) rides along into the
      // snapshot so convergence is a partial-agg'd FILTER COUNT over
      // the snapshot scan — no per-round labels⋈snapshot join
      val propagated = labels.join(viaNeighbors, Seq("doc_id"), "left")
        .select(col("doc_id"), col("component_id").as("prev"),
          least(col("component_id"), coalesce(col("neighbor_min"), col("component_id")))
            .as("component_id"))
      // shortcut: label ← label(label). Every label IS a node of the
      // graph (it starts as a min over doc ids), so the self-join
      // resolves unless the label is already a root. This join keys
      // MEMBERS by their label, and a large component's label is a hot
      // key by definition (the star straggler all over again — and it
      // gets WORSE as components converge), so labels with ≥ hotDegree
      // members each round take the broadcast path: the member counts
      // are a partial-agg'd pass, the hot list is driver-bounded by
      // pigeonhole (≤ N/hotDegree ids), and the hot labels' parent
      // rows are ≤ that many — bytes to broadcast.
      val parentSide = propagated.select(col("doc_id").as("component_id"),
        col("component_id").as("parent"))
      val hotLabels: Array[Long] = propagated.groupBy("component_id")
        .agg(count(lit(1)).as("n"))
        .filter(col("n") >= hotDegree).select("component_id")
        .collect().map(_.getLong(0))
      val resolved =
        if (hotLabels.isEmpty) propagated.join(parentSide, Seq("component_id"), "left")
        else {
          val hs = hotLabels.toIndexedSeq
          propagated.filter(!col("component_id").isin(hs: _*))
            .join(parentSide, Seq("component_id"), "left")
            .unionByName(propagated.filter(col("component_id").isin(hs: _*))
              .join(broadcast(parentSide.filter(col("component_id").isin(hs: _*))),
                Seq("component_id"), "left"))
        }
      val next = resolved.select(col("doc_id"), col("prev"),
        coalesce(col("parent"), col("component_id")).as("component_id"))
      val (snapped, snappedPath) = writeThroughAt(next)
      // early-exit check: a column-pruned scan of the snapshot just
      // written (counts partial-aggregate map-side; zero joins)
      val changed = snapped.filter(col("component_id") =!= col("prev")).count()
      dropSnapshot(spark, labelsPath)
      labels = snapped.select("doc_id", "component_id")
      labelsPath = snappedPath
      converged = changed == 0
    }
    dropSnapshot(spark, coldPath)
    hotPath.foreach(dropSnapshot(spark, _))
    labels
  }

  /** Snapshot `df` to parquet and return a scan of the snapshot —
    * a materialization whose lifecycle is the filesystem's, not the
    * block manager's. Lands in the SparkContext checkpoint dir when one
    * is set (the cluster-correct location: executors must reach it); a
    * driver-local [[graft.util.Scratch]] dir, cleaned on JVM exit,
    * otherwise (local-mode sessions — this repo's test/verify harness).
    */
  private lazy val localSnapDir: String =
    graft.util.Scratch.dir("graft-materialize").toString

  /** [[writeThroughAt]] for snapshots that live as long as the result
    * frame may be read: the returned scan IS the caller's return-value
    * base, so the files are owned by the checkpoint dir (cluster) or
    * the JVM-exit hook (local) — never retired eagerly.
    */
  private def snap(df: DataFrame): DataFrame =
    if (sys.env.contains("GRAFT_PROBE")) {
      val s = System.nanoTime(); val r = writeThroughAt(df)._1
      println(f"[probe]   snap ${(System.nanoTime() - s) / 1e9}%.2f s"); r
    } else writeThroughAt(df)._1

  /** Public [[snap]] for multi-stage pipeline composition: materialize
    * an expensive intermediate (a decon survivor set, a scored pool)
    * ONCE so every later stage scans the snapshot instead of
    * re-deriving the whole upstream subtree — the same write-through
    * device the pair miners use internally, exposed for callers
    * chaining operators whose plans each reference the intermediate.
    * Files live in the session checkpoint dir (cluster) or a
    * JVM-exit-scoped temp dir (local).
    */
  def materialize(df: DataFrame): DataFrame = snap(df)

  /** The [[ngramJaccard]] `maxShingleDf` recall guard. The prefix-filter
    * recall theorem needs every prefix entry present; the cap deletes
    * index entries with df above it, so any doc with a capped PREFIX
    * entry can silently lose pairs. On Zipfian text the cap trims a
    * dense tail few prefixes touch; on a uniformly dense corpus it guts
    * recall while presenting as an innocuous knob (measured r11:
    * 145/2,899 pairs survive cap=200 on the dense sf1 corpus). So the
    * capped path is REFUSED when the measured affected-doc fraction
    * exceeds `maxShingleDfLossBudget` (default 5%), and logs the
    * measured fraction loudly otherwise — never a silent 5% answer.
    * One partial-agg'd count over the already-materialized index.
    */
  @volatile var maxShingleDfLossBudget: Double = 0.05
  private def checkShingleDfCap(prefix: DataFrame,
                                maxShingleDf: Int, op: String): Unit = {
    if (maxShingleDf > 0) {
      val Array(affected, total) = prefix.agg(
        count_distinct(when(col("df") > maxShingleDf, col("doc_id"))),
        count_distinct(col("doc_id"))).collect()(0)
        .toSeq.map(v => if (v == null) 0L else v.asInstanceOf[Long]).toArray
      val frac = if (total == 0) 0.0 else affected.toDouble / total
      if (frac > maxShingleDfLossBudget)
        throw new IllegalArgumentException(
          s"$op: maxShingleDf=$maxShingleDf drops prefix-index entries for " +
            f"$affected of $total docs (${frac * 100}%.1f%% > budget " +
            f"${maxShingleDfLossBudget * 100}%.1f%%) — the prefix-filter recall " +
            "theorem no longer applies to those docs and their pairs can be " +
            "silently lost. Raise the cap, disable it (0), or raise " +
            "Dedup.maxShingleDfLossBudget if lossy recall is intended. " +
            "Note maxShingleDf is FULL-CORPUS document frequency (r11 " +
            "change), an upper bound of the old prefix-entry df — re-tune " +
            "cap values carried over from before.")
      else if (affected > 0)
        org.apache.log4j.Logger.getLogger(getClass).warn(
          f"$op: maxShingleDf=$maxShingleDf affects $affected/$total docs' " +
            f"prefixes (${frac * 100}%.1f%%) — pairs whose overlap is " +
            "exclusively capped shingles will be missed (within loss budget)")
    }
  }

  /** Snapshot `df` to parquet and return (scan of the snapshot, its
    * path) — a materialization whose lifecycle is the filesystem's,
    * not the block manager's. Callers that produce superseded
    * snapshots (the closure loop) retire them eagerly via
    * [[dropSnapshot]]; anything left in the driver-local dir goes with
    * the JVM-exit hook.
    */
  private[operators] def writeThroughAt(df: DataFrame): (DataFrame, String) = {
    val spark = df.sparkSession
    val base = spark.sparkContext.getCheckpointDir.getOrElse(localSnapDir)
    val path = s"$base/snap-${java.util.UUID.randomUUID()}"
    df.write.parquet(path)
    // explicit schema: an EMPTY snapshot (e.g. a shard whose contracted
    // component graph has no edges) may land zero part files, and
    // schema inference over none would throw
    (spark.read.schema(df.schema).parquet(path), path)
  }

  /** Delete a retired snapshot dir through the Hadoop FileSystem API —
    * checkpoint dirs come back scheme-qualified (`file:/...`,
    * `hdfs://...`), which java.io.File would silently fail to resolve
    * (a permanent per-round leak on long-lived sessions).
    */
  private[operators] def dropSnapshot(spark: org.apache.spark.sql.SparkSession,
                           path: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(path)
    p.getFileSystem(spark.sessionState.newHadoopConf()).delete(p, true)
  }

  /** The apply side of [[dupComponents]]: drop every doc whose
    * component representative is some OTHER doc (keep = the min-id
    * member of each near-dup group, plus all docs that matched no
    * pair). One anti join against the non-survivor set — docs outside
    * the pair graph never shuffle.
    */
  def dropTransitiveDups(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val losers = dupComponents(pairs)
      .filter(col("doc_id") =!= col("component_id"))
      .select(col("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** Duplicate-aware sampling weights — the downweight-instead-of-drop
    * curation policy: every doc gets weight `1 / |its duplicate
    * component|` (docs outside the pair graph weigh 1), so training
    * sees each piece of CONTENT with equal total mass no matter how
    * many near-copies the crawl held, while keeping every copy's
    * provenance/formatting diversity available to the sampler.
    *
    * Scale shape: the component and size frames are bounded by the dup
    * graph (output-sized, not corpus-sized), the final join is keyed by
    * doc_id, and AQE broadcasts the component side when it is small —
    * docs outside the pair graph pay one join probe and nothing else.
    */
  /** Quality-aware canonical selection — the third survivor policy
    * next to [[dropTransitiveDups]] (keep min-id) and [[dupWeights]]
    * (downweight all): within every duplicate component keep the BEST
    * copy by the caller's ranking columns (descending, e.g. longest
    * text, highest quality score), ties broken by the trailing id
    * column. Docs outside the pair graph are their own component and
    * always survive. A crawl's near-dup cluster usually mixes a clean
    * original with truncated/boilerplate-wrapped copies — min-id keeps
    * whichever was crawled first; this keeps the one worth training on.
    *
    * Scale shape: the component labels are output-sized (only docs in
    * the pair graph), joined back keyed by doc_id (AQE broadcasts the
    * small side); the per-component argmax runs on the
    * [[graft.plans.TopKPerKeyPlan]] bounded-heap operator with k = 1 —
    * one row per component survives map-side per task, so no component
    * is ever sorted and the shuffle moves O(components) rows.
    */
  def keepBestPerComponent(docs: DataFrame, pairs: DataFrame,
                           orderDescCols: Seq[String]): DataFrame = {
    require(orderDescCols.nonEmpty, "keepBestPerComponent: need ranking columns")
    val labeled = docs
      .join(dupComponents(pairs), Seq("doc_id"), "left")
      .withColumn("cid", coalesce(col("component_id"), col("doc_id")))
      .drop("component_id")
    graft.operators.Serving.topKPerKey(labeled, 1, Seq("cid"), orderDescCols)
      .drop("cid")
  }

  /** Per-stratum duplication report — the dedup QA table: for each
    * source/language, how many docs sit inside some duplicate
    * component and what fraction of the stratum that is. This is the
    * number a curation run publishes next to its survivor counts
    * (crawl-quality regressions show up as a stratum's dup_rate
    * jumping between snapshots, feeding the same monitoring loop as
    * [[graft.operators.TextOps.vocabDivergence]]).
    *
    * Scale shape: component labels are output-sized, one id-keyed
    * join back (AQE broadcasts the small side), then a strata-sized
    * aggregation — nothing beyond what the dedup itself already paid.
    */
  def dupReport(docs: DataFrame, pairs: DataFrame,
                stratumCol: String): DataFrame =
    docs.join(dupComponents(pairs), Seq("doc_id"), "left")
      .groupBy(col(stratumCol))
      .agg(count(lit(1)).as("n_docs"),
        count(col("component_id")).as("n_dup_docs"),
        round(count(col("component_id")).cast("double") / count(lit(1)), 6)
          .as("dup_rate"))

  def dupWeights(docs: DataFrame, pairs: DataFrame): DataFrame = {
    val comp = dupComponents(pairs)
    val sizes = comp.groupBy("component_id").agg(count(lit(1)).as("csz"))
    docs.select(col("doc_id"))
      .join(comp.join(sizes, "component_id").select(col("doc_id"), col("csz")),
        Seq("doc_id"), "left")
      .select(col("doc_id"),
        round(lit(1.0) / coalesce(col("csz"), lit(1L)), 6).as("weight"))
  }

  /** Exact edit-distance (Levenshtein) similarity self-join — every
    * pair with `ed(a, b) ≤ maxDist`, `doc_a < doc_b` — the STRING
    * metric sibling of [[ngramJaccard]]'s set metric, for the pair
    * class token-set similarity is blind to: character-level typos,
    * OCR noise, and boilerplate with small substitutions move edit
    * distance by 1–2 while barely denting whole token shingles, and
    * conversely reordered tokens leave Jaccard at 1 while edit
    * distance explodes. The classic use is near-identical
    * record/title linkage and template-with-typos dedup.
    *
    * Candidates come from SEGMENT matching (the Pass-Join scheme,
    * Li/Deng/Feng ICDE'11 — re-derived here, no code reused): split a
    * string into `d+1` contiguous segments; an edit script of ≤ d
    * operations, written in that string's coordinates, touches at
    * most one segment per operation, so by pigeonhole some segment
    * survives untouched and appears in the other string VERBATIM,
    * its start shifted only by the net length change of the
    * operations before it — at most ±d. Candidate generation is an
    * equi-join of segment hashes against position-banded,
    * length-matched substrings of the other side: an exact-substring
    * key of ~len/(d+1) chars. The fixed-q gram count-filter route
    * (Ed-Join) was built and MEASURED first and rejected: on a
    * template-heavy corpus (sf0.1 documents, 32-char keys, d=2) its
    * df-ordered prefixes still admitted 5.0 M of 12.5 M pairs as
    * candidates — "rare" grams are not rare when every string draws
    * from one template vocabulary, while 11-char verbatim substrings
    * still are (measured: 5.0 M → 29 k candidates on that corpus,
    * 172×, and sf0.1 → sf1 CPU grows 3.9× at 10× the strings with
    * 20× the output pairs).
    *
    * A self-join gives every string both roles (segments indexed,
    * substrings probed), so any pair with at least one side of
    * `len ≥ d+1` is covered; pairs with BOTH sides shorter than
    * `d+1` have no nonempty-segment guarantee and go through an
    * explicit length-band block over that ≤ d-char population.
    * Verification is one threshold-banded [[functions.levenshtein]]
    * per distinct candidate — O(len·d), codegen'd, exact.
    *
    * Scale shape: per-string enumeration is `d+1` segment rows and
    * ≤ `(2d+1)²·(d+1)` substring rows — linear in the corpus with a
    * small constant; the join key is (8-byte hash, slot, segmented
    * length); nothing quadratic in the corpus materializes unless it
    * genuinely contains that many verbatim-substring-sharing strings.
    * No broadcast hints — AQE decides, as everywhere in this family.
    */
  def editDistanceJoin(docs: DataFrame, strCol: String, maxDist: Int,
                       idCol: String = "doc_id"): DataFrame = {
    require(maxDist >= 0, s"editDistanceJoin: maxDist must be ≥ 0, got $maxDist")
    val d = maxDist
    val strs = editStrings(docs, strCol, idCol)
    val cand = editSegments(strs, d)
      .select(col("doc_id").as("doc_a"), col("slot"), col("m"), col("h"))
      .join(editSubstrings(strs, d).select(col("doc_id").as("doc_b"),
        col("slot"), col("m"), col("h")), Seq("h", "slot", "m"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    // both-short block (see scaladoc): band-keyed equi-join, never a
    // cartesian
    val shorts = strs.filter(col("len") <= d)
    val shortCand = shorts
      .select(col("doc_id").as("doc_a"), explode(sequence(
        greatest(col("len") - d, lit(0)), col("len"))).as("lb"))
      .join(shorts.select(col("doc_id").as("doc_b"), col("len").as("lb")),
        Seq("lb"))
      .filter(col("doc_a") =!= col("doc_b"))
      .select(least(col("doc_a"), col("doc_b")).as("doc_a"),
        greatest(col("doc_a"), col("doc_b")).as("doc_b"))
    val candidates = cand.unionByName(shortCand).distinct()
    if (sys.env.contains("GRAFT_PROBE"))
      println(s"[probe]   editDistanceJoin candidates=${candidates.count()}")
    candidates
      .join(strs.select(col("doc_id").as("doc_a"), col("s").as("s_a")), "doc_a")
      .join(strs.select(col("doc_id").as("doc_b"), col("s").as("s_b")), "doc_b")
      .select(col("doc_a"), col("doc_b"),
        levenshtein(col("s_a"), col("s_b"), maxDist).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** Cross-set [[editDistanceJoin]]: every (corpus doc, probe) pair
    * with `ed ≤ maxDist` — the typo'd-title / near-identical-record
    * decontamination shape. Same pigeonhole argument; the corpus side
    * is segmented (d+1 cheap rows per corpus string) and the PROBE
    * side enumerates the banded substrings (the ~(2d+1)²·(d+1) rows
    * land on the small side, which is what a decon run wants). That
    * direction covers every pair whose corpus string has
    * `len ≥ d+1`; a corpus string shorter than that can only pair
    * with probes of `len ≤ 2d`, so the remainder is a band block over
    * those two tiny populations. Output: (doc_id [corpus], probe_id,
    * dist).
    */
  def editDistanceJoinAcross(corpus: DataFrame, probes: DataFrame,
                             strCol: String, maxDist: Int): DataFrame = {
    require(maxDist >= 0,
      s"editDistanceJoinAcross: maxDist must be ≥ 0, got $maxDist")
    val cs = editStrings(corpus, strCol, "doc_id")
    val ps = editStrings(probes, strCol, "doc_id")
    editAcross(editSegments(cs, maxDist), cs, ps, maxDist)
  }

  /** The cross-set edit join behind [[editDistanceJoinAcross]] and
    * [[editAcrossIndexed]], which differ only in where the corpus
    * segments `segs` and strings `cstrs` come from: segment candidates
    * against the probes' banded substrings, the both-short band block,
    * then one threshold-banded Levenshtein per distinct candidate.
    */
  private def editAcross(segs: DataFrame, cstrs: DataFrame, ps: DataFrame,
                         d: Int): DataFrame = {
    val cand = segs.select(col("doc_id"), col("slot"), col("m"), col("h"))
      .join(editSubstrings(ps, d).select(col("doc_id").as("probe_id"),
        col("slot"), col("m"), col("h")), Seq("h", "slot", "m"))
      .select("doc_id", "probe_id")
    val shortCand = cstrs.filter(col("len") <= d)
      .select(col("doc_id"), explode(sequence(
        greatest(col("len") - d, lit(0)), col("len") + d)).as("lb"))
      .join(ps.filter(col("len") <= 2 * d)
        .select(col("doc_id").as("probe_id"), col("len").as("lb")), Seq("lb"))
      .select("doc_id", "probe_id")
    cand.unionByName(shortCand).distinct()
      .join(cstrs.select(col("doc_id"), col("s").as("s_c")), "doc_id")
      .join(ps.select(col("doc_id").as("probe_id"), col("s").as("s_p")),
        "probe_id")
      .select(col("doc_id"), col("probe_id"),
        levenshtein(col("s_c"), col("s_p"), d).cast("long").as("dist"))
      .filter(col("dist") >= 0)
  }

  /** String snapshot for the edit-join family: one snapshot owns the
    * strings — segment/substring enumeration and the verification
    * fetches all read it (same 6×-reeval defense as hashedShingles;
    * see ngramJaccard).
    */
  private def editStrings(docs: DataFrame, strCol: String,
                          idCol: String): DataFrame = {
    val projected = docs
      .select(col(idCol).cast("long").as("doc_id"),
        coalesce(col(strCol), lit("")).as("s"))
      .withColumn("len", length(col("s")))
    // byte-adaptive snapshot width (r17, the hashedShingles rule): the
    // edit keys are short strings, so a conf-width snapshot paid one
    // parquet-writer init per session core for kilobyte frames — and
    // each edit join writes TWO of these (corpus + probe sides).
    // Saturates to the conf width on real corpora.
    snap(projected.repartition(
      Width.partsFor(projected, 64L * 1024), col("doc_id")))
  }

  /** Even-split segment bounds, 0-based, for a string of length m cut
    * into d+1 parts: slot i has length `m÷(d+1)` plus one for the
    * first `m mod (d+1)` slots, start `i·(m÷(d+1)) + min(i, m mod
    * (d+1))`. Spelled identically in [[editSegments]] and
    * [[editSubstrings]] so both sides enumerate the same geometry.
    */
  private def segExpr(d: Int, mRef: String, iRef: String): (String, String) = {
    val base = s"($mRef DIV ${d + 1})"
    val rem = s"($mRef % ${d + 1})"
    val start = s"($iRef * $base + least($iRef, $rem))"
    val slen = s"($base + IF($iRef < $rem, 1, 0))"
    (start, slen)
  }

  /** The d+1 segment hashes of every string with `len ≥ d+1`:
    * (doc_id, slot, m = own length, h = xxhash64(segment)).
    */
  private def editSegments(strs: DataFrame, d: Int): DataFrame = {
    val (start, slen) = segExpr(d, "len", "i")
    strs.filter(col("len") >= d + 1)
      .select(col("doc_id"), col("len").as("m"),
        explode(expr(
          s"""transform(sequence(0, $d), i -> named_struct(
             'slot', i,
             'h', xxhash64(substring(s, $start + 1, $slen))))""")).as("e"))
      .select(col("doc_id"), col("e.slot").as("slot"), col("m"),
        col("e.h").as("h"))
  }

  /** The banded probe substrings of every string: for each candidate
    * segmented-side length `m ∈ [len−d, len+d], m ≥ d+1`, each slot,
    * and each start within ±d of that slot's segment start, the
    * substring of the slot's segment length — keyed (slot, m, hash)
    * to meet [[editSegments]] rows. ≤ (2d+1)²·(d+1) rows per string.
    */
  private def editSubstrings(strs: DataFrame, d: Int): DataFrame = {
    val (start, slen) = segExpr(d, "m", "i")
    strs.select(col("doc_id"),
      explode(expr(
        s"""flatten(transform(
             filter(sequence(len - $d, len + $d), m -> m >= ${d + 1}),
             m -> flatten(transform(sequence(0, $d), i ->
               transform(
                 filter(sequence(greatest($start - $d, 0), $start + $d),
                   p -> p + $slen <= len),
                 p -> named_struct('slot', i, 'm', m,
                   'h', xxhash64(substring(s, p + 1, $slen))))))))""")).as("e"))
      .select(col("doc_id"), col("e.slot").as("slot"), col("e.m").as("m"),
        col("e.h").as("h"))
  }

  // ── incremental dedup against a persisted corpus index ────────────
  //
  // The operation a production pipeline runs DAILY: check a new shard
  // against the already-kept corpus without recomputing the old side.
  // The expensive work over old text — shingling, MinHash, banding —
  // is paid once at index-build time and persisted; each increment
  // computes those only for the new shard and joins against the stored
  // index. Because every per-doc artifact (shingle set, signature,
  // band bucket) depends only on that doc's text, the incremental pair
  // set is EXACTLY what a from-scratch [[minhashLsh]] over old ∪ new
  // would emit (spec- and gate-verified), not an approximation of it.

  /** On-disk layout of a near-dup index under `path`:
    *   sets/    (doc_id, hs)               sorted shingle hashes — exact verification
    *   buckets/ (doc_id, band, bucket)     LSH band buckets — candidate generation
    *   pairs/   (doc_a, doc_b, jaccard)    verified within-corpus near-dup pairs
    */
  private def setsPath(path: String) = s"$path/sets"
  private def bucketsPath(path: String) = s"$path/buckets"
  private def pairsPath(path: String) = s"$path/pairs"

  /** Build the persisted near-dup index of a kept corpus at `path` and
    * return the verified within-corpus pair frame (also stored, as
    * `pairs/`). One shingle pass over the corpus plus three parquet
    * writes; banding runs map-only through [[kernelBuckets]] (no
    * signature exchange).
    *
    * `multiProbe = true` stores the second-minimum substitution probe
    * buckets alongside the base rows (`is_base` flags them) and
    * generates candidates ext×base — the whole index then runs at
    * [[minhashLshMultiProbe]]'s recall/cost point (e.g. a quarter of
    * the hash budget), and every increment must pass the same flag.
    *
    * At 100 TB the index is the durable artifact: sets/ is the same
    * order of size as the text (8 bytes per distinct shingle), buckets/
    * is `bands` (×(r+1) when multi-probing) rows of ~21 bytes per doc,
    * and neither is ever recomputed again. Increment-side joins read
    * them with the NEW shard as the small broadcast side, so the index
    * tables never reshuffle (see [[incrementalPairs]]).
    */
  def buildNearDupIndex(docs: DataFrame, path: String, n: Int = 2,
                        threshold: Double = 0.5, numHashes: Int = 32,
                        bands: Int = 16, multiProbe: Boolean = false,
                        applied: Set[String] = Set.empty): DataFrame = {
    val spark = docs.sparkSession
    graft.util.Manifest.init(spark, path, applied) {
      val sets = hashedShingles(docs, n)
      sets.write.mode(SaveMode.Overwrite).parquet(setsPath(path))
      // banding reads the PERSISTED sets (one parquet scan) rather than
      // re-running the shingle kernel a second time
      val storedSets = spark.read.parquet(setsPath(path))
      kernelBuckets(storedSets, numHashes, bands, probes = multiProbe)
        .write.mode(SaveMode.Overwrite).parquet(bucketsPath(path))
      val ext = spark.read.parquet(bucketsPath(path))
      val cand = bucketCandidates(ext, ext.filter(col("is_base"))).distinct()
      verifyJaccard(cand, storedSets, threshold)
        .write.mode(SaveMode.Overwrite).parquet(pairsPath(path))
    }
    graft.util.Manifest.read(spark, path, "pairs")
  }

  /** Every near-dup pair INVOLVING a new-shard doc — new-vs-index plus
    * new-vs-new — verified with exact Jaccard, without touching old
    * text. Together with the index's stored `pairs/`, this is the
    * complete pair set of old ∪ new: per-doc artifacts are
    * deterministic, so (old,old) pairs live in the index, and every
    * other pair has a new-side doc and is generated here.
    *
    * Scale shape: the new shard is the small side everywhere — its
    * buckets broadcast against the index bucket scan and the candidate
    * list broadcasts against the index set scan (AQE size-gates both),
    * so a daily increment is two map-side joins over the index plus
    * one shingle pass over the shard. Requires doc_ids disjoint from
    * the indexed corpus (enforce upstream; ids are assumed globally
    * unique).
    *
    * Output orientation matches [[minhashLsh]]: doc_a < doc_b by id,
    * whichever side is new.
    *
    * `multiProbe` must match the flag the index was built with (the
    * stored bucket rows carry the probe rows or not); a consistent
    * lifecycle is exactly equivalent to from-scratch
    * [[minhashLshMultiProbe]] over old ∪ new (spec-proven).
    */
  def incrementalPairs(newDocs: DataFrame, path: String, n: Int = 2,
                       threshold: Double = 0.5, numHashes: Int = 32,
                       bands: Int = 16, multiProbe: Boolean = false): DataFrame = {
    val spark = newDocs.sparkSession
    val newSets = hashedShingles(newDocs, n)
    val newExt = kernelBuckets(newSets, numHashes, bands, probes = multiProbe)
    val oldExt = graft.util.Manifest.read(spark, path, "buckets")
    // refuse a probe-mode mismatch instead of silently losing recall:
    // an index built multiProbe=true stores probe rows whose matches a
    // single-probe increment would skip, and a multi-probe increment
    // against a probe-less index has no old probes to meet its new
    // bases — either way the from-scratch-equality contract breaks.
    // One LIMIT-1 scan of the stored buckets.
    val indexHasProbes = oldExt.filter(!col("is_base")).limit(1).count() > 0
    require(indexHasProbes == multiProbe,
      s"incrementalPairs(multiProbe=$multiProbe) against an index built " +
        s"with multiProbe=$indexHasProbes — pass the flag the index was " +
        "built with (the stored bucket rows carry the probes or not)")
    val newBase = newExt.filter(col("is_base"))
    val oldBase = oldExt.filter(col("is_base"))
    // new-vs-old via newExt×oldBase; when multi-probing, ALSO the other
    // probe direction (the disagreeing doc may sit on either side, and
    // only its probes reach the other's base bucket): oldExt×newBase.
    // Single-probe needs only the one join — ext == base, so the second
    // direction would recompute the identical pair set and re-scan the
    // stored buckets table for nothing. Orientation by id inside
    // bucketCandidates keeps output uniform with the from-scratch frame.
    val crossCand =
      if (multiProbe)
        bucketCandidates(newExt, oldBase).union(bucketCandidates(oldExt, newBase))
      else bucketCandidates(newExt, oldBase)
    // new-vs-new: the shard may carry internal near-dups too
    val cand = crossCand.union(bucketCandidates(newExt, newBase)).distinct()
    val sets = graft.util.Manifest.read(spark, path, "sets").union(newSets)
    verifyJaccard(cand, sets, threshold)
  }

  /** Fold a checked new shard into the index — the tail of the daily
    * loop. Appends the shard's sets, buckets, and `newPairs` (the
    * [[incrementalPairs]] output, or a filtered subset if the caller
    * dropped losers) to the stored tables; after this, the index covers
    * old ∪ new and the next shard increments against it. Parquet
    * appends only — nothing existing is rewritten.
    *
    * `shardId` (when given) makes a retried re-application a no-op via
    * the manifest ledger, and the three appends commit as ONE
    * generation — readers can never see a shard's sets without its
    * buckets and pairs. This matters more
    * here than for the span index: a doubled `sets/` row fans out BOTH
    * verification joins (duplicate pair rows — wrong answers, not just
    * wasted space), so production extends should always carry an id.
    */
  def extendIndex(newDocs: DataFrame, newPairs: DataFrame, path: String,
                  n: Int = 2, numHashes: Int = 32, bands: Int = 16,
                  multiProbe: Boolean = false,
                  shardId: Option[String] = None): Unit = {
    val spark = newDocs.sparkSession
    graft.util.Manifest.extend(spark, path, shardId) {
      val newSets = hashedShingles(newDocs, n)
      newSets.write.mode(SaveMode.Append).parquet(setsPath(path))
      kernelBuckets(newSets, numHashes, bands, probes = multiProbe)
        .write.mode(SaveMode.Append).parquet(bucketsPath(path))
      newPairs.write.mode(SaveMode.Append).parquet(pairsPath(path))
    }
    ()
  }

  /** The near-dup index as a streamed [[graft.util.ShardedStore]] — the
    * daily-ingest loop run as a LIVE stream: batch 0 builds
    * ([[buildNearDupIndex]]), every later batch computes its
    * incremental pair set against the stored index
    * ([[incrementalPairs]] — old text is never re-shingled) and folds
    * itself in through [[extendIndex]] under its ledgered batch id, so
    * a re-run micro-batch is a no-op instead of doubled set/bucket rows
    * fanning out every later verification join. Per-doc artifacts are
    * deterministic, so the stored pairs equal a from-scratch
    * [[minhashLsh]] over everything streamed. Compaction bounds all
    * three appended row subs.
    */
  def nearDupStore(path: String, n: Int = 2,
                   threshold: Double = 0.5): graft.util.ShardedStore =
    graft.util.ShardedStore.onManifest(path, "sets", "buckets", "pairs")(
      (b, stamp) => buildNearDupIndex(b, path, n = n, threshold = threshold,
        applied = stamp),
      (b, id) => extendIndex(b,
        incrementalPairs(b, path, n = n, threshold = threshold), path,
        n = n, shardId = id))

  /** All verified near-dup pairs the index knows (`pairs/`): after
    * build + k extends, exactly the from-scratch [[minhashLsh]] pair
    * frame over everything indexed.
    */
  def indexedPairs(spark: org.apache.spark.sql.SparkSession, path: String,
                   asOf: Option[Int] = None): DataFrame =
    graft.util.Manifest.read(spark, path, "pairs", asOf)

  // ── incremental CONTAINMENT index (frozen-order prefix filter) ────
  //
  // The decontamination loop a production pipeline runs DAILY: new
  // corpus shards (or new probe/benchmark batches) check containment
  // against an already-shingled corpus without recomputing the old
  // side. The correctness hinge: the prefix-filter recall theorem
  // needs only a FIXED total order on shingles shared by both join
  // sides — not a meaningful one — so the df-ascending AllPairs order
  // is FROZEN at build time and persisted as `dftab/`. Probes and
  // extended shards rank their own postings under the stored (df, h)
  // pairs, with shingles the index has never seen at (∞, h) — after
  // every indexed shingle, ties by hash — one consistent order
  // forever. Exactness is therefore unconditional across any number
  // of extends; what drifts is only the df-order's candidate-pruning
  // QUALITY (new shards' hot shingles rank as if rare), and a rebuild
  // (the OPTIMIZE analogue) re-ranks.

  /** Build the persisted containment index of `corpus` at `path`:
    *   sets/      (doc_id, hs)           sorted shingle hashes — verification
    *   postings/  (doc_id, sz, h, pos)   positions under the frozen order
    *   dftab/     (h, df)                the frozen order itself
    */
  def buildContainmentIndex(corpus: DataFrame, path: String,
                            n: Int = 2,
                            applied: Set[String] = Set.empty): Unit = {
    val spark = corpus.sparkSession
    graft.util.Manifest.init(spark, path, applied) {
      hashedShingles(corpus, n)
        .write.mode(SaveMode.Overwrite).parquet(s"$path/sets")
      val storedSets = spark.read.parquet(s"$path/sets")
      val posts = dfRankedPostings(storedSets)
      posts.select(col("doc_id"), col("sz"), col("h"), col("pos"))
        .write.mode(SaveMode.Overwrite).parquet(s"$path/postings")
      posts.select(col("h"), col("df")).distinct()
        .write.mode(SaveMode.Overwrite).parquet(s"$path/dftab")
    }
    ()
  }

  /** Postings of `sets` positioned under a STORED frozen (df, h)
    * order — see the section comment: unseen shingles take df = ∞ so
    * they rank after every indexed one, ties by hash, and both sides
    * of the index join share one total order.
    */
  private def frozenRankedPostings(sets: DataFrame,
                                   dftab: DataFrame): DataFrame = {
    val posts = sets.select(col("doc_id"), size(col("hs")).as("sz"),
        explode_outer(col("hs")).as("h"))
      .filter(col("h").isNotNull)
    val ranked = posts.join(dftab, Seq("h"), "left")
      .withColumn("df", coalesce(col("df"), lit(Long.MaxValue)))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("h"))
    ranked.withColumn("pos", row_number().over(w) - 1)
      .select(col("doc_id"), col("sz"), col("h"), col("pos"))
  }

  /** Cross-set containment of `probes` against the INDEXED corpus —
    * [[ngramContainmentAcross]]'s exact answer (spec-proven equal)
    * without touching old text: the corpus side is parquet scans
    * (postings + sets), the probe side one shingle pass ranked under
    * the stored frozen order; both feed [[containmentAcross]]. Its
    * dense-regime decision reads the CURRENT stored corpus df, not the
    * frozen order — the frozen order is a correctness device, the
    * decision wants live cost. Returns (doc_id, probe_id, containment).
    */
  def containmentAcrossIndexed(probes: DataFrame, path: String,
                               n: Int = 2,
                               threshold: Double = 0.5): DataFrame = {
    require(threshold > 0 && threshold <= 1,
      s"containmentAcrossIndexed: threshold must be in (0, 1], got $threshold")
    val spark = probes.sparkSession
    val ps = snap(hashedShingles(probes, n))
    // ONE store generation for the whole probe: sets / dftab / postings
    // must come from the same committed snapshot, or a concurrent
    // extend landing mid-probe can surface postings whose docs are
    // absent from an older sets read — the verification join would
    // then silently drop those pairs instead of scoring them.
    val asOf = Some(graft.util.Manifest.snapshot(spark, path).gen)
    val cs = graft.util.Manifest.read(spark, path, "sets", asOf)
    containmentAcross("containmentAcrossIndexed", cs, ps, threshold) {
      val dftab = graft.util.Manifest.read(spark, path, "dftab", asOf)
      val pposts = snap(frozenRankedPostings(ps, dftab))
      (graft.util.Manifest.read(spark, path, "postings", asOf), pposts)
    }
  }

  /** Fold a new corpus shard into the containment index: sets and
    * frozen-order postings append as ONE ledgered generation (the
    * `shardId` idempotence contract of [[extendIndex]]); `dftab/` is
    * NOT updated — the order stays frozen, which is exactly what
    * keeps every past and future probe exact (section comment).
    */
  def extendContainmentIndex(newCorpus: DataFrame, path: String,
                             n: Int = 2,
                             shardId: Option[String] = None): Unit = {
    val spark = newCorpus.sparkSession
    val dftab = graft.util.Manifest.read(spark, path, "dftab")
    graft.util.Manifest.extend(spark, path, shardId) {
      val newSets = hashedShingles(newCorpus, n)
      newSets.write.mode(SaveMode.Append).parquet(s"$path/sets")
      frozenRankedPostings(newSets, dftab)
        .write.mode(SaveMode.Append).parquet(s"$path/postings")
    }
    ()
  }

  /** The frozen-order containment index as a streamed
    * [[graft.util.ShardedStore]] — decon-index maintenance as a live
    * stream: batch 0 builds (sets + postings + the frozen dftab — the
    * df order is decided by the FIRST batch and never moves), later
    * batches append their shard's sets and frozen-ranked postings
    * under the ledgered batch id. Probing afterwards
    * ([[containmentAcrossIndexed]]) equals the from-scratch cross-set
    * containment over everything streamed — EXACT by the frozen-order
    * argument, whatever the batch boundaries were. dftab is written
    * once, so only the appended subs need compaction.
    */
  def containmentStore(path: String, n: Int = 2): graft.util.ShardedStore =
    graft.util.ShardedStore.onManifest(path, "sets", "postings")(
      (b, stamp) => buildContainmentIndex(b, path, n = n, applied = stamp),
      (b, id) => extendContainmentIndex(b, path, n = n, shardId = id))

  // ── persisted edit index ──────────────────────────────────────────

  /** The persisted edit-distance index of a keyed corpus as an
    * additive [[graft.util.ShardedStore]]: raw strings (`strs/`:
    * doc_id, s, len — the verification side) and their Pass-Join
    * segments for the build-time `maxDist` (`segs/`; the build pins d
    * in `params/` — probes and extends use the stored geometry).
    * Unlike the containment index there is NO global order to freeze:
    * a segment is a per-string-LOCAL artifact, so every shard writes
    * only its own strings' rows, stored rows of old strings are
    * exactly what a from-scratch run would recompute, and
    * [[editAcrossIndexed]] == [[editDistanceJoinAcross]] verbatim
    * after any number of extends (spec-proven), whatever the shard
    * boundaries were — streamed or batch. A ledgered shard id makes a
    * re-delivered shard a no-op, and a row-preserving compaction of
    * either sub cannot change the answer.
    */
  def editStore(path: String, strCol: String,
                maxDist: Int = 2): graft.util.ShardedStore = {
    val geometry = graft.util.ShardedStore.Pin[Int](
      fit = _ => maxDist,
      save = (spark, d) => {
        import spark.implicits._
        Seq(d).toDF("max_dist")
          .write.mode(SaveMode.Append).parquet(s"$path/params")
      },
      load = graft.util.Manifest.read(_, path, "params").head().getInt(0))
    graft.util.ShardedStore.additive(path, "strs", "segs")(geometry) {
      (corpus, _, d) =>
        val strs = corpus.select(col("doc_id").cast("long").as("doc_id"),
            coalesce(col(strCol), lit("")).as("s"))
          .withColumn("len", length(col("s")))
        strs.write.mode(SaveMode.Append).parquet(s"$path/strs")
        editSegments(strs, d)
          .write.mode(SaveMode.Append).parquet(s"$path/segs")
    }
  }

  /** Cross-set edit join of `probes` against the INDEXED corpus —
    * [[editDistanceJoinAcross]]'s exact answer (spec-proven equal)
    * without touching old text: the corpus side is two parquet scans
    * (stored segments for candidates, stored strings for the
    * verification fetch and the sub-(d+1)-char block), the probe side
    * enumerates its banded substrings as in the from-scratch form.
    * `maxDist` comes from the stored params — the segment geometry is
    * pinned at build time.
    */
  def editAcrossIndexed(probes: DataFrame, strCol: String,
                        path: String): DataFrame = {
    val spark = probes.sparkSession
    // one committed generation for params/segs/strs — a concurrent
    // extend must not leave candidates (segs) pointing at strings the
    // verification scan (strs) hasn't seen (same contract as
    // [[containmentAcrossIndexed]])
    val asOf = Some(graft.util.Manifest.snapshot(spark, path).gen)
    val d = graft.util.Manifest.read(spark, path, "params", asOf)
      .head().getInt(0)
    val ps = editStrings(probes, strCol, "doc_id")
    editAcross(graft.util.Manifest.read(spark, path, "segs", asOf),
      graft.util.Manifest.read(spark, path, "strs", asOf), ps, d)
  }

  // ── incremental connected components ──────────────────────────────
  //
  // The closure side of the daily dedup loop. [[incrementalPairs]] /
  // [[extendIndex]] made PAIR generation incremental, but turning
  // pairs into dup groups still re-ran [[dupComponents]] over the
  // whole accumulated pair set. The standard fix: stored
  // (doc_id, component_id) labels ARE a contraction of everything
  // already merged — each component is one super-node — so folding a
  // new shard in only needs the closure of the CONTRACTED graph
  // (old components touched by new pairs + new docs), whose size is
  // bounded by the shard's pair count, never the corpus. Old labels
  // then update through one broadcast-able relabel join, map-only.
  //
  // Correctness: with stored labels == dupComponents(oldPairs), the
  // label of any doc under oldPairs ∪ newPairs is the min doc id
  // reachable in the graph whose nodes are old component roots plus
  // new docs and whose edges are the new pairs mapped through the old
  // labels — exactly what the contracted closure computes. Labels are
  // min doc ids, so the merged min over roots IS the global min.
  // (Spec-proven equal to from-scratch across 3 tranches and on
  // explicit component-merging chains.)

  private def labelsPath(path: String) = s"$path/labels"

  /** Initialize the component store: [[dupComponents]] of `pairs`
    * persisted at `path/labels`.
    */
  def buildComponents(pairs: DataFrame, path: String): Unit = {
    val spark = pairs.sparkSession
    graft.util.Manifest.init(spark, path) {
      dupComponents(pairs)
        .write.mode(SaveMode.Overwrite).parquet(s"${labelsPath(path)}/lv=0")
    }
  }

  /** The stored labels frame — after build + k extends, exactly
    * [[dupComponents]] over every pair folded in. Label versions live
    * in `labels/lv=N/` dirs; one committed generation references
    * exactly one version, so the read is never a mix.
    */
  def indexedComponents(spark: org.apache.spark.sql.SparkSession,
                        path: String,
                        asOf: Option[Int] = None): DataFrame =
    graft.util.Manifest.read(spark, path, "labels", asOf).drop("lv")

  /** Read-only merged view: component labels over stored ∪ `newPairs`
    * WITHOUT mutating the store — what a serving query uses between a
    * shard's arrival and the store update (the [[Candles.candlesWithShard]]
    * shape). The pointer-jumping closure runs ONLY on the contracted
    * graph (≤ one node per new-pair endpoint); stored labels flow
    * through one relabel join whose build side is that small closure
    * output — AQE broadcasts it, so the store never reshuffles.
    */
  def mergedComponents(spark: org.apache.spark.sql.SparkSession, path: String,
                       newPairs: DataFrame): DataFrame = {
    val stored = indexedComponents(spark, path)
    // snapshot the shard's pairs ONCE: the plan below references them
    // three ways (contracted edges, the new-doc id union, and the
    // returned frame's evaluation), and the pair GENERATOR feeding this
    // is typically the expensive stage (LSH mining / Jaccard
    // verification) — without the snapshot it would re-run per
    // reference. The snapshot outlives the returned frame; the
    // driver-local snap dir cleans at JVM exit (same lifecycle as
    // dupComponents' returned labels scan).
    val (p, _) = writeThroughAt(newPairs.select(col("doc_a"), col("doc_b")))
    // contract: map each endpoint to its stored root (itself when new)
    val contracted = p
      .join(stored.select(col("doc_id").as("doc_a"), col("component_id").as("ra")),
        Seq("doc_a"), "left")
      .join(stored.select(col("doc_id").as("doc_b"), col("component_id").as("rb")),
        Seq("doc_b"), "left")
      .select(coalesce(col("ra"), col("doc_a")).as("doc_a"),
        coalesce(col("rb"), col("doc_b")).as("doc_b"))
      // a self-loop means both endpoints already share a component —
      // nothing to merge
      .filter(col("doc_a") =!= col("doc_b"))
    // closure of the contracted graph: (root, merged component id)
    val relabel = dupComponents(contracted)
      .select(col("doc_id").as("root"), col("component_id").as("new_cid"))
    val updatedStored = stored
      .join(relabel.withColumnRenamed("root", "component_id"),
        Seq("component_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cid"), col("component_id")).as("component_id"))
    // docs the store has never seen: their contracted node is their own
    // id, so their label comes straight off the relabel map
    val newDocs = p.select(col("doc_a").as("doc_id"))
      .union(p.select(col("doc_b").as("doc_id"))).distinct()
      .join(stored.select("doc_id"), Seq("doc_id"), "left_anti")
    val newLabels = newDocs
      .join(relabel.withColumnRenamed("root", "doc_id"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("new_cid"), col("doc_id")).as("component_id"))
    updatedStored.union(newLabels)
  }

  /** Fold a shard's pairs into the stored labels — the write side of
    * [[mergedComponents]]. The updated label table lands in a FRESH
    * `labels/lv=N/` version dir and commits through
    * [[graft.util.Manifest.replace]]: readers resolve the old or the
    * new version atomically (the rename-swap idiom this replaces had a
    * window where the labels path did not exist at all), a crash
    * before the commit leaves only an unreferenced version dir, and a
    * `shardId` makes a retried re-application a no-op — re-merging the
    * same pairs is idempotent on the labels, but the retry would burn
    * a closure run and a table rewrite for nothing. Cost: the
    * contracted closure plus one map-only rewrite of the label table —
    * the full-graph recompute never runs again.
    */
  def extendComponents(newPairs: DataFrame, path: String,
                       shardId: Option[String] = None): Unit = {
    val spark = newPairs.sparkSession
    val snap = graft.util.Manifest.snapshot(spark, path)
    if (shardId.exists(snap.applied)) return
    val merged = mergedComponents(spark, path, newPairs)
    graft.util.Manifest.replace(spark, path, "labels", shardId) { stage =>
      merged.write.mode(SaveMode.Overwrite)
        .parquet(s"$stage/labels/lv=${snap.gen + 1}")
    }
    ()
  }
}
