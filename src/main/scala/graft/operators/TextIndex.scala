package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/** Inverted text index — term → posting list over the document corpus,
  * with the same build / extend / ledger lifecycle as every other
  * index family here (near-dup, span, ANN, vocab, components).
  *
  * The curation loops all need "which documents contain these terms"
  * (contamination probes, blocklist audits, targeted sampling). Grep
  * over 100 TB per question is a full scan; the inverted index pays
  * one tokenize pass and thereafter answers from posting lists whose
  * size tracks the QUERY's selectivity, not the corpus.
  *
  * Physical layout is where the scale story lives: postings
  * `(term, doc_id)` are RANGE-partitioned by term and sorted within
  * partitions, so every parquet file covers a narrow lexicographic
  * slice of the vocabulary and its footer min/max on `term` is tight.
  * A term lookup (`term IN (...)` — pushed to the scan as an `In`
  * filter) then prunes to the few files whose range covers the probed
  * terms: the read is posting-list-sized. No per-term directory
  * (vocabulary cardinality would explode the file count) and no
  * driver-side dictionary — the "index" is just a well-laid-out table,
  * which is exactly what makes it mergeable by plain appends.
  *
  * Token definition matches [[TextOps.tokens]] (single-space split),
  * so a SQL oracle reproduces membership with `string_split`.
  *
  * Durability: the index is [[graft.util.Manifest]]-managed — postings,
  * doc lengths, AND the per-file term-range stats commit as one
  * generation, so extends are atomically visible, a crash-retry never
  * duplicates doclen rows (which would corrupt every BM25 ranking:
  * N/avgdl inflate and the lens join fans out), and readers racing an
  * extend resolve the previous generation in full. The stats ride the
  * commit (the merge-table pattern), so term-lookup file pruning has
  * no stale-stats window and crashed-attempt orphan files are never
  * scanned.
  */
object TextIndex {

  private val DataSub = "data"
  private val LenSub = "doclen"
  private val StatsSub = "stats"
  private def dataPath(path: String) = s"$path/$DataSub"
  private def lenPath(path: String) = s"$path/$LenSub"

  /** `(term, doc_id, tf)` postings of a corpus tranche — tf is the
    * in-doc term count, the ranked-retrieval payload BM25 needs (one
    * grouped agg with map-side combine on the explode output; a
    * membership search just ignores the column).
    */
  def postings(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))

  /** `(doc_id, dl)` — each doc's non-empty token count, the BM25
    * length normalizer. Derived exactly as the postings' token stream
    * (docs whose every token is empty carry no row, matching the
    * postings' view of the corpus).
    */
  def docLengths(docs: DataFrame, idCol: String = "doc_id",
                 textCol: String = "text"): DataFrame =
    docs.select(col(idCol).cast("long").as("doc_id"),
        explode(TextOps.tokens(col(textCol))).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("dl"))

  /** Initialize the index: postings range-laid-out by term, the
    * doc-length table, and the per-file term-range stats — one
    * manifest generation. `nFiles` bounds the vocabulary slices; at
    * corpus scale set it so one slice's postings fit a ~128 MB file.
    */
  def buildTextIndex(docs: DataFrame, path: String, nFiles: Int = 8,
                     applied: Set[String] = Set.empty): Unit = {
    val spark = docs.sparkSession
    graft.util.Manifest.init(spark, path, applied) {
      postings(docs)
        .repartitionByRange(nFiles, col("term"), col("doc_id"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode(SaveMode.Overwrite).parquet(dataPath(path))
      docLengths(docs).write.mode(SaveMode.Overwrite).parquet(lenPath(path))
      graft.util.Lake.mergeStatsFor(spark, path,
          graft.util.Lake.dataFileNames(spark, path))
        .coalesce(1).write.mode(SaveMode.Append).parquet(s"$path/$StatsSub")
    }
  }

  /** Fold a shard's postings + doc lengths in (parquet appends —
    * existing slices are never rewritten; term ranges of shard files
    * overlap older ones until a maintenance compaction re-narrows
    * them, same as any LSM-ish accretion). The whole fold is ONE
    * manifest commit: a re-delivered shard id no-ops, a crash-retry
    * never adopts the crashed attempt's half-appended files (doubled
    * doclen rows would inflate N/avgdl and fan out the BM25 lens
    * join — ranking corruption, not just read amplification), and the
    * fresh files' term-range stats commit WITH them.
    */
  def extendTextIndex(newDocs: DataFrame, path: String,
                      shardId: Option[String] = None,
                      nFiles: Int = 2): Unit = {
    val spark = newDocs.sparkSession
    graft.util.Manifest.extend(spark, path, shardId) {
      val before = graft.util.Lake.dataFileNames(spark, path)
      postings(newDocs)
        .repartitionByRange(nFiles, col("term"), col("doc_id"))
        .sortWithinPartitions(col("term"), col("doc_id"))
        .write.mode(SaveMode.Append).parquet(dataPath(path))
      docLengths(newDocs).write.mode(SaveMode.Append).parquet(lenPath(path))
      val fresh = graft.util.Lake.dataFileNames(spark, path) -- before
      if (fresh.nonEmpty)
        graft.util.Lake.mergeStatsFor(spark, path, fresh)
          .coalesce(1).write.mode(SaveMode.Append).parquet(s"$path/$StatsSub")
    }
    ()
  }

  /** Re-narrow the LSM-ish posting accretion: extends append files
    * whose term ranges overlap older ones, degrading the per-term file
    * pruning toward "open everything". This rewrite range-clusters the
    * postings by term into ~`targetFileMB` files and regenerates the
    * term-range stats in the SAME commit ([[graft.util.Lake
    * .mergeCompact]] — the index shares its data/stats layout), so
    * pruning selectivity resets to build-time sharpness, in-flight
    * readers keep their generation, and answers are unchanged.
    */
  def compactIndex(spark: SparkSession, path: String,
                   targetFileMB: Int = 128): (Int, Int) =
    graft.util.Lake.mergeCompact(spark, path, targetFileMB,
      clusterBy = Seq("term"))

  /** Threshold-triggered [[compactIndex]] — the [[graft.util.Lake
    * .mergeAutoCompact]] policy on the text index's layout: compact
    * when the live posting file count exceeds `maxFiles`, else just a
    * driver-side snapshot read. A streamed index appends shard files
    * whose term ranges overlap every older one, so without a policy
    * the per-term file pruning degrades one shard at a time toward
    * "open everything"; this re-narrows it on the same cadence the
    * streaming MERGE sinks use. Returns true when a compaction ran.
    */
  def autoCompactIndex(spark: SparkSession, path: String, maxFiles: Int,
                       targetFileMB: Int = 128): Boolean =
    graft.util.Lake.mergeAutoCompact(spark, path, Seq("term"), maxFiles,
      targetFileMB)

  /** The inverted index as a streamed [[graft.util.ShardedStore]] —
    * search-index maintenance as a live stream: batch 0 builds
    * (postings + doc-length table + file-stats manifest), later batches
    * append their shard's postings/lengths under the ledgered batch id
    * (doubled postings would double BM25's df/tf). Serving afterwards —
    * membership or BM25/RRF ranking — equals the same query against a
    * one-shot build over everything streamed. Compaction is
    * [[autoCompactIndex]]: each shard's files overlap every older
    * shard's term ranges, so a long-running streamed index otherwise
    * degrades its per-term file pruning one shard at a time.
    */
  def indexStore(path: String): graft.util.ShardedStore =
    graft.util.ShardedStore.onManifest(path)(
      (b, stamp) => buildTextIndex(b, path, applied = stamp),
      extendTextIndex(_, path, _))
      .copy(compact = (spark, threshold) =>
        autoCompactIndex(spark, path, threshold))

  /** The stored postings restricted to `terms` — the only corpus-side
    * data a search touches. Two pruning levels: WHOLE FILES via the
    * generation's committed term-range stats (no stale-stats window —
    * the commit IS the stats refresh; parquet's own pruning skips row
    * groups but still opens every footer, the stats skip the opens),
    * then row groups within survivors via the pushed `In` filter on
    * the sort column. The read is bounded by the probed terms' posting
    * sizes, not the index; only manifest-committed files are ever
    * scanned (crashed-attempt orphans are invisible).
    */
  private def matched(spark: SparkSession, path: String,
                      terms: Seq[String]): DataFrame = {
    val snap = graft.util.Manifest.snapshot(spark, path)
    val liveData = snap.files.filter(_.startsWith(s"$DataSub/"))
    val stats = graft.util.Manifest.read(spark, path, StatsSub)
    val covered = stats.select("file_name").collect().map(_.getString(0)).toSet
    val missing = liveData.map(_.split('/').last).filterNot(covered)
    require(missing.isEmpty,
      s"text index at $path: term stats do not cover ${missing.length} live " +
        "posting file(s) — the index was modified outside " +
        "buildTextIndex/extendTextIndex; rebuild it")
    val vs = terms.distinct
    val keep = vs.map(t => col("min_term") <= lit(t) && lit(t) <= col("max_term"))
      .reduce(_ || _)
    val candNames = stats.filter(keep).select("file_name")
      .collect().map(_.getString(0)).toSet
    val cand = liveData.filter(f => candNames.contains(f.split('/').last))
    if (cand.isEmpty)
      graft.util.Manifest.read(spark, path, DataSub).filter(lit(false))
    else spark.read.option("basePath", dataPath(path))
      .parquet(cand.map(f => s"$path/$f"): _*)
      .filter(col("term").isin(vs: _*))
  }

  /** The generation-pinned doc-length table. */
  private def docLenTable(spark: SparkSession, path: String): DataFrame =
    graft.util.Manifest.read(spark, path, LenSub)

  /** Documents containing ALL of `terms`: count distinct matched terms
    * per doc, keep docs matching the full query width. Output:
    * `(doc_id)`, one row per qualifying document.
    */
  def searchAll(spark: SparkSession, path: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAll: no terms")
    matched(spark, path, terms)
      .distinct() // appends may duplicate a posting across shards
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("m"))
      .filter(col("m") === terms.distinct.length)
      .select("doc_id")
  }

  /** Documents containing ANY of `terms`. */
  def searchAny(spark: SparkSession, path: String,
                terms: Seq[String]): DataFrame = {
    require(terms.nonEmpty, "searchAny: no terms")
    matched(spark, path, terms).select("doc_id").distinct()
  }

  /** BM25-ranked top-k retrieval served ENTIRELY from the stored
    * index — Lucene's scoring function over the tf-bearing postings
    * and the doc-length table:
    *
    *   score(d) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))
    *   idf(t)   = ln(1 + (N − df + 0.5)/(df + 0.5))
    *
    * Data touched: the probed terms' postings (file-pruned, as every
    * search), the doc-length table (corpus-bounded, one narrow
    * scan for N/avgdl + a key join on the matched docs), nothing
    * else. df comes from the matched postings themselves. The final
    * per-doc sum spans at most |terms| values, so the 6-dp rounded
    * score is stable across partitionings; ranking uses the ROUNDED
    * score with a doc_id tie-break — deterministic in both engines.
    */
  def bm25TopK(spark: SparkSession, path: String, terms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k >= 1, "bm25TopK: no terms or k < 1")
    val lens = docLenTable(spark, path)
    val stats = lens.agg(count(lit(1)).as("n"), avg(col("dl")).as("avgdl")).head()
    val (n, avgdl) = (stats.getLong(0), stats.getDouble(1))
    val m = matched(spark, path, terms).distinct()
    val df = m.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val contrib = m.join(broadcast(df), "term").join(lens, "doc_id")
      .withColumn("idf",
        log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5))))
      .withColumn("c", col("idf") * (col("tf") * lit(k1 + 1.0)) /
        (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / lit(avgdl))))
    contrib.groupBy(col("doc_id"))
      .agg(round(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Query-TF-IDF top-k from the stored index: per matched doc,
    * `Σ_t tf·ln(N/df)` over the probed terms — the second,
    * lexically-flavored ranking the RRF fusion combines with BM25.
    * Same data touched as [[bm25TopK]] minus the length table scan
    * (only N is needed).
    */
  def tfidfQueryTopK(spark: SparkSession, path: String, terms: Seq[String],
                     k: Int): DataFrame = {
    require(terms.nonEmpty && k >= 1, "tfidfQueryTopK: no terms or k < 1")
    val n = docLenTable(spark, path).count()
    val m = matched(spark, path, terms).distinct()
    val df = m.groupBy(col("term")).agg(count(lit(1)).as("df"))
    m.join(broadcast(df), "term")
      .withColumn("c", col("tf") * log(lit(n) / col("df")))
      .groupBy(col("doc_id"))
      .agg(round(sum(col("c")), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id"))
      .limit(k)
  }

  /** Hybrid retrieval: Reciprocal Rank Fusion of the BM25 and
    * query-TF-IDF rankings over the same probed terms —
    * `rrf(d) = Σ_lists 1/(c + rank_d)` (rank from 1; absent from a
    * list contributes nothing), the standard fusion for combining
    * heterogeneous rankers without score calibration.
    *
    * The fusion itself runs driver-side over the two BOUNDED top-`pool`
    * lists (≤ 2·pool rows by construction — the same bounded-collect
    * contract as the centroid/codebook collects), which IS the scale
    * shape: rank lists are small no matter the corpus. Ranks are
    * deterministic in both engines (rounded score desc, doc_id).
    */
  def hybridRrfTopK(spark: SparkSession, path: String, terms: Seq[String],
                    k: Int = 10, pool: Int = 50, c: Int = 60): DataFrame = {
    import spark.implicits._
    def ranks(df: DataFrame): Map[Long, Int] =
      df.collect().map(_.getLong(0)).zipWithIndex
        .map { case (d, i) => d -> (i + 1) }.toMap
    val rb = ranks(bm25TopK(spark, path, terms, pool))
    val rt = ranks(tfidfQueryTopK(spark, path, terms, pool))
    val fused = (rb.keySet ++ rt.keySet).toSeq.map { d =>
      val s = rb.get(d).map(r => 1.0 / (c + r)).getOrElse(0.0) +
        rt.get(d).map(r => 1.0 / (c + r)).getOrElse(0.0)
      (d, BigDecimal(s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (d, s) => (-s, d) }.take(k)
    fused.toDF("doc_id", "rrf_score")
  }
}
