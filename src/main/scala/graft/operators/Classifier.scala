package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.util.ShardedStore

/** Trained multinomial Naive Bayes text classification — the
  * fastText-style model-based filter every production LLM-data
  * pipeline runs (language routing, quality gating, domain tagging;
  * the reference's pipeline has no learned filter, this is a
  * beyond-parity training-data extension alongside
  * [[TextOps.unigramLogprob]]).
  *
  * Model = per-class token counts with add-one smoothing:
  * `score(d, y) = ln P(y) + Σ_{w ∈ d} ln((c(y,w)+1) / (n_y + V))`
  * where `n_y` is class `y`'s training token total and `V` the
  * training vocabulary size. Prediction is the argmax over classes
  * with scores rounded to 6 dp BEFORE comparison and ties broken by
  * ascending class label — deterministic in any engine, which is what
  * lets DuckDB re-derive the exact prediction set.
  *
  * Scale shape: the model is a VOCABULARY-sized table (one row per
  * token, one count column per class — class cardinality is small and
  * known, so the per-class layout is columns, not rows). Scoring is
  * ONE equi-join of exploded tokens against that table followed by one
  * per-doc aggregation; a doc × classes row explosion never happens
  * (the per-class sums ride as parallel aggregate columns). Driver
  * state is one row per class plus two longs — never corpus-sized.
  *
  * The model is ADDITIVE (token counts, class doc/token totals), so it
  * maintains incrementally exactly like the vocabulary store: build on
  * day one, fold each shard's counts in with a ledgered append, score
  * read-only forever ([[nbStore]]/[[classifyWithModel]]).
  */
object Classifier {

  private def tok(text: Column, unicode: Boolean): Column =
    if (unicode) TextOps.tokensUnicode(text) else TextOps.tokens(text)

  /** (doc_id, w) exploded tokens. */
  private def docTokens(docs: DataFrame, unicode: Boolean): DataFrame =
    docs.select(col("doc_id"), explode(tok(col("text"), unicode)).as("w"))

  /** (y, w, c) per-class token counts — the model's append unit. */
  private def classTokenCounts(labeled: DataFrame, labelCol: String,
                               unicode: Boolean): DataFrame =
    labeled.select(col(labelCol).as("y"), explode(tok(col("text"), unicode)).as("w"))
      .groupBy(col("y"), col("w")).agg(count(lit(1)).as("c"))

  /** (y, n_docs, n_tokens) per-class totals — the other append unit. */
  private def classTotals(labeled: DataFrame, labelCol: String,
                          unicode: Boolean): DataFrame =
    labeled.select(col(labelCol).as("y"),
        size(tok(col("text"), unicode)).as("n"))
      .groupBy(col("y"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))

  /** One class's summary, collected driver-side (class cardinality is
    * small — languages, sources, quality buckets).
    */
  private case class ClassRow(y: String, nDocs: Long, nTokens: Long)

  /** Score + predict from in-memory model frames. `counts` = (y, w, c),
    * `totals` = (y, n_docs, n_tokens). Shared by the from-scratch and
    * stored-model paths.
    */
  private def classify(docs: DataFrame, counts: DataFrame, totals: DataFrame,
                       unicode: Boolean): DataFrame = {
    val classes = totals.orderBy(col("y"))
      .collect().map(r => ClassRow(r.getString(0), r.getLong(1), r.getLong(2)))
    require(classes.length >= 2,
      s"Naive Bayes needs >= 2 classes, got ${classes.map(_.y).mkString(",")}")
    val totalDocs = classes.map(_.nDocs).sum
    // V = training vocabulary size: one driver long (distinct count
    // over the vocabulary-sized model table, not the corpus)
    val v = counts.select(col("w")).distinct().count()

    // vocabulary-sized WIDE model: one row per token, one smoothed
    // log-likelihood column per class (explicit pivot values keep the
    // plan a single agg — no extra values-discovery job)
    val model = counts.groupBy(col("w"))
      .pivot("y", classes.map(_.y)).agg(first(col("c")))
    val wide = classes.foldLeft(model) { (m, cl) =>
      m.withColumn(s"__ll_${cl.y}",
        log((coalesce(col(s"`${cl.y}`"), lit(0L)) + lit(1.0)) /
          lit((cl.nTokens + v).toDouble)))
    }.select(col("w") +: classes.map(cl => col(s"__ll_${cl.y}")): _*)

    // one token join + one per-doc agg; unseen tokens take each
    // class's own smoothing floor ln(1 / (n_y + V))
    val scored = docTokens(docs, unicode)
      .join(wide, Seq("w"), "left")
      .groupBy(col("doc_id"))
      .agg(
        classes.head.pipe(cl => sumLl(cl, v).as(s"__s_${cl.y}")),
        classes.tail.map(cl => sumLl(cl, v).as(s"__s_${cl.y}")): _*)

    // argmax across the per-class score columns: sort (negated rounded
    // score, label) structs ascending — first element is the max score
    // with ascending-label tiebreak; margin = gap to the runner-up
    val ranked = sort_array(array(classes.map { cl =>
      struct(
        round(-(col(s"__s_${cl.y}") +
          lit(math.log(cl.nDocs.toDouble / totalDocs))), 6).as("ns"),
        lit(cl.y).as("y"))
    }: _*))
    scored.select(col("doc_id"),
        ranked.getItem(0).getField("y").as("pred"),
        (-ranked.getItem(0).getField("ns")).as("score"),
        round(ranked.getItem(1).getField("ns") -
          ranked.getItem(0).getField("ns"), 6).as("margin"))
  }

  /** Per-class token log-likelihood sum with the unseen floor. */
  private def sumLl(cl: ClassRow, v: Long): Column =
    sum(coalesce(col(s"__ll_${cl.y}"),
      lit(math.log(1.0 / (cl.nTokens + v).toDouble))))

  private implicit class Piped[A](private val a: A) extends AnyVal {
    def pipe[B](f: A => B): B = f(a)
  }

  /** Train on `labeled` (docs carrying `labelCol`) and classify `docs`
    * in one call — the from-scratch form. Output: one row per doc with
    * the predicted label, its rounded log-score, and the margin over
    * the runner-up (the confidence a downstream filter thresholds on).
    */
  def naiveBayes(docs: DataFrame, labeled: DataFrame, labelCol: String,
                 unicode: Boolean = false): DataFrame =
    classify(docs,
      classTokenCounts(labeled, labelCol, unicode),
      classTotals(labeled, labelCol, unicode), unicode)

  /** Margin-reliability (calibration) table of the classifier on a
    * held-out labeled split: predictions bin by margin (width
    * `binWidth`, top bin open) and each bin reports how often the
    * prediction actually agreed with the recorded label. This is the
    * QA step that justifies a model-based curation threshold — a
    * pipeline keeping `margin ≥ 0.05` (cur_pipeline3's filter) should
    * be able to SHOW that high-margin predictions are more reliable,
    * not assert it. Output: (bin, margin_lo, n, n_correct, accuracy),
    * one row per non-empty bin.
    *
    * Scale shape: classification is the existing linear pass; the
    * report adds one ≤`bins`-key aggregation. Cross-engine parity:
    * margins are already rounded 6 dp by [[naiveBayes]], and
    * `floor(margin / binWidth)` divides the same doubles in IEEE on
    * both engines.
    */
  def calibrationReport(test: DataFrame, train: DataFrame,
                        labelCol: String, binWidth: Double = 0.05,
                        bins: Int = 10): DataFrame = {
    require(binWidth > 0 && bins >= 2,
      s"calibrationReport: need binWidth > 0 and bins >= 2")
    val preds = naiveBayes(test, train, labelCol)
    val bin = least(lit(bins - 1),
      floor(col("margin") / binWidth)).cast("int")
    preds
      .join(test.select(col("doc_id"), col(labelCol).as("__y")), "doc_id")
      .withColumn("bin", bin)
      .withColumn("ok", when(col("pred") === col("__y"), 1L).otherwise(0L))
      .groupBy("bin")
      .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_correct"))
      .select(col("bin"), round(col("bin") * binWidth, 6).as("margin_lo"),
        col("n"), col("n_correct"),
        round(col("n_correct").cast("double") / col("n"), 6).as("accuracy"))
  }

  // ── incremental model store ───────────────────────────────────────
  //
  // Counts and totals are additive, so the trained model maintains
  // exactly like the vocabulary store: per-shard append of the shard's
  // OWN (y, w, c) and (y, n_docs, n_tokens) rows, summation on read,
  // ledgered retries. After build + k extends, classification equals
  // the from-scratch model over everything folded in.

  private def countsPath(path: String) = s"$path/counts"
  private def totalsPath(path: String) = s"$path/totals"

  /** The Naive Bayes model as a [[graft.util.ShardedStore]] —
    * continuous model training, batch or streamed: the build writes the
    * first tranche's per-class counts and totals, every extend appends
    * a shard's own rows, and ONE manifest generation covers both subs'
    * writes, so readers never see a shard's counts without its totals.
    * A re-delivered ledgered shard is a no-op (doubled count rows would
    * bias every later prediction toward the shard's classes), and a
    * crash between the appends and the commit leaves only unreferenced
    * files the blind retry supersedes. Counts are additive, so
    * classifying against the store equals from-scratch [[naiveBayes]]
    * over everything folded in. Compaction bounds both subs.
    */
  def nbStore(path: String, labelCol: String,
              unicode: Boolean = false): ShardedStore =
    ShardedStore.additive(path, "counts", "totals")(ShardedStore.Pin.none) {
      (labeled, _, _) =>
        classTokenCounts(labeled, labelCol, unicode)
          .write.mode("append").parquet(countsPath(path))
        classTotals(labeled, labelCol, unicode)
          .write.mode("append").parquet(totalsPath(path))
    }

  /** Classify against the STORED model: old training text is never
    * re-tokenized; shard count rows merge by summation on read
    * (vocabulary-sized aggregations). Equals [[naiveBayes]] trained
    * from scratch on everything folded in. `asOf` classifies with a
    * retained earlier generation of the model.
    */
  def classifyWithModel(docs: DataFrame, path: String,
                        unicode: Boolean = false,
                        asOf: Option[Int] = None): DataFrame = {
    val spark = docs.sparkSession
    val counts = graft.util.Manifest.read(spark, path, "counts", asOf)
      .groupBy(col("y"), col("w")).agg(sum(col("c")).as("c"))
    val totals = graft.util.Manifest.read(spark, path, "totals", asOf)
      .groupBy(col("y"))
      .agg(sum(col("n_docs")).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
    classify(docs, counts, totals, unicode)
  }
}
