package graft.operators

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class ClassifierSpec extends SparkSuite with Matchers {
  import spark.implicits._

  // two cleanly separable classes plus one ambiguous doc
  private val labeled = Seq(
    (10L, "spark scala jvm spark", "code"),
    (11L, "scala jvm compile", "code"),
    (12L, "cat dog pet cat", "animal"),
    (13L, "dog pet leash", "animal")
  ).toDF("doc_id", "text", "lang")

  private val unlabeled = Seq(
    (1L, "spark jvm"),      // code vocabulary
    (2L, "cat dog"),        // animal vocabulary
    (3L, "qqq zzz")         // fully unseen -> priors + floors decide
  ).toDF("doc_id", "text")

  /** Sequential reference: add-one-smoothed multinomial NB with the
    * same round-6dp argmax and ascending-label tiebreak.
    */
  private def referenceNb(train: Seq[(String, String)],
                          docs: Seq[(Long, String)]): Map[Long, (String, Double, Double)] = {
    val byClass = train.groupBy(_._2)
    val counts: Map[String, Map[String, Long]] = byClass.map { case (y, rows) =>
      y -> rows.flatMap(_._1.split(" ")).groupBy(identity)
        .map { case (w, ws) => w -> ws.size.toLong }
    }
    val nTokens = counts.map { case (y, m) => y -> m.values.sum }
    val nDocs = byClass.map { case (y, rows) => y -> rows.size.toLong }
    val total = nDocs.values.sum
    val v = counts.values.flatMap(_.keys).toSet.size
    docs.map { case (id, text) =>
      val scored = counts.keys.toSeq.sorted.map { y =>
        val s = math.log(nDocs(y).toDouble / total) +
          text.split(" ").map { w =>
            math.log((counts(y).getOrElse(w, 0L) + 1.0) / (nTokens(y) + v))
          }.sum
        (BigDecimal(-s).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble, y)
      }.sorted
      id -> (scored.head._2, -scored.head._1,
        BigDecimal(scored(1)._1 - scored.head._1)
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.toMap
  }

  test("naiveBayes matches the sequential reference exactly") {
    val got = Classifier.naiveBayes(unlabeled, labeled, "lang")
      .collect().map(r => r.getLong(0) ->
        (r.getString(1), r.getDouble(2), r.getDouble(3))).toMap
    val want = referenceNb(
      labeled.collect().map(r => (r.getString(1), r.getString(2))).toSeq,
      unlabeled.collect().map(r => (r.getLong(0), r.getString(1))).toSeq)
    got.keySet shouldBe want.keySet
    for (id <- want.keySet) {
      val (gp, gs, gm) = got(id); val (wp, ws, wm) = want(id)
      withClue(s"doc $id:") {
        gp shouldBe wp
        gs shouldBe ws +- 1e-9
        gm shouldBe wm +- 1e-9
      }
    }
    got(1L)._1 shouldBe "code"
    got(2L)._1 shouldBe "animal"
  }

  test("exact score tie breaks to the ascending class label") {
    // perfectly symmetric classes: every score pair ties exactly
    val sym = Seq(
      (1L, "aa bb", "y2"), (2L, "cc dd", "y1")
    ).toDF("doc_id", "text", "lang")
    val r = Classifier.naiveBayes(Seq((9L, "ee ff")).toDF("doc_id", "text"),
      sym, "lang").head()
    r.getString(1) shouldBe "y1"
    r.getDouble(3) shouldBe 0.0 // margin of an exact tie
  }

  test("margin is the rounded gap to the runner-up and confidence " +
      "orders separable ahead of unseen docs") {
    val rows = Classifier.naiveBayes(unlabeled, labeled, "lang")
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    rows(1L) should be > rows(3L) // seen-vocab doc beats all-unseen doc
    rows(3L) should be >= 0.0
  }

  test("stored model: build + extends == from-scratch; re-delivered " +
      "shard is a ledgered no-op") {
    val path = graft.util.Scratch.dir("graft-nb-spec").toString
    val s1 = labeled.filter(col("doc_id") <= 11)  // all "code"
    val s2 = labeled.filter(col("doc_id") === 12)
    val s3 = labeled.filter(col("doc_id") === 13)
    val model = Classifier.nbStore(path, "lang")
    model.build(s1)
    model.extend(s2, Some("s2"))
    model.extend(s3, Some("s3"))
    // re-delivery: must not double s2's counts
    model.extend(s2, Some("s2"))
    val stored = Classifier.classifyWithModel(unlabeled, path)
      .orderBy("doc_id").collect()
    val scratch = Classifier.naiveBayes(unlabeled, labeled, "lang")
      .orderBy("doc_id").collect()
    stored.map(_.toString) shouldBe scratch.map(_.toString)
  }

  test("naiveBayes requires at least two classes") {
    val one = labeled.filter(col("lang") === "code")
    an[IllegalArgumentException] should be thrownBy
      Classifier.naiveBayes(unlabeled, one, "lang").collect()
  }

  test("calibrationReport: bins partition the predictions, counts " +
      "reconcile with a direct margin/agreement recompute") {
    import spark.implicits._
    val sf = "/root/testdata/sf0.001"
    val d = spark.read.parquet(s"$sf/documents.parquet")
    val t = pmod(col("doc_id"), lit(5))
    val (test0, train0) = (d.filter(t === 0), d.filter(t =!= 0))
    val rep = Classifier.calibrationReport(test0, train0, "lang")
      .as[(Int, Double, Long, Long, Double)].collect().sortBy(_._1)
    // the bins partition every held-out prediction exactly once
    rep.map(_._3).sum shouldBe test0.count()
    // per-bin counts reconcile with the raw predictions re-binned here
    val preds = Classifier.naiveBayes(test0, train0, "lang")
      .join(test0.select(col("doc_id"), col("lang").as("truth")), "doc_id")
      .select(col("margin"), (col("pred") === col("truth")).as("ok"))
      .as[(Double, Boolean)].collect()
    val want = preds.groupBy(p => math.min(9, math.floor(p._1 / 0.05).toInt))
      .map { case (b, ps) => (b, ps.length.toLong,
        ps.count(_._2).toLong) }.toSeq.sortBy(_._1)
    rep.map(r => (r._1, r._3, r._4)).toSeq shouldBe want
    // margin_lo/accuracy arithmetic
    rep.foreach { case (b, lo, n, c, acc) =>
      lo shouldBe BigDecimal(b * 0.05).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble
      acc shouldBe BigDecimal(c.toDouble / n).setScale(6,
        BigDecimal.RoundingMode.HALF_UP).toDouble +- 1e-9
    }
  }
}
