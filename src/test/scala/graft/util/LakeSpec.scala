package graft.util

import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers
import graft.SparkSuite

class LakeSpec extends SparkSuite with Matchers {
  import spark.implicits._

  test("date-partitioned write prunes partitions at scan time") {
    val path = graft.util.Scratch.dir("lake-part-").getAbsolutePath
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
    Lake.writeDatePartitioned(ev, "ts", path)

    val allDates = spark.read.parquet(path).select("p_date").distinct().count()
    allDates should be > 2L

    val oneDay = Lake.readDateRange(spark, path, "2024-01-02", "2024-01-02")
    val plan = oneDay.queryExecution.executedPlan.toString
    plan should include("PartitionFilters")
    // pruned scan must not enumerate every partition
    val scanned = oneDay.select(input_file_name()).distinct().count()
    val totalFiles = spark.read.parquet(path).select(input_file_name()).distinct().count()
    scanned should be < totalFiles
    // correctness: same rows as a full-scan filter
    oneDay.count() shouldBe ev.filter(to_date(col("ts")) === "2024-01-02").count()
  }

  test("schema evolution: appended columns merge on read, old rows read as NULL") {
    val path = graft.util.Scratch.dir("lake-evolve-").getAbsolutePath
    // v1 schema: (event_id, value)
    Lake.appendEvolving(
      Seq((1L, 10.0), (2L, 20.0)).toDF("event_id", "value"), path)
    // v2 schema adds a column (the reference's autoMerge case) and
    // reorders the survivors — column resolution must be by name
    Lake.appendEvolving(
      Seq((30.0, 3L, "eu"), (40.0, 4L, "us"))
        .toDF("value", "event_id", "region"), path)

    val merged = Lake.readMerged(spark, path)
    merged.columns.toSet shouldBe Set("event_id", "value", "region")
    merged.count() shouldBe 4L
    // v1 rows surface the evolved column as NULL
    merged.filter(col("region").isNull).select("event_id")
      .as[Long].collect().sorted shouldBe Array(1L, 2L)
    merged.filter(col("region") === "eu").select("event_id")
      .as[Long].collect() shouldBe Array(3L)
    // values landed in the right columns despite the v2 reorder
    merged.filter(col("event_id") === 4L).select("value")
      .as[Double].collect() shouldBe Array(40.0)
  }

  // ── layout on the merge table: Z-order and file skipping ─────────

  /** A merge table keyed by `df`'s unique `id`, written as `files`
    * unclustered files.
    */
  private def layoutTable(df: org.apache.spark.sql.DataFrame, files: Int): String = {
    val path = graft.util.Scratch.dir("lake-layout-").getAbsolutePath
    Lake.mergeInit(spark, path, df.repartition(files), Seq("id"))
    path
  }

  /** The head generation's committed per-file stats. */
  private def fileStats(path: String) = Manifest.read(spark, path, "stats")

  test("mergeCompact Z-order narrows per-file min/max on both cluster columns") {
    // 1.2M rows, two independent uniform dims: an unclustered write
    // leaves every file spanning ~the full domain of both columns.
    // Enough rows for ~10 output files at the 1 MB target — with only
    // 4-5 files the per-file z-curve coverage is lumpy and the width
    // assertion gets sensitive to RangePartitioner's sampled boundaries
    val df = spark.range(1200000L).select(
      col("id"),
      pmod(hash(col("id")), lit(100000)).cast("long").as("a"),
      pmod(hash(col("id") + 7), lit(100000)).cast("long").as("b"))
    val path = layoutTable(df, files = 6)
    def avgWidth(c: String): Double = fileStats(path)
      .agg(avg((col(s"max_$c") - col(s"min_$c")).cast("double"))).as[Double].head()
    val (wa0, wb0) = (avgWidth("a"), avgWidth("b"))

    val (_, after) = Lake.mergeCompact(spark, path, targetFileMB = 1,
      clusterBy = Seq("a", "b"))
    after should be > 1 // multiple files, else "narrow" is vacuous
    Lake.mergeRead(spark, path).agg(count(lit(1)), sum("a"), sum("b"))
      .collect() shouldBe df.agg(count(lit(1)), sum("a"), sum("b")).collect()
    // each file now covers a small rectangle of (a, b) space: both
    // widths shrink together — the property a lexicographic range
    // layout on (a, b) cannot give b
    avgWidth("a") should be < wa0 * 0.7
    avgWidth("b") should be < wb0 * 0.7
  }

  test("mergeCompact Z-order: a 2-D range leaves < half the files as candidates") {
    val df = spark.range(600000L).select(
      col("id"),
      pmod(hash(col("id")), lit(10000)).cast("long").as("a"),
      pmod(hash(col("id") + 3), lit(10000)).cast("long").as("b"),
      hash(col("id") + 11).cast("long").as("payload"))
    val path = layoutTable(df, files = 4)
    Lake.mergeCompact(spark, path, targetFileMB = 1, clusterBy = Seq("a", "b"))
    // candidates by the committed stats: only files whose [min, max]
    // box straddles the predicate rectangle can hold matches
    val stats = fileStats(path)
    val nFiles = stats.count()
    nFiles should be > 1L
    val candidates = stats.filter(
      col("min_a") <= 100 && col("max_a") >= 0 &&
        col("min_b") <= 100 && col("max_b") >= 0).count()
    candidates.toDouble / nFiles should be < 0.5
  }

  test("mergeCompact Z-order tolerates null and constant cluster columns") {
    val df = spark.range(10000).select(
      col("id"),
      when(pmod(col("id"), lit(3)) === 0, lit(null).cast("long"))
        .otherwise(pmod(hash(col("id")), lit(1000)).cast("long")).as("a"),
      lit(7L).as("b")) // constant: quantile boundaries collapse to one value
    val path = layoutTable(df, files = 3)
    Lake.mergeCompact(spark, path, targetFileMB = 1, clusterBy = Seq("a", "b"))
    val back = Lake.mergeRead(spark, path)
    back.count() shouldBe 10000L
    back.filter(col("a").isNull).count() shouldBe df.filter(col("a").isNull).count()
    back.agg(sum("a"), sum("b")).collect() shouldBe df.agg(sum("a"), sum("b")).collect()
  }

  test("file-stats skipping: correct rows AND whole files pruned from the scan") {
    // `a` is not the merge key: its stats are committed all the same
    val df = spark.range(600000L).select(
      col("id"),
      pmod(hash(col("id")), lit(10000)).cast("long").as("a"),
      hash(col("id") + 11).cast("long").as("payload"))
    val path = layoutTable(df, files = 4)
    Lake.mergeCompact(spark, path, targetFileMB = 1, clusterBy = Seq("a"))
    val nFiles = Manifest.snapshot(spark, path).files.count(_.startsWith("data/"))
    nFiles should be > 1
    val got = Lake.mergeReadRange(spark, path, "a", lit(0L), lit(100L))
    val want = Lake.mergeRead(spark, path).filter(col("a").between(0L, 100L))
    got.count() shouldBe want.count()
    got.exceptAll(want).count() shouldBe 0L
    got.inputFiles.length should be < nFiles
  }

  test("file-stats skipping prunes all-null files; null rows never match ranges") {
    val path = graft.util.Scratch.dir("lake-null-").getAbsolutePath
    // file 1: values plus one null row; file 2: `a` all null
    Lake.mergeInit(spark, path,
      Seq((1L, Some(1L)), (2L, Some(2L)), (3L, Some(3L)), (4L, None))
        .toDF("id", "a").coalesce(1), Seq("id"))
    Lake.merge(spark, path,
      Seq((5L, Option.empty[Long]), (6L, None)).toDF("id", "a").coalesce(1),
      Seq("id"))
    Manifest.snapshot(spark, path).files.count(_.startsWith("data/")) shouldBe 2
    val got = Lake.mergeReadRange(spark, path, "a", lit(1L), lit(10L))
    got.count() shouldBe 3L
    got.inputFiles.length shouldBe 1 // the all-null file never opens
  }

  test("bucketed tables join and aggregate without an exchange on the bucket key") {
    val warehouse = spark.conf.get("spark.sql.warehouse.dir")
    val ev = Tables.events(spark, "/root/testdata/sf0.001")
      .select("event_id", "user_id", "value")
    Lake.writeBucketed(ev, "lake_events_bkt", 4, "user_id")
    Lake.writeBucketed(ev.groupBy("user_id").agg(count(lit(1)).as("n")),
      "lake_users_bkt", 4, "user_id")

    val a = spark.table("lake_events_bkt")
    val b = spark.table("lake_users_bkt")
    // disable auto-broadcast so the only way to avoid a shuffle is the
    // bucket layout itself
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = a.join(b, "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      plan should not include "Exchange hashpartitioning"
      joined.count() shouldBe ev.count()

      val agg = a.groupBy("user_id").agg(sum("value"))
      agg.queryExecution.executedPlan.toString should not include "Exchange hashpartitioning"
      agg.count() shouldBe b.count()
    } finally {
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      spark.sql("DROP TABLE IF EXISTS lake_events_bkt")
      spark.sql("DROP TABLE IF EXISTS lake_users_bkt")
    }
  }

  // ── MERGE INTO (keyed upsert) ─────────────────────────────────────

  private def mergeFixture(): (String, org.apache.spark.sql.DataFrame) = {
    val path = graft.util.Scratch.dir("lake-merge-").getAbsolutePath
    // range-laid-out by key: each of the 8 files owns a narrow key
    // band, so a narrow update range CAN prune files (hash layout
    // scatters every key everywhere and nothing could prune)
    val base = spark.range(0, 800).select(col("id").as("k"),
      (col("id") * 10).as("v"), lit("base").as("tag"))
      .repartitionByRange(8, col("k"))
    Lake.mergeInit(spark, path, base, Seq("k"))
    (path, base)
  }

  test("merge: upsert semantics — updated rows replaced, new keys appended, " +
      "others untouched") {
    val (path, _) = mergeFixture()
    val updates = Seq((5L, -1L, "upd"), (7L, -2L, "upd"), (900L, -3L, "new"))
      .toDF("k", "v", "tag")
    val r = Lake.merge(spark, path, updates, Seq("k"))
    r.matched shouldBe 2L
    r.inserted shouldBe 1L
    r.applied shouldBe true
    val out = Lake.mergeRead(spark, path)
    out.count() shouldBe 801L
    out.filter(col("tag") === "upd").select("k").as[Long].collect().sorted shouldBe
      Array(5L, 7L)
    out.filter(col("k") === 900L).select("tag").as[String].head() shouldBe "new"
    out.filter(col("k") === 6L).select("v").as[Long].head() shouldBe 60L
  }

  test("merge: file pruning funnel — a narrow update range rewrites a " +
      "strict subset of files, via stats candidates") {
    val (path, _) = mergeFixture()
    // keys 0-99 live in the first range file(s) only
    val updates = Seq((1L, -1L, "upd"), (2L, -2L, "upd")).toDF("k", "v", "tag")
    val r = Lake.merge(spark, path, updates, Seq("k"))
    r.filesLive shouldBe 8
    r.filesCandidate should be < r.filesLive
    r.filesRewritten should be <= r.filesCandidate
    r.filesRewritten should be >= 1
    // untouched files are carried over physically identical
    Lake.mergeRead(spark, path).count() shouldBe 800L
  }

  test("merge: second merge uses the stats committed by the first " +
      "(no stale-stats window), and still prunes") {
    val (path, _) = mergeFixture()
    Lake.merge(spark, path, Seq((901L, -1L, "new")).toDF("k", "v", "tag"), Seq("k"))
    // 901 now lives in a fresh file; updating it must find that file
    // through the REGENERATED stats
    val r2 = Lake.merge(spark, path,
      Seq((901L, -2L, "upd2")).toDF("k", "v", "tag"), Seq("k"))
    r2.matched shouldBe 1L
    r2.inserted shouldBe 0L
    r2.filesCandidate should be < r2.filesLive
    Lake.mergeRead(spark, path).filter(col("k") === 901L)
      .select("tag").as[String].head() shouldBe "upd2"
  }

  test("merge: ledgered re-delivery is a no-op; time travel resolves the " +
      "pre-merge generation") {
    val (path, _) = mergeFixture()
    val updates = Seq((5L, -1L, "upd")).toDF("k", "v", "tag")
    Lake.merge(spark, path, updates, Seq("k"), shardId = Some("b1"))
      .applied shouldBe true
    val replay = Lake.merge(spark, path, updates, Seq("k"), shardId = Some("b1"))
    replay.applied shouldBe false
    Lake.mergeRead(spark, path).count() shouldBe 800L
    // generation 0 still shows the pre-merge value
    Lake.mergeRead(spark, path, asOf = Some(0))
      .filter(col("k") === 5L).select("tag").as[String].head() shouldBe "base"
    Lake.mergeRead(spark, path)
      .filter(col("k") === 5L).select("tag").as[String].head() shouldBe "upd"
  }

  test("merge: duplicate source keys are refused; schema drift is refused") {
    val (path, _) = mergeFixture()
    val dup = Seq((5L, -1L, "a"), (5L, -2L, "b")).toDF("k", "v", "tag")
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, dup, Seq("k"))
    val drifted = Seq((5L, -1L)).toDF("k", "v")
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, drifted, Seq("k"))
  }

  test("CHECK constraints: enforced on merge and updateWhere, NULL " +
      "passes, dirty-table ADD refused, drop re-allows, survive compaction") {
    val (path, _) = mergeFixture()
    Lake.addCheckConstraint(spark, path, "v_nonneg", "v >= 0")
    // violating merge refuses whole-batch, table + generation untouched
    val genBefore = Manifest.snapshot(spark, path).gen
    val before = Lake.mergeRead(spark, path).collect().toSet
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, Seq((5L, -1L, "bad")).toDF("k", "v", "tag"), Seq("k"))
    Manifest.snapshot(spark, path).gen shouldBe genBefore
    Lake.mergeRead(spark, path).collect().toSet shouldBe before
    // a valid merge passes; NULL evaluates as pass (SQL CHECK rule)
    Lake.merge(spark, path,
      Seq((5L, Some(50L), "ok"), (6L, Option.empty[Long], "nullv"))
        .toDF("k", "v", "tag"), Seq("k")).applied shouldBe true
    // updateWhere SET results are gated too
    an[IllegalArgumentException] should be thrownBy
      Lake.updateWhere(spark, path, col("k") === 7L, Map("v" -> lit(-5L)))
    // deleteWhere cannot violate and stays open
    Lake.deleteWhere(spark, path, col("k") === 8L).affected shouldBe 1L
    // adding a constraint the CURRENT data violates is refused
    an[IllegalArgumentException] should be thrownBy
      Lake.addCheckConstraint(spark, path, "no_nulls", "v IS NOT NULL AND v < 10")
    // constraints survive OPTIMIZE (they ride the manifest, not files)
    Lake.mergeCompact(spark, path)
    Lake.checkConstraints(spark, path).count() shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, Seq((9L, -2L, "bad")).toDF("k", "v", "tag"), Seq("k"))
    // drop re-allows
    Lake.dropCheckConstraint(spark, path, "v_nonneg")
    Lake.checkConstraints(spark, path).count() shouldBe 0L
    Lake.merge(spark, path,
      Seq((9L, -2L, "now-ok")).toDF("k", "v", "tag"), Seq("k")).applied shouldBe true
  }

  test("generated columns: omitted on merge -> computed; divergent " +
      "provided values refused; dirty ADD refused; drop re-allows; " +
      "rules survive compaction") {
    val (path, _) = mergeFixture()
    // retrofit requires an existing, consistent column
    an[IllegalArgumentException] should be thrownBy
      Lake.addGeneratedColumn(spark, path, "nope", "v * 2")
    // make tag derivable, declare it generated
    Lake.updateWhere(spark, path, lit(true),
      Map("tag" -> concat(lit("t"), pmod(col("k"), lit(3)).cast("string"))))
    an[IllegalArgumentException] should be thrownBy
      Lake.addGeneratedColumn(spark, path, "tag", "'x' || CAST(k AS STRING)")
    Lake.addGeneratedColumn(spark, path, "tag",
      "'t' || CAST(k % 3 AS STRING)")
    // a batch OMITTING the generated column: computed by the table
    val res = Lake.merge(spark, path,
      Seq((5L, -50L), (900L, -900L)).toDF("k", "v"), Seq("k"))
    res.matched shouldBe 1L
    res.inserted shouldBe 1L
    Lake.mergeRead(spark, path).filter(col("k") === 900L)
      .select("tag").as[String].head() shouldBe "t0"
    Lake.mergeRead(spark, path).filter(col("k") === 5L)
      .select("v", "tag").as[(Long, String)].head() shouldBe ((-50L, "t2"))
    // a divergent provided value refuses, table untouched
    val before = Lake.mergeRead(spark, path).collect().toSet
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path,
        Seq((6L, -60L, "WRONG")).toDF("k", "v", "tag"), Seq("k"))
    Lake.mergeRead(spark, path).collect().toSet shouldBe before
    // a CONSISTENT provided value passes
    Lake.merge(spark, path,
      Seq((6L, -60L, "t0")).toDF("k", "v", "tag"), Seq("k"))
      .matched shouldBe 1L
    // rules ride the manifest: survive OPTIMIZE, drop re-allows
    Lake.mergeCompact(spark, path)
    Lake.generatedColumns(spark, path).count() shouldBe 1L
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path,
        Seq((7L, -70L, "WRONG")).toDF("k", "v", "tag"), Seq("k"))
    Lake.dropGeneratedColumn(spark, path, "tag")
    Lake.merge(spark, path,
      Seq((7L, -70L, "free")).toDF("k", "v", "tag"), Seq("k"))
      .matched shouldBe 1L
  }

  test("merge evolve: updates with an added column widen the table " +
      "atomically; pre-evolution rows read NULL; refusals hold") {
    val (path, _) = mergeFixture()
    val upd = Seq((10L, -1L, "up", 1.5), (900L, -2L, "new", 2.5))
      .toDF("k", "v", "tag", "score")
    // without evolve: refused as drift (table untouched)
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, upd, Seq("k"))
    // with evolve: widened in one commit
    val res = Lake.merge(spark, path, upd, Seq("k"), evolve = true)
    res.matched shouldBe 1L
    res.inserted shouldBe 1L
    val head = Lake.mergeRead(spark, path)
    head.columns.toSeq shouldBe Seq("k", "v", "tag", "score")
    head.count() shouldBe 801L
    head.filter(col("k") === 10L).select("score").as[Double].head() shouldBe 1.5
    head.filter(col("k") === 900L).select("score").as[Double].head() shouldBe 2.5
    // untouched pre-evolution rows surface the new column as NULL
    head.filter(col("k") === 5L).select("score").isEmpty shouldBe false
    head.filter(col("k") === 5L && col("score").isNull).count() shouldBe 1L
    // the pre-evolution snapshot still reads with its own schema
    Lake.mergeRead(spark, path, asOf = Some(0)).columns.toSeq shouldBe
      Seq("k", "v", "tag")
    // a later ordinary merge against the widened table must now carry
    // the full widened schema
    val updOld = Seq((11L, -3L, "x")).toDF("k", "v", "tag")
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, updOld, Seq("k"))
    // evolution never allows dropped columns or type changes
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, updOld, Seq("k"), evolve = true)
    val drifted = Seq((11L, "notlong", "x", 1.0)).toDF("k", "v", "tag", "score")
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path, drifted, Seq("k"), evolve = true)
    // file pruning and stats survive the evolution: a post-evolution
    // range read through the regenerated stats is exact
    val ranged = Lake.mergeReadRange(spark, path, "k", lit(890L), lit(910L))
    ranged.filter(col("k") === 900L).count() shouldBe 1L
  }

  test("updateWhere: a SET expression whose type drifts from the target " +
      "column is refused up front (table untouched)") {
    val (path, _) = mergeFixture()
    val before = Lake.mergeRead(spark, path).collect().toSet
    // string into a long column — would rewrite touched files with a
    // drifted type next to untouched originals
    an[IllegalArgumentException] should be thrownBy
      Lake.updateWhere(spark, path, col("k") >= 700,
        Map("v" -> lit("x")))
    // unknown SET column is refused too
    an[IllegalArgumentException] should be thrownBy
      Lake.updateWhere(spark, path, col("k") >= 700,
        Map("nope" -> lit(1L)))
    Lake.mergeRead(spark, path).collect().toSet shouldBe before
  }

  test("deleteWhere/updateWhere: row semantics, file pruning, generation " +
      "isolation, ledger no-op") {
    val (path, _) = mergeFixture()
    // delete a narrow key band: only its range file(s) rewrite
    val del = Lake.deleteWhere(spark, path,
      col("k") >= 10 && col("k") < 20, shardId = Some("d1"))
    del.affected shouldBe 10L
    del.filesRewritten should be >= 1
    del.filesRewritten should be < del.filesLive
    Lake.mergeRead(spark, path).count() shouldBe 790L
    // update a disjoint band; deleted rows must not resurrect
    val upd = Lake.updateWhere(spark, path, col("k") >= 700,
      Map("tag" -> lit("hot"), "v" -> (col("v") + 1)), shardId = Some("u1"))
    upd.affected shouldBe 100L
    upd.filesRewritten should be < upd.filesLive
    val head = Lake.mergeRead(spark, path)
    head.count() shouldBe 790L
    head.filter(col("tag") === "hot").count() shouldBe 100L
    head.filter(col("k") === 750L).select("v").as[Long].head() shouldBe 7501L
    // untouched row is byte-identical
    head.filter(col("k") === 5L).select("v", "tag").as[(Long, String)]
      .head() shouldBe ((50L, "base"))
    // generation isolation: the post-delete snapshot shows no update
    Lake.mergeRead(spark, path, asOf = Some(1))
      .filter(col("tag") === "hot").count() shouldBe 0L
    // re-delivery is a manifest no-op
    Lake.deleteWhere(spark, path, lit(true), shardId = Some("d1"))
      .applied shouldBe false
    Lake.mergeRead(spark, path).count() shouldBe 790L
    // a merge AFTER dml still prunes through the regenerated stats
    val m = Lake.merge(spark, path,
      Seq((5L, -1L, "upd")).toDF("k", "v", "tag"), Seq("k"))
    m.matched shouldBe 1L
    m.filesCandidate should be < m.filesLive
  }

  test("mergeReadRange: stats-pruned key-range read opens a strict subset " +
      "of files and returns exactly the plain-filter rows") {
    val (path, _) = mergeFixture()
    val ranged = Lake.mergeReadRange(spark, path, "k", lit(100L), lit(199L))
    val plain = Lake.mergeRead(spark, path)
      .filter(col("k").between(100L, 199L))
    ranged.count() shouldBe 100L
    ranged.exceptAll(plain.select(ranged.columns.map(col): _*))
      .count() shouldBe 0
    // pruning really fires: the ranged scan opens fewer files
    val openedRanged = ranged.select(input_file_name()).distinct().count()
    val openedPlain = Lake.mergeRead(spark, path)
      .select(input_file_name()).distinct().count()
    openedRanged should be < openedPlain
    // empty survivor set still answers
    Lake.mergeReadRange(spark, path, "k", lit(5000L), lit(6000L))
      .count() shouldBe 0L
  }

  test("mergeChanges: typed insert/update/delete feed between generations " +
      "with before/after images; unchanged keys never appear") {
    val (path, _) = mergeFixture()                       // gen 0
    Lake.merge(spark, path,                              // gen 1: 1 update + 1 insert
      Seq((5L, -1L, "upd"), (900L, -2L, "new")).toDF("k", "v", "tag"), Seq("k"))
    Lake.deleteWhere(spark, path, col("k") === 7L)  // gen 2: 1 delete
    val feed = Lake.mergeChanges(spark, path, Seq("k"), fromGen = 0)
      .select("k", "change_type", "before_tag", "after_tag")
      .as[(Long, String, String, String)].collect().sortBy(_._1)
    feed.map(r => (r._1, r._2)).toSeq shouldBe
      Seq((5L, "update"), (7L, "delete"), (900L, "insert"))
    feed(0)._3 shouldBe "base"; feed(0)._4 shouldBe "upd"
    feed(1)._4 shouldBe null   // delete has no after image
    feed(2)._3 shouldBe null   // insert has no before image
    // the reverse span (gen1 → gen2) sees only the delete
    Lake.mergeChanges(spark, path, Seq("k"), fromGen = 1)
      .select("change_type").as[String].collect().toSeq shouldBe Seq("delete")
  }

  test("Manifest.restore: rollback to a retained generation re-reads the " +
      "original; the shard ledger survives the rewind") {
    val (path, _) = mergeFixture()
    Lake.deleteWhere(spark, path, col("k") < 400L, shardId = Some("bad-batch"))
    Lake.mergeRead(spark, path).count() shouldBe 400L
    val newHead = Manifest.restore(spark, path, gen = 0)
    newHead shouldBe 2
    Lake.mergeRead(spark, path).count() shouldBe 800L
    // data rewound, idempotency history not: the id still no-ops
    Lake.deleteWhere(spark, path, lit(true),
      shardId = Some("bad-batch")).applied shouldBe false
    // and the rollback itself is time-travelable: gen 1 still shows
    // the deleted state
    Lake.mergeRead(spark, path, asOf = Some(1)).count() shouldBe 400L
  }

  test("mergeCompact: clustered OPTIMIZE shrinks the file count, keeps " +
      "stats covering (pruning still fires), survives time travel; raw " +
      "compactSub on the data sub is caught by the coverage guard") {
    val (path, _) = mergeFixture()
    // fragment the table: three narrow merges append three small files
    for (k <- Seq(900L, 901L, 902L))
      Lake.merge(spark, path, Seq((k, -k, "new")).toDF("k", "v", "tag"), Seq("k"))
    val genBefore = Manifest.snapshot(spark, path).gen
    val (before, after) = Lake.mergeCompact(spark, path,
      targetFileMB = 128, clusterBy = Seq("k"))
    before shouldBe 11          // 8 range files + 3 merge appends
    after should be < before
    Lake.mergeRead(spark, path).count() shouldBe 803L
    // stats regenerated in the same commit: ranged read still prunes
    // (and the coverage guard passes)
    Lake.mergeReadRange(spark, path, "k", lit(0L), lit(49L))
      .count() shouldBe 50L
    // merging after the compaction works and the funnel is intact
    val m = Lake.merge(spark, path,
      Seq((901L, -1L, "upd")).toDF("k", "v", "tag"), Seq("k"))
    m.matched shouldBe 1L
    // the pre-compaction generation still resolves (time travel)
    Lake.mergeRead(spark, path, asOf = Some(genBefore)).count() shouldBe 803L
    // a raw compactSub on the data sub orphans the stats — the next
    // stats-dependent op must fail loudly, not answer wrong
    Manifest.compactSub(spark, path, "data")
    an[IllegalArgumentException] should be thrownBy
      Lake.merge(spark, path,
        Seq((1L, -1L, "x")).toDF("k", "v", "tag"), Seq("k"))
  }

  test("applyChanges: one batch's upserts and deletes land as ONE atomic " +
      "generation; a key with both ops is refused") {
    val (path, _) = mergeFixture()
    val genBefore = Manifest.snapshot(spark, path).gen
    val batch = Seq(
      (5L, -1L, "upd", "U"),     // update
      (900L, -2L, "new", "U"),   // insert
      (7L, 0L, "", "D"),         // delete existing
      (901L, 0L, "", "D")        // delete absent key: no-op
    ).toDF("k", "v", "tag", "op")
    val r = Lake.applyChanges(spark, path, batch, Seq("k"), "op",
      shardId = Some("cdc-1"))
    (r.matched, r.inserted, r.deleted) shouldBe ((1L, 1L, 1L))
    // exactly one generation advanced — never an upsert commit plus a
    // separate delete commit
    Manifest.snapshot(spark, path).gen shouldBe genBefore + 1
    val out = Lake.mergeRead(spark, path)
    out.count() shouldBe 800L            // 800 - 1 del + 1 ins
    out.filter(col("k") === 7L).count() shouldBe 0L
    out.filter(col("k") === 900L).select("tag").as[String].head() shouldBe "new"
    out.filter(col("k") === 5L).select("tag").as[String].head() shouldBe "upd"
    // re-delivery no-ops
    Lake.applyChanges(spark, path, batch, Seq("k"), "op",
      shardId = Some("cdc-1")).applied shouldBe false
    // both ops on one key in one batch: ambiguous, refused
    val dup = Seq((5L, -1L, "x", "U"), (5L, 0L, "", "D"))
      .toDF("k", "v", "tag", "op")
    an[IllegalArgumentException] should be thrownBy
      Lake.applyChanges(spark, path, dup, Seq("k"), "op")
  }

  test("mergeChecked: a violating batch is rejected whole with a typed " +
      "report and no generation; a clean one publishes") {
    val (path, _) = mergeFixture()
    val checks = Seq(
      "v_not_null" -> col("v").isNotNull,
      "k_positive" -> (col("k") >= 0L))
    val gen0 = Manifest.snapshot(spark, path).gen
    val bad = Seq((5L, Option.empty[Long], "x"), (-1L, Some(1L), "y"),
      (6L, Some(2L), "ok")).toDF("k", "v", "tag")
    val r = Lake.mergeChecked(spark, path, bad, Seq("k"), checks,
      shardId = Some("b1"))
    r.isLeft shouldBe true
    r.left.toOption.get.as[(String, Long)].collect().toMap shouldBe
      Map("v_not_null" -> 1L, "k_positive" -> 1L)
    Manifest.snapshot(spark, path).gen shouldBe gen0
    Lake.mergeRead(spark, path).count() shouldBe 800L
    // the corrected re-submission under the SAME shard id publishes
    // (the rejection never consumed the id)
    val clean = Seq((5L, Some(-1L), "upd")).toDF("k", "v", "tag")
    val ok = Lake.mergeChecked(spark, path, clean, Seq("k"), checks,
      shardId = Some("b1"))
    ok.isRight shouldBe true
    ok.toOption.get.matched shouldBe 1L
    Lake.mergeRead(spark, path).filter(col("k") === 5L)
      .select("tag").as[String].head() shouldBe "upd"
  }

  test("merge: empty updates commit the ledger id and change nothing") {
    val (path, base) = mergeFixture()
    val empty = base.filter(lit(false))
    val r = Lake.merge(spark, path, empty, Seq("k"), shardId = Some("e0"))
    r.applied shouldBe true
    (r.matched, r.inserted, r.filesRewritten) shouldBe ((0L, 0L, 0))
    Lake.mergeRead(spark, path).count() shouldBe 800L
    // the id is remembered
    Lake.merge(spark, path, empty, Seq("k"), shardId = Some("e0"))
      .applied shouldBe false
  }
}
