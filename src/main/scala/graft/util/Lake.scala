package graft.util

import org.apache.spark.sql.{Column, DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Physical-layout utilities for lakehouse tables at scale: date
  * partitioning (partition pruning at scan time), hash bucketing
  * (co-located, shuffle-free joins and aggregations on the bucket
  * key), and the merge table — the one layout that compacts,
  * Z-orders and skips files, all through [[Manifest]] commits.
  *
  * At 100 TB these layouts are what keep the medallion tables
  * queryable: gold/silver partitioned by event date means a dashboard
  * range query reads only its days (`PartitionFilters` in the scan,
  * not a full-table scan); bucketing the fact tables by their join key
  * means the recurring symbol/orderkey joins and aggregations skip the
  * exchange entirely — the shuffle was paid once at write time. The
  * merge table is Delta's layout: every generation commits its data
  * files together with their per-file min/max stats, so
  * [[mergeCompact]] (OPTIMIZE / ZORDER BY) and [[mergeReadRange]]
  * (data skipping) never see stats older than the files.
  */
object Lake {

  /** Write `df` partitioned by the DATE of `tsCol` (dynamic partition
    * dirs `p_date=YYYY-MM-DD`). Readers filtering on `p_date` scan
    * only matching partitions.
    */
  def writeDatePartitioned(df: DataFrame, tsCol: String, path: String): Unit =
    df.withColumn("p_date", to_date(col(tsCol)))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("p_date")
      .parquet(path)

  /** Read a date-partitioned table restricted to `[fromDate, toDate]`
    * (inclusive, ISO strings). The filter lands in the scan's
    * `PartitionFilters` — directories outside the range are never
    * listed into the plan.
    */
  def readDateRange(spark: SparkSession, path: String,
                    fromDate: String, toDate: String): DataFrame =
    spark.read.parquet(path)
      .filter(col("p_date") >= lit(fromDate) && col("p_date") <= lit(toDate))

  /** Append a batch whose schema may have EVOLVED since the table was
    * created — the reference enables exactly this for its silver MERGE
    * writes (`spark.databricks.delta.schema.autoMerge.enabled=true`,
    * `process_silver.py:67`). Parquet is schema-on-read: each file
    * carries its own footer schema, so an append with extra columns
    * needs no table-level DDL and rewrites nothing.
    */
  def appendEvolving(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Append).parquet(path)

  /** Read a table whose files were written under different schema
    * versions, merging every file footer into the union schema
    * (`mergeSchema=true` — the read half of Delta's schema auto-merge).
    * Columns missing from older files surface as NULL, exactly like
    * Delta after an additive evolution. Footer merging lists every
    * file's schema, so it is opt-in per read rather than session
    * default — at 100 TB only the schema-inference step pays, the scan
    * itself is unchanged.
    */
  def readMerged(spark: SparkSession, path: String): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(path)

  /** Persist `df` hash-bucketed (and sorted) by `keyCols` into the
    * session catalog as `tableName`. Joins and aggregations between
    * tables bucketed the same way on the same keys run without an
    * Exchange (verify: the join plan has no shuffle on the bucketed
    * side).
    */
  def writeBucketed(df: DataFrame, tableName: String, numBuckets: Int,
                    keyCols: String*): Unit =
    df.write.mode(SaveMode.Overwrite)
      .bucketBy(numBuckets, keyCols.head, keyCols.tail: _*)
      .sortBy(keyCols.head, keyCols.tail: _*)
      .format("parquet")
      .saveAsTable(tableName)

  // ── MERGE INTO: keyed upsert on a manifest-managed table ──────────
  //
  // Delta's `MERGE INTO target USING updates ON keys WHEN MATCHED THEN
  // UPDATE SET * WHEN NOT MATCHED THEN INSERT *` — the canonical
  // upsert of the Delta table surface the reference's medallion writes
  // to (its own jobs append; MERGE is what that surface offers the
  // moment a pipeline needs keyed updates) — implemented Delta's way
  // on plain parquet:
  // only the FILES that contain matched keys are rewritten, everything
  // else survives the commit untouched on disk, and the swap is one
  // atomic [[Manifest]] generation (snapshot isolation + time travel
  // included). Matched-file discovery is two-stage, exactly the
  // data-skipping shape a 100 TB merge needs:
  //  1. per-file min/max stats (committed WITH the data in the same
  //     generation — no stale-stats window) prune to candidate files
  //     whose key range overlaps the updates' key range;
  //  2. an exact key semi-join, column-pruned to the key columns,
  //     over ONLY the candidate files yields the touched set.
  // A merge whose updates land in a narrow key range therefore scans
  // the key column of a few files and rewrites only those — never the
  // table.
  //
  // Contracts: single writer (Manifest's rule); `updates` must be
  // key-unique (Delta's multiple-source-rows error, enforced);
  // the target stays key-unique provided [[mergeInit]]'s input was.

  private val MergeDataSub = "data"
  private val MergeStatsSub = "stats"

  /** Outcome of one [[merge]]: row counts and the file-pruning
    * funnel (`filesLive` ≥ `filesCandidate` ≥ `filesRewritten`).
    */
  case class MergeResult(matched: Long, inserted: Long,
                         filesRewritten: Int, filesCandidate: Int,
                         filesLive: Int, deleted: Long = 0L,
                         applied: Boolean)

  /** Per-file min/max stats (`min_c`, `max_c`) for EXACTLY `names`
    * (data-sub file names), on every top-level column of an atomic
    * type — numeric, decimal, string, boolean, date, timestamp;
    * Delta's default data-skipping rule. Nested, array, map and UDT
    * columns get none. The explicit name list left-joins the
    * aggregated mins/maxes, so a ZERO-ROW file (an empty write
    * partition — skewed repartitions produce them) still gets a
    * covering row with null stats. Null stats are correct: a range
    * test evaluates null → the file is never a candidate (no row can
    * match), yet the coverage guard holds.
    *
    * `dataDir` overrides where the named files are READ from (the
    * transaction-staging dir during a rewrite — file NAMES are stable
    * across the staging move, so stats computed pre-publish stay
    * valid); default is the table's live data sub.
    */
  private[graft] def mergeStatsFor(spark: SparkSession, path: String,
                                   names: Set[String],
                                   dataDir: Option[String] = None): DataFrame = {
    import spark.implicits._
    val dir = dataDir.getOrElse(s"$path/$MergeDataSub")
    val files = spark.read.option("basePath", dir)
      .parquet(names.toSeq.map(n => s"$dir/$n"): _*)
    val aggs = statsColumns(files.schema).flatMap { c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c"))
    }
    val agg = files.groupBy(col("_metadata.file_name").as("file_name"))
      .agg(aggs.head, aggs.tail: _*)
    names.toSeq.toDF("file_name").join(agg, Seq("file_name"), "left")
  }

  /** The top-level columns that carry per-file stats (see
    * [[mergeStatsFor]]).
    */
  private def statsColumns(schema: StructType): Seq[String] =
    schema.fields.toSeq.filter(_.dataType match {
      case _: NumericType | _: StringType | BooleanType | DateType |
           TimestampType | TimestampNTZType => true
      case _ => false
    }).map(_.name)

  /** Stage the stats file of the generation being written under
    * `stage`: the committed stats rows of every live data file the
    * commit keeps (all but `dropped`) plus fresh stats over the files
    * just staged under `stage`. Kept rows that predate an additive
    * evolution lack the new columns' stats and carry NULL there; no
    * range test passes NULL, which matches the NULLs those rows read
    * as. Returns the number of staged data files.
    */
  private def stageStats(spark: SparkSession, path: String, stage: String,
                         dropped: Set[String]): Int = {
    val fresh = fileNamesIn(spark, s"$stage/$MergeDataSub")
    val kept = Manifest.read(spark, path, MergeStatsSub)
      .filter(!col("file_name").isin(dropped.toSeq: _*))
    val all =
      if (fresh.isEmpty) kept
      else kept.unionByName(mergeStatsFor(spark, path, fresh,
        dataDir = Some(s"$stage/$MergeDataSub")), allowMissingColumns = true)
    all.coalesce(1).write.mode(SaveMode.Append).parquet(s"$stage/$MergeStatsSub")
    fresh.size
  }

  /** The named live data files (`data/...` relative paths), footers
    * merged: a file set may straddle an additive evolution.
    */
  private def readData(spark: SparkSession, path: String,
                       rel: Seq[String]): DataFrame =
    spark.read.option("basePath", s"$path/$MergeDataSub")
      .option("mergeSchema", "true")
      .parquet(rel.map(f => s"$path/$f"): _*)

  private[graft] def dataFileNames(spark: SparkSession, path: String): Set[String] =
    fileNamesIn(spark, s"$path/$MergeDataSub")

  /** Visible file names directly under `dir` (empty when absent). */
  private def fileNamesIn(spark: SparkSession, dir: String): Set[String] = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Set.empty
    else fs.listStatus(p).filter(_.isFile).map(_.getPath.getName)
      .filter(n => !n.startsWith(".") && !n.startsWith("_")).toSet
  }

  /** Create the merge-managed table at `path` from `df` (generation 0:
    * data + its per-file stats in one commit). `df` should be
    * key-unique on `keys` — merges preserve that invariant, they don't
    * create it. Keys must be top-level atomic columns: merge pruning
    * reads their per-file stats. `applied` is generation 0's ledger,
    * so a replayed build (e.g. a streaming sink's batch 0
    * re-run after the table already exists) can prove itself
    * already-applied instead of re-clearing the table.
    */
  def mergeInit(spark: SparkSession, path: String, df: DataFrame,
                keys: Seq[String], applied: Set[String] = Set.empty): Unit = {
    require(keys.nonEmpty && keys.forall(statsColumns(df.schema).contains),
      s"mergeInit: keys ${keys.mkString(",")} must be top-level columns " +
        "of an atomic type in the frame")
    Manifest.init(spark, path, applied) {
      df.write.mode(SaveMode.Overwrite).parquet(s"$path/$MergeDataSub")
      mergeStatsFor(spark, path, dataFileNames(spark, path))
        .coalesce(1).write.mode(SaveMode.Append)
        .parquet(s"$path/$MergeStatsSub")
    }
  }

  /** The table's current (or `asOf`) committed rows. Footer schemas
    * are merged so a table that went through an additive MERGE
    * evolution ([[merge]]'s `evolve`) surfaces the union schema —
    * files written before the evolution read the new columns as NULL,
    * exactly like Delta after `autoMerge` widens a table.
    */
  def mergeRead(spark: SparkSession, path: String,
                asOf: Option[Int] = None): DataFrame =
    Manifest.read(spark, path, MergeDataSub, asOf, mergeSchema = true)

  /** Upsert `updates` into the table at `path` by `keys` (see section
    * comment for semantics and the two-stage file pruning). `shardId`
    * makes re-delivery a no-op through the manifest ledger. Returns
    * the [[MergeResult]] funnel; `applied = false` is the ledger
    * no-op (nothing was computed or written).
    *
    * `evolve = true` is Delta's
    * `spark.databricks.delta.schema.autoMerge` for MERGE (the setting
    * the reference enables, `process_silver.py:67`): updates may carry
    * ADDITIONAL columns, which widen the table atomically in the same
    * commit — rewritten survivors carry NULL for them, untouched files
    * keep their old footers and read as NULL through [[mergeRead]]'s
    * schema merge. Still refused either way: a missing target column
    * or a type change on a shared column (only ADDITIVE evolution is
    * sound — Delta refuses the same).
    */
  def merge(spark: SparkSession, path: String, updates: DataFrame,
            keys: Seq[String], shardId: Option[String] = None,
            retain: Int = 3, evolve: Boolean = false): MergeResult =
    upsertCore(spark, path, updates, None, keys, shardId, retain, evolve)

  /** Delta Live Tables' `APPLY CHANGES INTO`: one keyed change batch
    * with an operation column — rows whose `opCol` equals `deleteOp`
    * REMOVE their key, every other row upserts — applied as ONE atomic
    * generation (a CDC feed's delete and upsert halves never tear).
    * The batch must be key-unique across BOTH halves (one operation
    * per key per batch — resolve op precedence upstream). Same
    * two-stage file pruning as [[merge]]; `deleted` in the result
    * counts target rows actually removed.
    */
  def applyChanges(spark: SparkSession, path: String, changes: DataFrame,
                   keys: Seq[String], opCol: String, deleteOp: String = "D",
                   shardId: Option[String] = None,
                   retain: Int = 3): MergeResult = {
    require(changes.columns.contains(opCol),
      s"applyChanges: operation column $opCol missing from the batch")
    val ups = changes.filter(col(opCol) =!= deleteOp).drop(opCol)
    val delKeys = changes.filter(col(opCol) === deleteOp)
      .select(keys.map(col): _*).distinct()
    upsertCore(spark, path, ups, Some(delKeys), keys, shardId, retain)
  }

  /** Shared MERGE/APPLY-CHANGES core: upsert `updates` and (when
    * given) remove `delKeysOpt`'s keys, as one commit.
    */
  private def upsertCore(spark: SparkSession, path: String,
                         updatesIn: DataFrame, delKeysOpt: Option[DataFrame],
                         keys: Seq[String], shardId: Option[String],
                         retain: Int, evolve: Boolean = false): MergeResult = {
    val snap = Manifest.snapshot(spark, path)
    if (shardId.exists(snap.applied))
      return MergeResult(0, 0, 0, 0,
        snap.files.count(_.startsWith(s"$MergeDataSub/")), applied = false)
    // generated columns first: missing ones are computed (the shape
    // check below then sees the full schema), provided ones verified
    val updates = applyGenerated(spark, path, updatesIn)
    val target = mergeRead(spark, path)
    // names AND types: a name-only check would let an int32-keyed
    // update append files next to int64 ones — a commit that succeeds
    // and poisons every later read (Delta refuses up front; so do we).
    // With evolve, updates may carry EXTRA columns (the additive
    // widening); every target column must still be present and
    // type-identical — a dropped column or a type change is refused in
    // both modes, exactly Delta's autoMerge rules.
    def shape(df: DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).sortBy(_._1)
    if (!evolve)
      require(shape(updates).sameElements(shape(target)),
        s"merge: updates schema ${shape(updates).mkString(",")} != " +
          s"target ${shape(target).mkString(",")} (pass evolve = true to " +
          "widen the table with additional update columns)")
    else {
      val uTypes = updates.schema.fields.map(f => f.name -> f.dataType).toMap
      val missing = target.schema.fields.filterNot(f => uTypes.contains(f.name))
      require(missing.isEmpty,
        s"merge(evolve): updates are missing target column(s) " +
          s"${missing.map(_.name).mkString(",")} — evolution is additive " +
          "only; dropped columns are refused")
      val drifted = target.schema.fields
        .filter(f => uTypes(f.name) != f.dataType)
      require(drifted.isEmpty,
        s"merge(evolve): type change on shared column(s) " +
          drifted.map(f => s"${f.name}: ${f.dataType} -> ${uTypes(f.name)}")
            .mkString(",") + " — only additive evolution is sound")
    }
    // output schema: target's column order, plus (under evolve) the
    // new update columns appended — the widened table schema
    val outCols: Seq[String] =
      if (!evolve) target.columns.toSeq
      else target.columns.toSeq ++
        updates.columns.filterNot(target.columns.contains)
    require(keys.nonEmpty && keys.forall(updates.columns.contains),
      s"merge: keys ${keys.mkString(",")} must exist in updates")
    // pin the (possibly expensive, caller-derived) source plan: the
    // merge runs ~6 actions over it — counts, the key-range agg, the
    // touch test, the survivors anti-join, the write — and each would
    // otherwise recompute it from scratch (Delta materializes the
    // merge source for the same reason)
    updates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
    val nUpd = updates.count()
    val updKeys = updates.select(keys.map(col): _*).distinct()
    if (updKeys.count() != nUpd)
      throw new IllegalArgumentException(
        "merge: updates carry multiple rows for the same key — ambiguous " +
          "upsert (Delta's multiple-source-rows error); dedup the source first")
    // table-level CHECK constraints gate every incoming row BEFORE any
    // commit machinery starts — a refusal leaves the table untouched
    enforceConstraints(spark, path, updates, "merge")
    // ALL keys whose target rows leave their files: upserted + deleted.
    // A key in both halves is ambiguous (which op wins?) — refuse.
    val allKeys = delKeysOpt match {
      case None => updKeys
      case Some(d) =>
        if (updKeys.join(d, keys, "left_semi").count() > 0)
          throw new IllegalArgumentException(
            "applyChanges: a key carries both an upsert and a delete in one " +
              "batch — resolve operation precedence upstream")
        updKeys.unionByName(d).distinct()
    }
    val liveData = snap.files.filter(_.startsWith(s"$MergeDataSub/"))
    val liveStats = snap.files.filter(_.startsWith(s"$MergeStatsSub/"))
    // stage 1: candidates by stats-range overlap (driver state: two
    // scalars per key column + one boolean per live file)
    val rangeAggs = keys.flatMap(k => Seq(min(col(k)), max(col(k))))
    val rangeRow = allKeys.agg(rangeAggs.head, rangeAggs.tail: _*).head()
    val overlap = keys.zipWithIndex.map { case (k, i) =>
      val (lo, hi) = (rangeRow.get(2 * i), rangeRow.get(2 * i + 1))
      if (lo == null) lit(false)
      else !(col(s"max_$k") < lit(lo) || col(s"min_$k") > lit(hi))
    }.reduce(_ && _)
    val candNames = statsCovering(spark, path, liveData, None)
      .filter(overlap).select("file_name")
      .collect().map(_.getString(0)).toSet
    val candRel = liveData.filter(f => candNames.contains(f.split('/').last))
    // stage 2: exact touch test, column-pruned to the keys, candidate
    // files only
    val touchedNames: Set[String] =
      if (candRel.isEmpty) Set.empty
      else readData(spark, path, candRel)
        .select(col("_metadata.file_name").as("__file") +: keys.map(col): _*)
        .join(allKeys, keys, "left_semi")
        .select("__file").distinct()
        .collect().map(_.getString(0)).toSet
    val touchedRel = liveData.filter(f => touchedNames.contains(f.split('/').last))
    var matched = 0L
    var deleted = 0L
    Manifest.rewriteFiles(spark, path,
      drop = (touchedRel ++ liveStats).toSet, shardId, retain,
      baseGen = Some(snap.gen)) { stage =>
      val touchedRows =
        if (touchedRel.isEmpty) target.filter(lit(false))
        else readData(spark, path, touchedRel)
      matched = touchedRows.join(updKeys, keys, "left_semi").count()
      deleted = delKeysOpt.fold(0L)(d =>
        touchedRows.join(d, keys, "left_semi").count())
      val survivors = touchedRows.select(target.columns.map(col): _*)
        .join(allKeys, keys, "left_anti")
      // under evolve the survivors lack the new columns — unionByName
      // fills them with NULL, the Delta autoMerge widening
      survivors.unionByName(updates.select(outCols.map(col): _*),
          allowMissingColumns = evolve)
        .write.mode(SaveMode.Append).parquet(s"$stage/$MergeDataSub")
      stageStats(spark, path, stage, touchedNames)
    }
    MergeResult(matched, nUpd - matched, touchedRel.length,
      candRel.length, liveData.length, deleted, applied = true)
    } finally { updates.unpersist(); () }
  }

  /** The generation's stats frame, VERIFIED to cover every live data
    * file — the stage-1 pruning contract. Uncovered files would be
    * silently invisible to candidate selection (a pruned-away file
    * that actually holds matching keys = wrong answers), so any
    * coverage gap — e.g. someone ran raw [[Manifest.compactSub]] on
    * the data sub instead of [[mergeCompact]] — fails loudly here.
    */
  private[graft] def statsCovering(spark: SparkSession, path: String,
                            liveData: Seq[String],
                            asOf: Option[Int]): DataFrame = {
    val stats = Manifest.read(spark, path, MergeStatsSub, asOf)
    val covered = stats.select("file_name").collect().map(_.getString(0)).toSet
    val missing = liveData.map(_.split('/').last).filterNot(covered)
    require(missing.isEmpty,
      s"merge table at $path: stats do not cover ${missing.length} live data " +
        s"file(s) (e.g. ${missing.headOption.getOrElse("")}) — the table was " +
        "modified outside the merge/DML/mergeCompact surface; rebuild with " +
        "mergeInit or compact with mergeCompact")
    stats
  }

  /** `OPTIMIZE [ZORDER BY]` for a merge-managed table: rewrite the
    * data sub as ~`targetFileMB` files and regenerate the per-file
    * stats in the SAME commit (raw [[Manifest.compactSub]] would orphan
    * them; [[statsCovering]] refuses such a table). `clusterBy` lays
    * the rows out so each file owns a narrow band, which sharpens
    * [[mergeReadRange]] and [[merge]] stage-1 pruning:
    *  - one column: range-partitioned by it;
    *  - two or more (numeric) columns: range-partitioned and sorted by
    *    their Z-order (Morton) key ([[zValue]]), so every file covers
    *    a small hyper-rectangle and its min/max are NARROW on all the
    *    columns at once — what a sort on the first column alone cannot
    *    give the others. (A one-column Morton key is that column's
    *    quantile order, hence the plain range partitioning.)
    * Old files stay until their last referencing manifest retires, so
    * time travel and in-flight readers survive. Returns
    * (filesBefore, filesAfter).
    */
  def mergeCompact(spark: SparkSession, path: String,
                   targetFileMB: Int = 128,
                   clusterBy: Seq[String] = Seq.empty,
                   retain: Int = 3): (Int, Int) = {
    val snap = Manifest.snapshot(spark, path)
    val liveData = snap.files.filter(_.startsWith(s"$MergeDataSub/"))
    val liveStats = snap.files.filter(_.startsWith(s"$MergeStatsSub/"))
    if (liveData.isEmpty) return (0, 0)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val totalMB = math.max(liveData.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$f")).getLen)
      .sum / (1024.0 * 1024.0), 0.001)
    val nFiles = math.max(1, math.ceil(totalMB / targetFileMB).toInt)
    val df = mergeRead(spark, path)
    val shaped = clusterBy match {
      case Seq() => df.repartition(nFiles)
      case Seq(c) => df.repartitionByRange(nFiles, col(c))
      case cs =>
        val z = zValue(df, cs)
        df.repartitionByRange(nFiles, z).sortWithinPartitions(z)
    }
    var after = 0
    Manifest.rewriteFiles(spark, path,
      drop = (liveData ++ liveStats).toSet, retain = retain,
      baseGen = Some(snap.gen)) { stage =>
      shaped.write.mode(SaveMode.Append).parquet(s"$stage/$MergeDataSub")
      after = stageStats(spark, path, stage,
        dropped = liveData.map(_.split('/').last).toSet)
    }
    (liveData.length, after)
  }

  /** The Z-order (Morton) key of `cols` as one codegen'd column: per
    * column, `size(filter(boundaries, b -> b <= x))` ranks `x` into one
    * of 2^8 quantile buckets (boundaries are an array LITERAL — one
    * approx-quantile sketch pass over all columns is the only
    * driver-side data); the bucket bits then interleave, column `j`
    * owning bit positions `i*n + j`. Quantile buckets (not min/max
    * scaling) keep the curve balanced under skew. NULLs rank into
    * bucket 0 (they sort first, as in an ORDER BY).
    */
  private def zValue(df: DataFrame, cols: Seq[String]): Column = {
    val zBits = 8
    val n = cols.length
    // the interleaved key must fit a signed long (a shift past bit 62
    // would alias mod 64 and scramble the curve)
    require(zBits * n <= 62,
      s"mergeCompact: a Z-order over $n columns needs ${zBits * n} bits; " +
        "at most 7 cluster columns fit a long")
    val nBuckets = 1 << zBits
    val probs = (1 until nBuckets).map(_.toDouble / nBuckets).toArray
    val allBounds = df.stat.approxQuantile(cols.toArray, probs, 0.001)
    val buckets = cols.zip(allBounds).map { case (c, bs) =>
      val arr = array(bs.distinct.sorted.map(lit): _*)
      when(col(c).isNull, lit(0L))
        .otherwise(size(filter(arr, b => b <= col(c).cast("double"))).cast("long"))
    }
    val terms = for {
      i <- 0 until zBits
      (b, j) <- buckets.zipWithIndex
    } yield shiftleft(shiftright(b, i).bitwiseAND(1L), i * n + j)
    terms.reduce(_.bitwiseOR(_)).as("__zorder")
  }

  // ── CHECK constraints: Delta's `ALTER TABLE ADD CONSTRAINT` ──────
  //
  // Table-level invariants persisted WITH the table (a tiny
  // `constraints/` sub committed through the same manifest protocol,
  // so constraints version, time-travel, and restore exactly like
  // data) and enforced on every write path that can introduce rows or
  // values: merge / applyChanges upserts and updateWhere's SET
  // results. SQL CHECK semantics: a row violates only when the
  // expression evaluates to FALSE — NULL passes (Delta's rule too).
  // A violating batch refuses BEFORE any commit starts, so the table
  // is untouched — unlike mergeChecked's per-call expectations, these
  // are durable table properties every writer inherits.

  private val ConstraintSub = "constraints"

  /** Add (or replace by name) a CHECK constraint. The expression is a
    * SQL predicate over the table's columns, stored as text and
    * committed as its own manifest generation.
    */
  def addCheckConstraint(spark: SparkSession, path: String,
                         name: String, sqlExpr: String): Unit = {
    // Delta's ADD CONSTRAINT rule: existing rows must already satisfy
    // the new invariant (also catches unparseable/unresolvable
    // expressions up front — a broken constraint stored now would
    // brick every later merge)
    val existing = mergeRead(spark, path)
      .filter(coalesce(expr(sqlExpr), lit(true)) === false).count()
    require(existing == 0L,
      s"addCheckConstraint($name): $existing existing row(s) violate " +
        s"'$sqlExpr' — clean the table first (Delta refuses the same way)")
    val prev = checkConstraints(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    val next = (prev + (name -> sqlExpr)).toSeq
    replaceRules(spark, path, ConstraintSub, next)
  }

  /** Drop a CHECK constraint by name (no-op when absent). */
  def dropCheckConstraint(spark: SparkSession, path: String,
                          name: String): Unit = {
    val prev = checkConstraints(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    replaceRules(spark, path, ConstraintSub, (prev - name).toSeq)
  }

  // ── generated columns: Delta's GENERATED ALWAYS AS ───────────────
  //
  // A column whose value is DERIVED from other columns by a stored
  // expression: merge batches may omit it entirely (the table computes
  // it — the writer-ergonomics half), and when a batch does carry it,
  // every provided value must equal the expression (the integrity
  // half — Delta enforces generated columns exactly like invariants).
  // Rules ride the same manifest-committed storage as CHECK
  // constraints, so they version, time-travel and restore with the
  // data.

  private val GeneratedSub = "generated"

  /** Declare `name` as generated by `sqlExpr` (a SQL expression over
    * the OTHER columns). The column must already exist with values
    * consistent with the expression — like [[addCheckConstraint]],
    * retrofitting onto a divergent table is refused.
    */
  def addGeneratedColumn(spark: SparkSession, path: String,
                         name: String, sqlExpr: String): Unit = {
    val target = mergeRead(spark, path)
    require(target.columns.contains(name),
      s"addGeneratedColumn: column $name does not exist in the table at " +
        s"$path — generated columns derive an EXISTING column's values")
    val divergent = target.filter(!(col(name) <=> expr(sqlExpr))).count()
    require(divergent == 0L,
      s"addGeneratedColumn($name): $divergent existing row(s) diverge from " +
        s"'$sqlExpr' — clean the table first")
    val prev = generatedColumns(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    replaceRules(spark, path, GeneratedSub, (prev + (name -> sqlExpr)).toSeq)
  }

  /** Drop a generated-column rule by name (the column itself stays). */
  def dropGeneratedColumn(spark: SparkSession, path: String,
                          name: String): Unit = {
    val prev = generatedColumns(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1))).toMap
    replaceRules(spark, path, GeneratedSub, (prev - name).toSeq)
  }

  /** The table's generated-column rules as (name, expr). */
  def generatedColumns(spark: SparkSession, path: String,
                       asOf: Option[Int] = None): DataFrame =
    readRules(spark, path, GeneratedSub, asOf)

  /** Apply the table's generated-column rules to a merge batch:
    * missing generated columns are COMPUTED (appended; the merge's
    * shape check then sees the full schema), provided ones are
    * VERIFIED against their expressions (one conditional-count pass;
    * divergence refuses before any commit machinery starts).
    */
  private def applyGenerated(spark: SparkSession, path: String,
                             updates: DataFrame): DataFrame = {
    val rules = generatedColumns(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (rules.isEmpty) return updates
    val (provided, missing) = rules.partition {
      case (n, _) => updates.columns.contains(n)
    }
    if (provided.nonEmpty) {
      val aggs = provided.map { case (n, e) =>
        sum(when(!(col(n) <=> expr(e)), 1L).otherwise(0L)).as(n)
      }
      val row = updates.agg(aggs.head, aggs.tail: _*).head()
      val viol = provided.zipWithIndex
        .map { case ((n, e), i) =>
          (n, e, if (row.isNullAt(i)) 0L else row.getLong(i)) }
        .filter(_._3 > 0)
      if (viol.nonEmpty)
        throw new IllegalArgumentException(
          s"merge on $path: provided value(s) diverge from generated " +
            "column expression(s) " +
            viol.map { case (n, e, c) => s"$n ($e): $c row(s)" }
              .mkString("; ") + " — omit the column or match the expression")
    }
    missing.foldLeft(updates) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
  }

  /** Shared storage for table-level (name, expr) rule sets —
    * CHECK constraints and generated columns both ride it: a tiny
    * parquet under `path/<sub>/`, swapped whole as one manifest
    * generation, so rules version/time-travel/restore with the data.
    */
  private def replaceRules(spark: SparkSession, path: String, sub: String,
                           all: Seq[(String, String)]): Unit = {
    import spark.implicits._
    val snap = Manifest.snapshot(spark, path)
    val old = snap.files.filter(_.startsWith(s"$sub/")).toSet
    Manifest.rewriteFiles(spark, path, drop = old,
      baseGen = Some(snap.gen)) { stage =>
      if (all.nonEmpty)
        all.toDF("name", "expr").coalesce(1)
          .write.mode(SaveMode.Append).parquet(s"$stage/$sub")
    }
    ()
  }

  private def readRules(spark: SparkSession, path: String, sub: String,
                        asOf: Option[Int] = None): DataFrame = {
    import spark.implicits._
    val snap = Manifest.snapshot(spark, path, asOf)
    if (!snap.files.exists(_.startsWith(s"$sub/")))
      Seq.empty[(String, String)].toDF("name", "expr")
    else Manifest.read(spark, path, sub, asOf)
      .select(col("name"), col("expr"))
  }

  /** The table's CHECK constraints as (name, expr) — empty when none.
    * Generation-pinned like everything else (`asOf`).
    */
  def checkConstraints(spark: SparkSession, path: String,
                       asOf: Option[Int] = None): DataFrame =
    readRules(spark, path, ConstraintSub, asOf)

  /** Refuse `rows` when any CHECK constraint of the head generation
    * evaluates to FALSE on any row (one conditional-count aggregate
    * for ALL constraints — a single pass regardless of count).
    */
  private def enforceConstraints(spark: SparkSession, path: String,
                                 rows: DataFrame, what: String): Unit = {
    val cs = checkConstraints(spark, path).collect()
      .map(r => (r.getString(0), r.getString(1)))
    if (cs.isEmpty) return
    val aggs = cs.map { case (name, e) =>
      sum(when(coalesce(expr(e), lit(true)) === false, 1L).otherwise(0L)).as(name)
    }
    val row = rows.agg(aggs.head, aggs.tail: _*).head()
    val viol = cs.zipWithIndex
      .map { case ((name, e), i) =>
        (name, e, if (row.isNullAt(i)) 0L else row.getLong(i)) }
      .filter(_._3 > 0)
    if (viol.nonEmpty)
      throw new IllegalArgumentException(
        s"$what on $path violates CHECK constraint(s) " +
          viol.map { case (n, e, c) => s"$n ($e): $c row(s)" }.mkString("; ") +
          " — nothing was committed")
  }

  /** Auto-OPTIMIZE policy for streaming merge sinks: run
    * [[mergeCompact]] (key-clustered, so stage-1 stats pruning stays
    * sharp) when the table's live data file count exceeds `maxFiles`.
    * A merge sink commits one generation per micro-batch and each
    * generation adds files; without a compaction policy the file count
    * — and with it every later merge's stats scan and candidate set —
    * grows without bound. Delta pairs its streaming MERGE recipe with
    * auto-optimize for the same reason. Cheap when below threshold
    * (one driver-side snapshot read); returns true when a compaction
    * ran.
    */
  def mergeAutoCompact(spark: SparkSession, path: String, keys: Seq[String],
                       maxFiles: Int, targetFileMB: Int = 128,
                       retain: Int = 3): Boolean = {
    require(maxFiles >= 1, s"mergeAutoCompact: maxFiles must be >= 1")
    val live = Manifest.snapshot(spark, path).files
      .count(_.startsWith(s"$MergeDataSub/"))
    if (live <= maxFiles) false
    else {
      mergeCompact(spark, path, targetFileMB, clusterBy = keys, retain = retain)
      true
    }
  }

  /** The merge table as a streamed [[ShardedStore]] — Delta's streaming
    * MERGE sink (`foreachBatch` + `MERGE INTO`, the canonical
    * CDC-upsert recipe) on the plain-parquet merge table: batch 0
    * initializes the table (range-laid-out by key so later merges can
    * stats-prune files) with its batch id ledgered, every later batch
    * upserts its rows with a ledgered [[merge]].
    *
    * Each batch is first resolved to its latest row per key, ordered by
    * `latestBy` descending (merge requires key-unique sources); with a
    * chronological replay later batches then overwrite earlier ones, so
    * the final table is exactly the global latest-row-per-key of the
    * input. The per-batch dedup window partitions by key (never a
    * global one-task window). With `opCol` the batches are change sets
    * ([[applyChanges]]): a key whose latest change is `deleteOp` is
    * removed, and one whose latest batch-0 change is a delete starts
    * absent.
    *
    * Compaction is the [[mergeAutoCompact]] policy: one generation
    * lands per batch, and without it the live file count — and every
    * later merge's stats scan — grows without bound.
    */
  def mergeStore(path: String, keys: Seq[String], latestBy: Seq[String],
                 opCol: Option[String] = None,
                 deleteOp: String = "D"): ShardedStore = {
    def latest(batch: DataFrame): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*).orderBy(latestBy.map(col(_).desc): _*)
      batch.withColumn("__rn", row_number().over(w))
        .filter(col("__rn") === 1).drop("__rn")
    }
    ShardedStore(path,
      init = { (batch, applied) =>
        val live = opCol.fold(latest(batch))(op =>
          latest(batch).filter(col(op) =!= deleteOp).drop(op))
        mergeInit(batch.sparkSession, path,
          live.repartitionByRange(4, keys.map(col): _*), keys, applied)
      },
      append = (batch, shardId) => opCol match {
        case None =>
          merge(batch.sparkSession, path, latest(batch), keys, shardId)
        case Some(op) =>
          // latest-per-key resolution guarantees one operation per key
          // per batch — applyChanges' contract
          applyChanges(batch.sparkSession, path, latest(batch), keys, op,
            deleteOp, shardId = shardId)
      },
      compact = mergeAutoCompact(_, path, keys, _))
  }

  /** [[mergeRead]] restricted to `lo <= column <= hi`, pruning whole
    * files through the stats committed WITH the generation — Delta
    * data skipping on the READ path, with no stale-stats window by
    * construction (the manifest commit is the stats rebuild). Any
    * top-level atomic column works, not just the merge keys. Files
    * whose `[min, max]` range misses the bounds are never opened, nor
    * are files whose `column` is all NULL (their stats are NULL); the
    * residual predicate still applies row-level.
    */
  def mergeReadRange(spark: SparkSession, path: String, column: String,
                     lo: Column, hi: Column,
                     asOf: Option[Int] = None): DataFrame = {
    val snap = Manifest.snapshot(spark, path, asOf)
    val liveData = snap.files.filter(_.startsWith(s"$MergeDataSub/"))
    val stats = statsCovering(spark, path, liveData, asOf)
    require(stats.columns.contains(s"min_$column"),
      s"mergeReadRange: no per-file stats on $column at $path (stats " +
        "cover top-level columns of an atomic type)")
    val keep = !(col(s"max_$column") < lo || col(s"min_$column") > hi)
    val candNames = stats.filter(keep).select("file_name")
      .collect().map(_.getString(0)).toSet
    val cand = liveData.filter(f => candNames.contains(f.split('/').last))
    val pred = col(column) >= lo && col(column) <= hi
    if (cand.isEmpty) mergeRead(spark, path, asOf).filter(pred).filter(lit(false))
    else readData(spark, path, cand).filter(pred)
  }

  /** Change data feed between two generations of a merge-managed
    * table (Delta `table_changes` on the DML surface): one row per key
    * whose row changed between `fromGen` and `toGen` (head when None),
    * typed `insert` / `update` / `delete`, with full before/after
    * images. A full-outer key join of two generation-pinned reads —
    * both sides prune columns and the join shuffles by key once.
    */
  def mergeChanges(spark: SparkSession, path: String, keys: Seq[String],
                   fromGen: Int, toGen: Option[Int] = None): DataFrame = {
    val head = mergeRead(spark, path)
    val valueCols = head.columns.filterNot(keys.contains).toSeq
    val headTypes = head.schema.fields.map(f => f.name -> f.dataType).toMap
    // a generation PRE-dating an additive evolution lacks the newer
    // columns entirely (none of its files carry them) — surface them
    // as typed NULLs so the before/after comparison stays well-formed
    def side(g: Option[Int], p: String) = {
      val df = mergeRead(spark, path, g)
      val have = df.columns.toSet
      df.select(keys.map(col) ++ valueCols.map { c =>
        (if (have(c)) col(c) else lit(null).cast(headTypes(c))).as(s"${p}_$c")
      }: _*)
    }
    val joined = side(Some(fromGen), "before")
      .withColumn("__in_before", lit(true))
      .join(side(toGen, "after").withColumn("__in_after", lit(true)),
        keys, "full_outer")
    val changed = valueCols.map(c =>
      not(col(s"before_$c") <=> col(s"after_$c"))).reduce(_ || _)
    joined.withColumn("change_type",
        when(col("__in_before").isNull, lit("insert"))
          .when(col("__in_after").isNull, lit("delete"))
          .when(changed, lit("update")))
      .filter(col("change_type").isNotNull)
      .drop("__in_before", "__in_after")
  }

  /** Expectations-gated upsert — the write-audit-publish pattern (DLT
    * expectations / Delta WAP): every `checks` predicate must hold on
    * EVERY update row, or nothing publishes. Returns `Left(report)` —
    * one `(constraint, violations)` row per failed check, the
    * [[graft.operators.Expectations]] shape — with the table untouched
    * (readers keep the current generation; there is no partial state
    * to clean up because no commit ever started), or `Right(result)`
    * of the applied [[merge]]. The audit is one conditional-count agg
    * over the batch.
    */
  def mergeChecked(spark: SparkSession, path: String, updates: DataFrame,
                   keys: Seq[String], checks: Seq[(String, Column)],
                   shardId: Option[String] = None,
                   retain: Int = 3): Either[DataFrame, MergeResult] = {
    require(checks.nonEmpty, "mergeChecked: no expectations given")
    import spark.implicits._
    val aggs = checks.map { case (name, pred) =>
      sum(when(!coalesce(pred, lit(false)), 1L).otherwise(0L)).as(name)
    }
    val row = updates.agg(aggs.head, aggs.tail: _*).head()
    val report = checks.zipWithIndex.map { case ((name, _), i) =>
      (name, if (row.isNullAt(i)) 0L else row.getLong(i))
    }.filter(_._2 > 0)
    if (report.nonEmpty) Left(report.toDF("constraint", "violations"))
    else Right(merge(spark, path, updates, keys, shardId, retain))
  }

  // ── DELETE / UPDATE WHERE: the rest of the Delta DML triad ────────
  //
  // Same execution shape as [[merge]]: find the files that contain any
  // predicate-matching row (a column-pruned scan — only the predicate's
  // columns are read), rewrite ONLY those (dropping or transforming the
  // matching rows), commit atomically as one manifest generation with
  // regenerated stats for the fresh files. Untouched files — at 100 TB,
  // almost all of them for a selective predicate — never rewrite.

  /** Outcome of one [[deleteWhere]]/[[updateWhere]]: affected row
    * count and the file funnel.
    */
  case class DmlResult(affected: Long, filesRewritten: Int, filesLive: Int,
                       applied: Boolean)

  /** Delete every row matching `predicate` from the merge-managed
    * table at `path` (Delta `DELETE FROM ... WHERE`).
    */
  def deleteWhere(spark: SparkSession, path: String, predicate: Column,
                  shardId: Option[String] = None,
                  retain: Int = 3): DmlResult =
    // enforce = false: removing rows cannot violate a row-level CHECK
    dmlRewrite(spark, path, predicate, shardId, retain,
      enforce = false)(
      touched => touched.filter(!coalesce(predicate, lit(false))))

  /** Update `set` columns on every row matching `predicate` (Delta
    * `UPDATE ... SET ... WHERE`); non-matching rows in touched files
    * are rewritten byte-identical, untouched files not at all.
    */
  def updateWhere(spark: SparkSession, path: String, predicate: Column,
                  set: Map[String, Column],
                  shardId: Option[String] = None,
                  retain: Int = 3): DmlResult = {
    // type-check every SET expression against the target schema BEFORE
    // any rewrite: a drifted value type (lit("x") into a long column)
    // would rewrite touched files with a different column type next to
    // untouched originals and commit atomically — poisoning every
    // later multi-file read. Same fail-up-front rule merge's shape
    // check enforces (and Delta's UPDATE resolution enforces).
    val target = mergeRead(spark, path)
    set.foreach { case (c, v) =>
      val tf = target.schema.fields.find(_.name == c).getOrElse(
        throw new IllegalArgumentException(
          s"updateWhere: SET column $c does not exist in the table at $path"))
      val vt = target.select(v.as(c)).schema.head.dataType
      require(vt == tf.dataType,
        s"updateWhere: SET $c = <expr of type $vt> does not match the " +
          s"target column's type ${tf.dataType} — cast explicitly (a " +
          "type-drifted rewrite would poison later multi-file reads)")
    }
    val cond = coalesce(predicate, lit(false))
    dmlRewrite(spark, path, predicate, shardId, retain,
      enforce = true)(touched =>
      touched.select(touched.columns.map { c =>
        set.get(c).map(v => when(cond, v).otherwise(col(c)).as(c))
          .getOrElse(col(c))
      }: _*))
  }

  /** Shared DELETE/UPDATE core: `transform` maps the touched files'
    * rows to their rewritten form.
    */
  private def dmlRewrite(spark: SparkSession, path: String,
                         predicate: Column,
                         shardId: Option[String], retain: Int,
                         enforce: Boolean = false)
                        (transform: DataFrame => DataFrame): DmlResult = {
    val snap = Manifest.snapshot(spark, path)
    if (shardId.exists(snap.applied))
      return DmlResult(0, 0,
        snap.files.count(_.startsWith(s"$MergeDataSub/")), applied = false)
    val liveData = snap.files.filter(_.startsWith(s"$MergeDataSub/"))
    val liveStats = snap.files.filter(_.startsWith(s"$MergeStatsSub/"))
    // touched files: any predicate-matching row (scan reads only the
    // predicate's columns + the file name)
    val touchedNames: Set[String] =
      if (liveData.isEmpty) Set.empty
      else readData(spark, path, liveData).filter(predicate)
        .select(col("_metadata.file_name").as("__file")).distinct()
        .collect().map(_.getString(0)).toSet
    val touchedRel = liveData.filter(f => touchedNames.contains(f.split('/').last))
    var affected = 0L
    Manifest.rewriteFiles(spark, path,
      drop = (touchedRel ++ liveStats).toSet, shardId, retain,
      baseGen = Some(snap.gen)) { stage =>
      val target = mergeRead(spark, path)
      val touchedRows =
        if (touchedRel.isEmpty) target.filter(lit(false))
        else readData(spark, path, touchedRel)
      affected = touchedRows.filter(predicate).count()
      val out = transform(touchedRows.select(target.columns.map(col): _*))
      // CHECK constraints gate the SET results pre-commit: throwing
      // here aborts before any staged file publishes
      if (enforce) enforceConstraints(spark, path, out, "updateWhere")
      out.write.mode(SaveMode.Append).parquet(s"$stage/$MergeDataSub")
      stageStats(spark, path, stage, touchedNames)
    }
    DmlResult(affected, touchedRel.length, liveData.length, applied = true)
  }
}
