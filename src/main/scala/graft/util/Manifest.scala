package graft.util

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}

/** Generation-manifest commit protocol for persisted stores — the
  * plain-parquet analog of Delta's `_delta_log` (reference
  * `data/delta/bronze/_delta_log/00000000000000000000.json`) for ANY
  * store layout, so the candle / ANN / near-dup / vocab / NB /
  * heavy-hitter / quantile / moment stores and the merge table share
  * one durability story.
  *
  * Layout under a store root `path`:
  *  - data files wherever the store writes them (`path/vocab/`,
  *    `path/codes/cell=N/`, ... — the protocol does not care);
  *  - `_meta/manifest-N/`: a tiny parquet table (one coalesced file)
  *    listing every LIVE data file (root-relative) plus the applied
  *    shard-id ledger. Publication is an atomic rename of a fully
  *    written staging directory — a reader never sees a half-written
  *    manifest, and a second writer racing for the same slot FAILS
  *    (see the concurrency contract below).
  *
  * The newest committed manifest IS the store state. That buys, for
  * every store routed through here:
  *  - **atomic visibility / snapshot isolation** — readers resolve the
  *    live file SET through one committed manifest, so a reader racing
  *    an extend sees the old generation in full, never a torn mix of
  *    half-appended shard files (`spark.read.parquet(dir)` on an
  *    append-in-progress directory has no such guarantee);
  *  - **crash safety** — a crash mid-extend leaves data files no
  *    manifest references; readers never see them, and the blind retry
  *    (same shard id) writes fresh uniquely-named files and commits a
  *    manifest referencing only those — a mid-write crash never
  *    leaves partial shard rows that a retry would double;
  *  - **idempotent re-delivery** — the shard ledger rides inside the
  *    manifest (the Delta `txn` action), committed atomically WITH the
  *    files it covers: there is no state where data landed but the
  *    ledger missed it or vice versa;
  *  - **time travel** — every retained generation stays resolvable
  *    (`asOf`), the `VERSION AS OF` analog, for free from the layout.
  *
  * ## Concurrency contract — optimistic, Delta's serialized commits
  *
  * Commits are OPTIMISTIC and SERIALIZED, the `_delta_log` guarantee:
  * generation `n+1` is claimed by atomically renaming a fully staged
  * manifest into the `manifest-(n+1)` slot (rename-if-absent — the
  * recipe Delta's HDFS LogStore uses for its versioned commit files).
  * Two writers racing the same slot cannot both win: the loser's
  * rename fails, it re-reads the new head, and either REBASES (commits
  * its work against the new state at the next slot) or REFUSES with
  * `java.util.ConcurrentModificationException` when the competitor
  * invalidated what it read — per-operation rules:
  *
  *  - [[extend]] (append-only, Delta's blind-append class): always
  *    rebases — new files and the shard-ledger entry are re-committed
  *    on top of the competitor's head; a competitor that applied the
  *    SAME shard id turns the rebase into the ledger no-op.
  *  - [[replace]] rebases when the competitor left `dropSub` alone
  *    (e.g. it extended a different artifact of the same store) and
  *    refuses when `dropSub`'s committed file set changed — the
  *    replacement was computed from a state that no longer exists.
  *  - [[rewriteFiles]] (the MERGE/DELETE/UPDATE primitive — these read
  *    the whole table before rewriting part of it) is Serializable-
  *    conservative, like Delta's conflict checker for read-write
  *    transactions: ANY committed change to the live file set since
  *    the base snapshot refuses. The caller re-runs the whole
  *    operation against the new head (Delta surfaces the same
  *    `ConcurrentModificationException` family to its callers).
  *  - [[compactSub]] re-runs itself internally on a lost race (pure
  *    maintenance — re-running is always safe); [[restore]] re-lands
  *    its target file list on the new head.
  *  - [[init]] is table CREATION and stays single-writer: it clears
  *    the store root; racing inits are a caller bug and surface as a
  *    conflict on the generation-0 slot.
  *
  * A staged transaction (replace / rewrite / compact) that does NOT
  * commit — refusal, rebase-discovered ledger no-op, or throw —
  * deletes its own published files before returning; an extend's
  * lost-race files (written in place) stay unreferenced, invisible to
  * every reader, and are reclaimed by [[vacuum]]. Bounded retries
  * (20) guard against livelock; exhaustion throws
  * `ConcurrentModificationException`.
  *
  * Attribution scope: [[replace]], [[rewriteFiles]] and
  * [[compactSub]] — the ops where mis-attribution would corrupt (a
  * rewrite adopting a concurrent writer's in-flight files resurrects
  * dropped rows) — stage their writes under a transaction-scoped
  * dot-dir and commit EXACTLY the files they move into place, Delta's
  * committer-reports-its-adds rule; their publish window is bracketed
  * by an intent marker so [[extend]]'s listing diff can never adopt a
  * rewrite's in-flight files, and a non-committing staged transaction
  * removes its own moved files (with an existence backstop at
  * extend's commit against the brief ghost window). [[extend]] keeps
  * the cheaper listing-diff discovery (its many per-store write
  * callbacks append in place), with the corresponding caveat: two
  * EXTENDS whose data writes overlap in time on the SAME store can
  * momentarily see each other's uncommitted files — committed
  * competitors are deduplicated at rebase (file lists are
  * set-unioned, and for an append-only store a row's early adoption
  * is harmless), leaving one residue (an extend that CRASHES
  * mid-write while an overlapping extend commits may get its partial
  * files adopted early), plus the Spark-side constraint that
  * overlapping jobs must not share one target directory (Spark's
  * default FileOutputCommitter stages all tasks under a single
  * `_temporary/` there). In practice each store has one maintenance
  * stream, so extends on one store are already serialized; extend-vs-
  * rewrite and all DML concurrency are exact. Storage: the
  * rename-if-absent commit is atomic on HDFS and posix-`file://` (the
  * `FileContext` API — Delta's HDFSLogStore contract); S3-class object
  * stores need a conditional-put LogStore, exactly as Delta documents
  * for its own log.
  *
  * Readers are unrestricted and never block.
  *
  * Scale notes: a manifest holds one short string per live data file —
  * the cardinality any parquet reader's file index already handles —
  * and commits are one coalesced tiny file. New-file discovery is a
  * listing diff around the write callback, O(store files) per extend.
  */
object Manifest {

  /** A committed store generation: number, live data files
    * (root-relative, sorted), applied shard ids.
    */
  case class Snapshot(gen: Int, files: Seq[String], applied: Set[String])

  /** Bounded optimism: a writer that loses this many commit races in
    * a row throws rather than livelock.
    */
  private val MaxCommitAttempts = 20

  /** Per-store serialization of extend WRITE WINDOWS (in-process):
    * two extends appending to the same store concurrently would (a)
    * share Spark's FileOutputCommitter `_temporary/` staging — unsafe
    * in vanilla Spark regardless of any commit protocol — and (b)
    * blur the listing-diff attribution (each could adopt the other's
    * in-flight files; for the SAME re-delivered shard id that would
    * double the shard's rows past the ledger). Only the data-write
    * window serializes; snapshots, commits, and their races stay fully
    * optimistic and are what the OCC machinery arbitrates.
    * Cross-process extends on one store remain subject to the
    * documented caveat (each store has one maintenance stream in
    * practice).
    */
  private val extendWriteLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  private def metaPath(path: String) = s"$path/_meta"

  private def fsOf(spark: SparkSession, p: String): org.apache.hadoop.fs.FileSystem =
    new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Generation numbers of every COMMITTED manifest (`_SUCCESS`
    * present), ascending — the store's time-travel points.
    */
  def generations(spark: SparkSession, path: String): Seq[Int] = {
    val fs = fsOf(spark, path)
    val mp = new org.apache.hadoop.fs.Path(metaPath(path))
    if (!fs.exists(mp)) Seq.empty
    else fs.listStatus(mp)
      .filter(_.isDirectory).map(_.getPath)
      .filter(p => p.getName.startsWith("manifest-") &&
        fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      .map(_.getName.stripPrefix("manifest-").toInt)
      .sorted.toSeq
  }

  /** True when `path` carries at least one committed manifest — the
    * marker distinguishing a manifest-managed store from a bare
    * directory.
    */
  def isManaged(spark: SparkSession, path: String): Boolean =
    generations(spark, path).nonEmpty

  /** Resolve one committed generation — the newest when `asOf` is
    * None. Driver-side: one listing plus one tiny parquet read.
    */
  def snapshot(spark: SparkSession, path: String,
               asOf: Option[Int] = None): Snapshot = {
    val gens = generations(spark, path)
    require(gens.nonEmpty, s"no committed manifest under $path")
    val n = asOf match {
      case None => gens.max
      case Some(g) =>
        require(gens.contains(g),
          s"store generation $g not retained under $path " +
            s"(available: ${gens.mkString(",")})")
        g
    }
    val rows = spark.read.parquet(s"${metaPath(path)}/manifest-$n").collect()
    Snapshot(n,
      rows.filter(!_.isNullAt(0)).map(_.getString(0)).sorted.toSeq,
      rows.filter(_.isNullAt(0)).map(_.getString(1)).toSet)
  }

  /** Shard ids already committed (empty when the store has no
    * manifest yet).
    */
  def applied(spark: SparkSession, path: String): Set[String] =
    if (!isManaged(spark, path)) Set.empty
    else snapshot(spark, path).applied

  /** Stage manifest `n`'s parquet under a writer-unique name, then
    * atomically claim the `manifest-n` slot by rename-if-absent
    * (`FileContext.rename` with the default `Rename.NONE` semantics —
    * the Delta HDFSLogStore commit recipe). Returns false when a
    * competitor holds the slot (the staged dir is cleaned up);
    * rename is the single commit point, so readers only ever see a
    * fully written manifest (its `_SUCCESS` rides along).
    */
  private def tryCommit(spark: SparkSession, path: String, n: Int,
                        files: Seq[String], applied: Set[String]): Boolean = {
    import spark.implicits._
    val rows = files.distinct.sorted
      .map(f => (Option(f), Option.empty[String])) ++
      applied.toSeq.map(s => (Option.empty[String], Option(s)))
    val stage = s"${metaPath(path)}/stage-${java.util.UUID.randomUUID}"
    rows.toDF("file", "shard_id")
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .parquet(stage)
    val fs = fsOf(spark, path)
    val src = new org.apache.hadoop.fs.Path(stage)
    val dst = new org.apache.hadoop.fs.Path(s"${metaPath(path)}/manifest-$n")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      fs.getUri, spark.sparkContext.hadoopConfiguration)
    try { fc.rename(src, dst); true }
    catch {
      case e: java.io.IOException =>
        // FileAlreadyExistsException from the existence check, or the
        // raw rename refusing an existing non-empty destination (the
        // check-then-rename race's loser): if the slot is now held,
        // this is a detected conflict, not an error
        if (fs.exists(dst)) { fs.delete(src, true); false }
        else throw e
    }
  }

  /** Optimistic commit loop: attempt slots `head+1`, re-reading the
    * head after every lost race. `attempt` maps the current head to
    * the (files, applied) to commit — returning None abandons (the
    * post-race ledger no-op), throwing refuses (semantic conflict).
    * Returns the committed generation, None when abandoned.
    */
  private def commitLoop(spark: SparkSession, path: String, what: String)
                        (first: Snapshot)
                        (attempt: Snapshot => Option[(Seq[String], Set[String])])
      : Option[Int] = {
    var prev = first
    var tries = 0
    while (tries < MaxCommitAttempts) {
      tries += 1
      attempt(prev) match {
        case None => return None
        case Some((files, applied)) =>
          val n = prev.gen + 1
          if (tryCommit(spark, path, n, files, applied)) return Some(n)
      }
      prev = snapshot(spark, path)
    }
    throw new java.util.ConcurrentModificationException(
      s"$what on $path lost $MaxCommitAttempts commit races in a row — " +
        "writer contention is beyond optimistic-retry range")
  }

  /** Root-relative paths of every visible data file under `path`
    * (dot/underscore names are metadata — the `_meta` tree and any
    * `_SUCCESS`/`.crc` droppings are never data). Hadoop FS API, so the
    * protocol is storage-agnostic (local now, HDFS/object store on a
    * cluster).
    */
  private def listData(spark: SparkSession, path: String): Set[String] = {
    val fs = fsOf(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    if (!fs.exists(root)) return Set.empty
    def walk(dir: org.apache.hadoop.fs.Path, prefix: String): Seq[String] = {
      val kids = fs.listStatus(dir)
        .filter(s => !s.getPath.getName.startsWith(".") &&
          !s.getPath.getName.startsWith("_"))
      kids.filter(_.isFile).map(s => s"$prefix${s.getPath.getName}").toSeq ++
        kids.filter(_.isDirectory)
          .flatMap(s => walk(s.getPath, s"$prefix${s.getPath.getName}/"))
    }
    walk(root, "").toSet
  }

  /** Publish a staged transaction: move every staged data file from
    * `stage` into `path` (relative layout preserved — a write to
    * `<stage>/data/k=v/part-x` lands at `<path>/data/k=v/part-x`;
    * parquet part names are writer-unique, so moves never collide and
    * renames are metadata ops), hand the moved files' root-relative
    * paths — the transaction's EXACT adds — to `use` (the commit
    * loop), and clean up by outcome: a transaction that does NOT
    * commit (lost-race refusal, ledger no-op discovered at rebase, or
    * any throw) deletes its own moved files before returning, leaving
    * no orphans for readers or vacuum.
    *
    * The whole window is bracketed by an INTENT marker
    * (`_meta/intent-<uuid>`, listing the staged paths, written before
    * the first move and removed after the files' fate is settled):
    * [[extend]]'s listing-diff discovery subtracts every
    * intent-listed path, so a concurrent extend can never adopt a
    * staged transaction's in-flight files — the one mis-attribution
    * the dot-dir staging alone could not prevent (the moves must land
    * in the visible layout before the commit that references them).
    */
  private def publishStaged[A](spark: SparkSession, path: String,
                               stage: String)
                              (use: Seq[String] => Option[A]): Option[A] = {
    val fs = fsOf(spark, path)
    val staged = listData(spark, stage).toSeq.sorted
    val intent = new org.apache.hadoop.fs.Path(
      s"${metaPath(path)}/intent-${java.util.UUID.randomUUID}")
    val out = fs.create(intent, true)
    try out.write(staged.mkString("\n").getBytes("UTF-8")) finally out.close()
    try {
      var committed = false
      try {
        staged.foreach { rel =>
          val dst = new org.apache.hadoop.fs.Path(s"$path/$rel")
          fs.mkdirs(dst.getParent)
          if (!fs.rename(new org.apache.hadoop.fs.Path(s"$stage/$rel"), dst))
            throw new java.io.IOException(
              s"failed to publish staged file $rel from $stage into $path")
        }
        fs.delete(new org.apache.hadoop.fs.Path(stage), true)
        val result = use(staged)
        committed = result.isDefined
        result
      } finally {
        if (!committed)
          staged.foreach { rel =>
            fs.delete(new org.apache.hadoop.fs.Path(s"$path/$rel"), false); ()
          }
      }
    } finally { fs.delete(intent, false); () }
  }

  /** Root-relative paths currently claimed by in-flight staged
    * transactions (their intent markers) — the set [[extend]]'s
    * listing diff must never adopt.
    */
  private def intentFiles(spark: SparkSession, path: String): Set[String] = {
    val fs = fsOf(spark, path)
    val mp = new org.apache.hadoop.fs.Path(metaPath(path))
    if (!fs.exists(mp)) return Set.empty
    fs.listStatus(mp).map(_.getPath)
      .filter(_.getName.startsWith("intent-"))
      .flatMap { p =>
        try {
          val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
          val in = fs.open(p)
          try in.readFully(buf) finally in.close()
          new String(buf, "UTF-8").split("\n").filter(_.nonEmpty)
        } catch { case _: java.io.IOException => Array.empty[String] }
      }.toSet
  }

  /** Initialize the store: clear any previous epoch entirely (a
    * surviving higher-numbered manifest or stale ledger would shadow
    * the rebuild), run
    * `write` (the store's Overwrite-mode artifact writes), and commit
    * everything it produced as generation 0 with `applied` as the
    * ledger (normally empty; a replayed-stream build passes its batch
    * id so a later resume can prove the build already happened).
    * Table creation is single-writer: a racing init (both clear, both
    * claim slot 0) is a caller bug and surfaces as a conflict.
    */
  def init(spark: SparkSession, path: String,
           applied: Set[String] = Set.empty)(write: => Unit): Unit = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(p)) { fs.delete(p, true); () }
    write
    if (!tryCommit(spark, path, 0, listData(spark, path).toSeq.sorted, applied))
      throw new java.util.ConcurrentModificationException(
        s"init on $path raced another writer for generation 0 — table " +
          "creation is single-writer; serialize store builds")
  }

  /** Fold one shard in: skip entirely when `shardId` is already in the
    * ledger (re-delivery no-op — `write` never runs), otherwise run
    * `write` (the store's Append-mode shard writes), diff the listing,
    * and commit generation `head+1` = head files + the new ones +
    * the shard id, then retire generations beyond `retain`.
    *
    * Append-only, so a lost commit race REBASES: the same new files
    * and ledger entry commit on top of the competitor's head (file
    * lists union — a competitor that raced ahead never loses its
    * generation, and neither do we). A competitor that applied the
    * SAME shard id turns the retry into the ledger no-op (this
    * writer's files stay unreferenced — [[vacuum]] food).
    *
    * A shard whose `write` produces NO files still commits (the ledger
    * must record it — empty micro-batches are normal in streaming
    * maintenance). Data files a crashed previous attempt orphaned are
    * in the before-listing, so they are never adopted into a manifest;
    * [[vacuum]] reclaims them.
    *
    * Returns true when the shard was applied, false on the no-op.
    */
  def extend(spark: SparkSession, path: String,
             shardId: Option[String] = None, retain: Int = 3)
            (write: => Unit): Boolean = {
    require(retain >= 2,
      "retain must be >= 2 (current + the in-flight-reader grace generation)")
    val base = snapshot(spark, path)
    if (shardId.exists(base.applied)) return false
    val fresh0 = extendWriteLocks
      .computeIfAbsent(path, _ => new Object).synchronized {
      val before = listData(spark, path)
      write
      // subtract staged transactions' in-flight moves (intent markers,
      // read AFTER the listing so any move the listing saw has a
      // marker up) — a listing diff must never adopt a concurrent
      // rewrite's files
      (listData(spark, path) -- before -- intentFiles(spark, path))
        .toSeq.sorted
    }
    val fs = fsOf(spark, path)
    val n = commitLoop(spark, path, "extend")(base) { prev =>
      if (shardId.exists(prev.applied)) None
      else {
        // existence backstop: a concurrently-failed transaction may
        // have removed files the listing briefly saw — never commit a
        // reference to a ghost
        val fresh = fresh0.filter(f =>
          fs.exists(new org.apache.hadoop.fs.Path(s"$path/$f")))
        Some(((prev.files ++ fresh).distinct.sorted, prev.applied ++ shardId))
      }
    }
    n.foreach(g => retire(spark, path, g, retain))
    n.isDefined
  }

  /** [[extend]] for stores that REWRITE an artifact instead of
    * appending to it (e.g. a relabeled component table): the commit
    * carries forward every previous file EXCEPT those under
    * `dropSub/`, plus whatever `write` produced — which must land in a
    * fresh version directory under `dropSub/` (never Overwrite the old
    * files; retained generations still reference them, and [[retire]]
    * deletes them only once no retained manifest does). Replaces the
    * rename-swap idiom and its reader-facing PATH_NOT_FOUND window:
    * readers resolve old or new atomically, never an absent table.
    *
    * Conflict rule: a lost commit race rebases when the competitor
    * left `dropSub`'s committed file set unchanged (it extended some
    * OTHER artifact of the store), and throws
    * `java.util.ConcurrentModificationException` when it did not —
    * the replacement was computed from a `dropSub` state that no
    * longer exists, so only a caller-level re-run is sound.
    *
    * Adds are EXACT, as in [[rewriteFiles]]: `write` receives a
    * transaction-scoped staging root and writes the replacement
    * version dir under it with the final relative layout (e.g.
    * `<stage>/labels/lv=3/...`); the protocol moves the files into
    * place and commits precisely those — a replace can never adopt a
    * concurrent writer's in-flight files.
    */
  def replace(spark: SparkSession, path: String, dropSub: String,
              shardId: Option[String] = None, retain: Int = 3)
             (write: String => Unit): Boolean = {
    require(retain >= 2,
      "retain must be >= 2 (current + the in-flight-reader grace generation)")
    val base = snapshot(spark, path)
    if (shardId.exists(base.applied)) return false
    val prefix = s"$dropSub/"
    val baseSub = base.files.filter(_.startsWith(prefix)).toSet
    val stage = s"$path/.txn-${java.util.UUID.randomUUID}"
    write(stage)
    val n = publishStaged(spark, path, stage) { fresh =>
      val freshSet = fresh.toSet
      commitLoop(spark, path, s"replace($dropSub)")(base) { prev =>
        if (shardId.exists(prev.applied)) None
        else {
          val prevSub = prev.files
            .filter(f => f.startsWith(prefix) && !freshSet.contains(f)).toSet
          if (prev.gen != base.gen && prevSub != baseSub)
            throw new java.util.ConcurrentModificationException(
              s"replace($dropSub) on $path: a concurrent commit changed " +
                s"$dropSub/ between the base snapshot (gen ${base.gen}) and " +
                s"the head (gen ${prev.gen}); re-run the replacement against " +
                "the new state")
          val kept = prev.files.filterNot(_.startsWith(prefix))
          Some(((kept ++ fresh).distinct.sorted, prev.applied ++ shardId))
        }
      }
    }
    n.foreach(g => retire(spark, path, g, retain))
    n.isDefined
  }

  /** [[replace]] at FILE granularity: the commit carries forward every
    * previous file except the explicit `drop` set (root-relative
    * paths), plus whatever `write` produced. The primitive behind
    * [[Lake.merge]]'s Delta-style upsert — only the files that contain
    * matched keys leave the live set, every other file survives the
    * commit untouched on disk. Dropped files stay physically present
    * until no retained manifest references them ([[retire]]), so
    * in-flight readers and `asOf` time travel keep resolving them.
    *
    * Conflict rule — Serializable-conservative, because the callers
    * (MERGE / DELETE / UPDATE) READ the whole table before rewriting
    * part of it: a lost commit race throws
    * `java.util.ConcurrentModificationException` on ANY committed
    * change to the live file set since the base snapshot (even a blind
    * append could carry rows the rewrite's predicate should have
    * seen — Delta's conflict checker refuses the same way for
    * read-write transactions). The caller re-runs the whole operation
    * against the new head; its orphaned write is [[vacuum]] food.
    * Callers whose analysis ran against an earlier snapshot MUST pass
    * that snapshot's generation as `baseGen` — the conflict check then
    * covers the full analysis-to-commit window instead of silently
    * restarting at this call's entry.
    *
    * Unlike [[extend]]/[[replace]], the adds here are EXACT, not a
    * listing diff: `write` receives a transaction-scoped staging root
    * (dot-prefixed — invisible to data listings and readers) and must
    * write every new file under it with the final relative layout; the
    * protocol then moves the staged files into place and commits
    * precisely those. A rewrite can therefore never adopt a concurrent
    * writer's in-flight files (which, for a rewrite, would resurrect
    * dropped rows), and two transactions' Spark jobs never share a
    * `_temporary/` staging dir.
    */
  def rewriteFiles(spark: SparkSession, path: String, drop: Set[String],
                   shardId: Option[String] = None, retain: Int = 3,
                   baseGen: Option[Int] = None)
                  (write: String => Unit): Boolean = {
    require(retain >= 2,
      "retain must be >= 2 (current + the in-flight-reader grace generation)")
    // baseGen closes the caller-side TOCTOU: DML callers run their
    // drop/candidate/touched-file analysis against a snapshot taken at
    // THEIR entry, possibly several reads before this call — taking a
    // fresh head here would silently exempt any commit that landed in
    // between from the conflict check (a concurrent extend's file could
    // carry a merged key and survive unrewritten). Pinning base to the
    // analysis generation makes the commit loop's file-set comparison
    // run against exactly what the analysis saw; an intervening commit
    // then refuses with ConcurrentModificationException like any other
    // lost race. A base generation that has already been retired means
    // the analysis window outlived the retention horizon — refuse the
    // same way rather than guessing.
    val base = baseGen match {
      case None => snapshot(spark, path)
      case Some(g) =>
        try snapshot(spark, path, Some(g))
        catch {
          case e: IllegalArgumentException =>
            throw new java.util.ConcurrentModificationException(
              s"rewriteFiles on $path: base generation $g was retired " +
                s"while the caller's analysis ran (${e.getMessage}); " +
                "re-run the operation against the current head")
        }
    }
    if (shardId.exists(base.applied)) return false
    val stage = s"$path/.txn-${java.util.UUID.randomUUID}"
    write(stage)
    val n = publishStaged(spark, path, stage) { fresh =>
      val freshSet = fresh.toSet
      commitLoop(spark, path, "rewriteFiles")(base) { prev =>
        if (shardId.exists(prev.applied)) None
        else {
          if (prev.gen != base.gen &&
              prev.files.toSet -- freshSet != base.files.toSet)
            throw new java.util.ConcurrentModificationException(
              s"rewriteFiles on $path: a concurrent commit changed the live " +
                s"file set between the base snapshot (gen ${base.gen}) and " +
                s"the head (gen ${prev.gen}); re-run the rewrite against the " +
                "new state")
          val kept = prev.files.filterNot(drop)
          Some(((kept ++ fresh).distinct.sorted, prev.applied ++ shardId))
        }
      }
    }
    n.foreach(g => retire(spark, path, g, retain))
    n.isDefined
  }

  /** The files of one generation that live under `path/sub`, read with
    * `basePath = path/sub` so partition directories (`cell=N`, ...)
    * still surface as columns. `schemaFrom` supplies the frame when the
    * generation holds no files under `sub` (an empty parquet read has
    * no schema to stand on): pass any plan with the store's schema and
    * the empty case returns its zero-row filter.
    */
  def read(spark: SparkSession, path: String, sub: String,
           asOf: Option[Int] = None,
           schemaFrom: Option[DataFrame] = None,
           mergeSchema: Boolean = false): DataFrame = {
    val snap = snapshot(spark, path, asOf)
    val prefix = s"$sub/"
    val files = snap.files.filter(_.startsWith(prefix))
      .map(f => s"$path/$f")
    if (files.isEmpty) {
      val base = schemaFrom.getOrElse(
        throw new IllegalStateException(
          s"generation ${snap.gen} of $path has no files under $sub/ " +
            "and no schemaFrom fallback was supplied"))
      base.filter(org.apache.spark.sql.functions.lit(false))
    } else
      // mergeSchema unions every live file's footer — required for
      // stores whose files span an additive schema evolution, where a
      // single-footer inference could miss the newer columns. Opt-in:
      // the footer merge touches every live file's metadata (Delta
      // avoids even that by carrying the schema in the log — the
      // cluster optimization slot here is a schema row in the manifest)
      spark.read.option("basePath", s"$path/$sub")
        .option("mergeSchema", mergeSchema.toString).parquet(files: _*)
  }

  /** Delta's `RESTORE TABLE ... VERSION AS OF` — roll the store back
    * to a retained generation by committing a NEW head whose file list
    * is the target generation's (no data moves; the rollback itself is
    * time-travelable and vacuum-safe because every referenced file is
    * now live again under the new head). The applied-shard ledger
    * keeps the CURRENT head's ids — like Delta, restore rewinds data,
    * not writer-idempotency history (a replayed shard id after a
    * restore must still no-op). A lost commit race re-lands the target
    * file list on the new head (last-restore-wins, serialized).
    * Returns the new head generation.
    */
  def restore(spark: SparkSession, path: String, gen: Int,
              retain: Int = 3): Int = {
    val target = snapshot(spark, path, Some(gen))
    val head = snapshot(spark, path)
    val n = commitLoop(spark, path, "restore")(head) { prev =>
      Some((target.files, prev.applied))
    }.get
    retire(spark, path, n, retain)
    n
  }

  // ── retention horizon ─────────────────────────────────────────────
  //
  // Delta's `delta.deletedFileRetentionDuration` (default 7 days) as a
  // per-store property: generations committed within the horizon are
  // NOT retired even when they fall outside the retain count, and
  // orphan files younger than the horizon are NOT vacuumed. This is
  // what makes a long-running `asOf` reader safe against the
  // retire/vacuum race: pin any generation committed within the
  // horizon and its files cannot disappear underneath the scan. A
  // horizon > 0 also closes vacuum's in-flight-writer hazard — an
  // uncommitted transaction's freshly written files are younger than
  // the horizon by construction, so vacuum spares them.

  /** Set the store's retention horizon in milliseconds (0 = pure
    * count-based retirement, the default). Stored as a tiny
    * `_meta/retention` file; last write wins.
    */
  def setRetention(spark: SparkSession, path: String, ms: Long): Unit = {
    require(ms >= 0, s"retention horizon must be >= 0 ms, got $ms")
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"${metaPath(path)}/retention")
    val out = fs.create(p, true)
    try out.write(ms.toString.getBytes("UTF-8")) finally out.close()
  }

  /** Storage-side "now": the mtime of a just-written probe file under
    * `_meta`, so horizon comparisons use the SAME clock that stamps the
    * mtimes they are compared against. A writer host's local clock can
    * be skewed against the storage server's; horizon math on mixed
    * clocks can prematurely expire the pinned-reader / in-flight-writer
    * guarantee the horizon exists to provide. Falls back to the local
    * clock when the probe cannot be written (read-only mount). The
    * probe is dot-prefixed — invisible to data listings — and deleted
    * immediately.
    */
  private def storageNow(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    try {
      val p = new org.apache.hadoop.fs.Path(
        s"${metaPath(path)}/.clock-probe-${java.util.UUID.randomUUID}")
      fs.create(p, true).close()
      val t = fs.getFileStatus(p).getModificationTime
      fs.delete(p, false)
      t
    } catch { case _: java.io.IOException => System.currentTimeMillis() }
  }

  /** Fixed grace for IN-FLIGHT transaction artifacts (intent markers,
    * `.txn-`/`stage-` staging dirs) during [[vacuum]], applied even at
    * horizon 0: deleting a live transaction's staging mid-publish
    * corrupts the writer, and "no retention configured" should not make
    * that the default behavior. Raise for storage with slow publishes;
    * 0 restores the pre-grace semantics (quiesced-writers contract).
    */
  @volatile var inFlightGraceMs: Long = 5 * 60 * 1000L

  /** The store's retention horizon (0 when none was ever set). */
  def retentionMs(spark: SparkSession, path: String): Long = {
    val fs = fsOf(spark, path)
    val p = new org.apache.hadoop.fs.Path(s"${metaPath(path)}/retention")
    if (!fs.exists(p)) 0L
    else {
      val buf = new Array[Byte](fs.getFileStatus(p).getLen.toInt)
      val in = fs.open(p)
      try in.readFully(buf) finally in.close()
      new String(buf, "UTF-8").trim.toLong
    }
  }

  /** Threshold-triggered [[compactSub]] — run it only when the live
    * file count under `sub` exceeds `maxFiles` (a snapshot read
    * otherwise), the policy the streamed flat-store sinks (gram and
    * span stores) wire in so a long-running extend loop cannot grow
    * one file per shard toward a file-listing-bound read. Returns
    * true when a compaction ran.
    */
  def autoCompactSub(spark: SparkSession, path: String, sub: String,
                     maxFiles: Int, targetFileMB: Int = 128): Boolean = {
    require(maxFiles >= 1, s"maxFiles must be ≥ 1, got $maxFiles")
    val live = snapshot(spark, path).files.count(_.startsWith(s"$sub/"))
    live > maxFiles && {
      compactSub(spark, path, sub, targetFileMB); true
    }
  }

  /** Drop manifests older than the newest `retain` generations and
    * every data file only they reference — EXCEPT generations
    * committed within the store's retention horizon, which survive
    * regardless of count (the pinned-reader guarantee above). The
    * retained window is both the in-flight-reader grace period and
    * the time-travel horizon. Concurrent retires are harmless
    * (deletes are idempotent, and the generations they act on are
    * already committed history).
    */
  private def retire(spark: SparkSession, path: String,
                     current: Int, retain: Int): Unit = {
    val fs = fsOf(spark, path)
    val floor = current - (retain - 1)
    val gens = generations(spark, path)
    val horizon = retentionMs(spark, path)
    // storage-side clock: mtimes below come from the filesystem, so
    // "now" must too (see storageNow — local-clock skew would shrink
    // the horizon silently). Probed only when a horizon is set.
    val cutoff =
      (if (horizon > 0) storageNow(spark, path)
       else System.currentTimeMillis()) - horizon
    // commit time = the manifest dir's mtime (its contents are written
    // once, at staging, and never touched after the publish rename)
    def withinHorizon(g: Int): Boolean = horizon > 0 &&
      fs.getFileStatus(new org.apache.hadoop.fs.Path(
        s"${metaPath(path)}/manifest-$g")).getModificationTime >= cutoff
    val keep = gens.filter(g => g >= floor || withinHorizon(g)).toSet
    if (keep == gens.toSet) return
    val live = keep.toSeq.flatMap(g => snapshot(spark, path, Some(g)).files).toSet
    val dead = gens.filterNot(keep)
      .flatMap(g => snapshot(spark, path, Some(g)).files)
      .toSet -- live
    dead.foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$f"), false); ()
    }
    gens.filterNot(keep).foreach { g =>
      fs.delete(new org.apache.hadoop.fs.Path(
        s"${metaPath(path)}/manifest-$g"), true); ()
    }
  }

  /** Small-files maintenance for a manifest-managed store — Delta's
    * `OPTIMIZE` against this protocol (an in-place rewrite would sever
    * every manifest that references the old files; the merge table's
    * stats-aware form is [[Lake.mergeCompact]]). The live rows under
    * `path/sub` are read generation-
    * pinned, rewritten as ~`targetFileMB` files APPENDED next to the
    * old ones (parquet part names are unique — no collision), and the
    * commit swaps the sub's file list to the fresh set. Old files stay
    * on disk until their last referencing manifest retires, so
    * in-flight readers and `asOf` time travel survive the compaction —
    * exactly Delta's OPTIMIZE-then-VACUUM split. Partition dirs
    * (`cell=N`, ...) are preserved: rows are hash-clustered by the
    * partition columns inferred from the live file paths and written
    * through the same dynamic layout. A lost commit race re-runs the
    * whole pass against the new head (pure maintenance — always safe;
    * the stale rewrite becomes [[vacuum]] food). Returns (filesBefore,
    * filesAfter) for the sub.
    */
  def compactSub(spark: SparkSession, path: String, sub: String,
                 targetFileMB: Int = 128, retain: Int = 3): (Int, Int) = {
    require(retain >= 2,
      "retain must be >= 2 (current + the in-flight-reader grace generation)")
    val prefix = s"$sub/"
    var tries = 0
    while (true) {
      tries += 1
      val prev = snapshot(spark, path)
      val liveSub = prev.files.filter(_.startsWith(prefix))
      if (liveSub.isEmpty) return (0, 0)
      // partition columns: k=v segments between sub/ and the file name
      val partCols = liveSub.head.stripPrefix(prefix).split("/").dropRight(1)
        .filter(_.contains("=")).map(_.split("=", 2)(0)).toSeq
      val fs = fsOf(spark, path)
      val totalMB = math.max(liveSub.map(f =>
        fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$path/$f")).getLen)
        .sum / (1024.0 * 1024.0), 0.001)
      val nFiles = math.max(1, math.ceil(totalMB / targetFileMB).toInt)
      val df = read(spark, path, sub, asOf = Some(prev.gen))
      val shaped =
        if (partCols.isEmpty) df.repartition(nFiles)
        else df.repartition(nFiles,
          partCols.map(org.apache.spark.sql.functions.col): _*)
      // staged write + intent-marked publish: exact adds, no listing
      // diff, and a lost race cleans its own files up before the
      // re-run (publishStaged's non-commit contract)
      val stage = s"$path/.txn-${java.util.UUID.randomUUID}"
      val w = shaped.write.mode(SaveMode.Append)
      (if (partCols.isEmpty) w else w.partitionBy(partCols: _*))
        .parquet(s"$stage/$sub")
      val kept = prev.files.filterNot(_.startsWith(prefix))
      val n = prev.gen + 1
      val out = publishStaged(spark, path, stage) { fresh =>
        if (tryCommit(spark, path, n,
            (kept ++ fresh).distinct.sorted, prev.applied))
          Some((liveSub.length, fresh.length))
        else None
      }
      out match {
        case Some(res) =>
          retire(spark, path, n, retain)
          return res
        case None =>
          if (tries >= MaxCommitAttempts)
            throw new java.util.ConcurrentModificationException(
              s"compactSub($sub) on $path lost $MaxCommitAttempts commit " +
                "races in a row — writer contention is beyond " +
                "optimistic-retry range")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Delete data files no RETAINED manifest references — crashed-write
    * orphans, lost-race writes, and stragglers [[retire]] could not
    * attribute — plus leftover commit-staging directories. Orphans
    * (and staging dirs) YOUNGER than the store's retention horizon are
    * spared: with a horizon set, vacuum cannot race an in-flight
    * writer (its uncommitted files are newer than the horizon by
    * construction). Even with no horizon (0), in-flight transactions
    * keep two protections: files listed in LIVE intent markers are
    * never deleted (they are a publishing transaction's, by
    * definition), and transaction artifacts (intent markers,
    * `.txn-`/`stage-` dirs) younger than [[inFlightGraceMs]] are
    * spared — a mid-publish staging dir must not be vacuum food just
    * because no retention was configured. Plain DATA orphans at
    * horizon 0 are still reclaimed immediately (mid-extend writers
    * remain the caller's responsibility there — extend's window is
    * not intent-bracketed); lost-race and crashed writers need no
    * care either way — their files are permanently unreferenced.
    * Returns the count of data files removed.
    */
  def vacuum(spark: SparkSession, path: String): Int = {
    val fs = fsOf(spark, path)
    val horizon = retentionMs(spark, path)
    // the mtimes compared against come from storage — so must "now"
    val now = storageNow(spark, path)
    val cutoff = now - horizon
    def old(p: org.apache.hadoop.fs.Path): Boolean = horizon == 0 ||
      fs.getFileStatus(p).getModificationTime < cutoff
    // transaction artifacts get the fixed grace even at horizon 0
    val txnCutoff = now - math.max(horizon, inFlightGraceMs)
    def oldTxn(p: org.apache.hadoop.fs.Path): Boolean =
      fs.getFileStatus(p).getModificationTime < txnCutoff
    val live = generations(spark, path)
      .flatMap(g => snapshot(spark, path, Some(g)).files).toSet
    // never touch a live intent marker's files: they belong to a
    // transaction that is publishing RIGHT NOW
    val inFlight = intentFiles(spark, path)
    val orphans = (listData(spark, path) -- live -- inFlight)
      .filter(f => old(new org.apache.hadoop.fs.Path(s"$path/$f")))
    orphans.foreach { f =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$path/$f"), false); ()
    }
    // abandoned staging dirs: half-staged manifest commits under _meta
    // and crashed transactions' data staging under the root
    val mp = new org.apache.hadoop.fs.Path(metaPath(path))
    if (fs.exists(mp))
      fs.listStatus(mp).map(_.getPath)
        .filter(p => (p.getName.startsWith("stage-") ||
          p.getName.startsWith("intent-")) && oldTxn(p))
        .foreach { p => fs.delete(p, true); () }
    val root = new org.apache.hadoop.fs.Path(path)
    if (fs.exists(root))
      fs.listStatus(root).map(_.getPath)
        .filter(p => p.getName.startsWith(".txn-") && oldTxn(p))
        .foreach { p => fs.delete(p, true); () }
    orphans.size
  }
}
