package graft.util

import graft.SparkSuite
import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._

class ManifestSpec extends SparkSuite {
  import spark.implicits._

  private def tmp(): String = {
    val d = graft.util.Scratch.dir("graft-manifest")
    d.delete()
    d.getAbsolutePath
  }

  private def writeRows(path: String, rows: Seq[(Long, String)],
                        mode: SaveMode): Unit =
    rows.toDF("id", "v").coalesce(1).write.mode(mode).parquet(s"$path/data")

  test("init commits generation 0 covering exactly the written files") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a"), (2L, "b")), SaveMode.Overwrite) }
    assert(Manifest.generations(spark, p) == Seq(0))
    val snap = Manifest.snapshot(spark, p)
    assert(snap.files.nonEmpty && snap.files.forall(_.startsWith("data/")))
    val got = Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet
    assert(got == Set((1L, "a"), (2L, "b")))
  }

  test("extend commits a new generation; reader snapshots are isolated") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    assert(Manifest.extend(spark, p, Some("s1")) {
      writeRows(p, Seq((2L, "b")), SaveMode.Append)
    })
    assert(Manifest.generations(spark, p) == Seq(0, 1))
    // newest sees both; asOf 0 still sees only the build
    assert(Manifest.read(spark, p, "data").count() == 2)
    assert(Manifest.read(spark, p, "data", asOf = Some(0))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
  }

  test("re-delivered shard id is a no-op and the write body never runs") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    assert(Manifest.extend(spark, p, Some("s1")) {
      writeRows(p, Seq((2L, "b")), SaveMode.Append)
    })
    var ran = false
    assert(!Manifest.extend(spark, p, Some("s1")) { ran = true })
    assert(!ran)
    assert(Manifest.read(spark, p, "data").count() == 2)
    assert(Manifest.applied(spark, p) == Set("s1"))
  }

  test("rewriteFiles with baseGen refuses a commit that landed between " +
    "the caller's analysis snapshot and the rewrite (TOCTOU closure)") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    val analysis = Manifest.snapshot(spark, p) // gen 0 — the DML analysis view
    // a concurrent extend lands AFTER the analysis, BEFORE the rewrite:
    // its file could carry a key the analysis should have merged
    assert(Manifest.extend(spark, p, Some("mid")) {
      writeRows(p, Seq((2L, "late"), (1L, "dup")), SaveMode.Append)
    })
    // without baseGen this committed fine pre-fix (fresh head at entry
    // == conflict base, nothing to compare); with baseGen it must refuse
    intercept[java.util.ConcurrentModificationException] {
      Manifest.rewriteFiles(spark, p, drop = analysis.files.toSet,
        retain = 5, baseGen = Some(analysis.gen)) { stage =>
        writeRows(stage, Seq((1L, "rewritten")), SaveMode.Overwrite)
      }
    }
    // the refused rewrite left the table exactly as the extend made it
    assert(Manifest.read(spark, p, "data").count() == 3)
    // re-running against the CURRENT head succeeds
    val head = Manifest.snapshot(spark, p)
    assert(Manifest.rewriteFiles(spark, p, drop = head.files.toSet,
      retain = 5, baseGen = Some(head.gen)) { stage =>
      writeRows(stage, Seq((1L, "rewritten")), SaveMode.Overwrite)
    })
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().toSet == Set((1L, "rewritten")))
    // a head-moved-but-file-set-unchanged commit (ledger-only extend)
    // does NOT refuse: the conflict rule is about the live FILE SET
    val g = Manifest.snapshot(spark, p)
    assert(Manifest.extend(spark, p, Some("ledger-only")) { () })
    assert(Manifest.rewriteFiles(spark, p,
      drop = g.files.toSet, retain = 5, baseGen = Some(g.gen)) { stage =>
      writeRows(stage, Seq((9L, "v2")), SaveMode.Overwrite)
    })
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().toSet == Set((9L, "v2")))
  }

  test("vacuum at horizon 0 spares in-flight transactions: intent-listed " +
    "files always, young txn staging dirs for the fixed grace") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    val fs = new org.apache.hadoop.fs.Path(p)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a publishing transaction: its intent marker lists a just-moved
    // file that no manifest references YET
    writeRows(s"$p/inflight", Seq((7L, "staged")), SaveMode.Overwrite)
    val moved = fs.listStatus(new org.apache.hadoop.fs.Path(s"$p/inflight/data"))
      .map(_.getPath).find(_.getName.endsWith(".parquet")).get
    val rel = s"data/${moved.getName}"
    assert(fs.rename(moved, new org.apache.hadoop.fs.Path(s"$p/$rel")))
    fs.delete(new org.apache.hadoop.fs.Path(s"$p/inflight"), true)
    val intent = new org.apache.hadoop.fs.Path(s"$p/_meta/intent-test")
    val out = fs.create(intent, true)
    try out.write(rel.getBytes("UTF-8")) finally out.close()
    // a concurrent writer's live staging dir at the root
    writeRows(s"$p/.txn-test", Seq((8L, "mid")), SaveMode.Overwrite)
    assert(Manifest.vacuum(spark, p) == 0) // intent-listed file spared
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/$rel")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$p/.txn-test"))) // grace
    // transaction settles: marker removed → the orphan is reclaimable,
    // and with the grace dropped the abandoned staging dir goes too
    fs.delete(intent, false)
    val saved = Manifest.inFlightGraceMs
    try {
      Manifest.inFlightGraceMs = 0L
      assert(Manifest.vacuum(spark, p) == 1)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/$rel")))
      assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$p/.txn-test")))
    } finally Manifest.inFlightGraceMs = saved
    // the committed table is untouched throughout
    assert(Manifest.read(spark, p, "data").count() == 1)
  }

  test("uncommitted files are invisible to readers (mid-extend isolation)") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    // simulate a crash mid-extend: data landed, no manifest commit
    writeRows(p, Seq((99L, "torn")), SaveMode.Append)
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    // the blind retry (proper extend) adopts ONLY its own files
    assert(Manifest.extend(spark, p, Some("s1")) {
      writeRows(p, Seq((2L, "b")), SaveMode.Append)
    })
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
    // vacuum reclaims the orphan; committed data survives
    assert(Manifest.vacuum(spark, p) >= 1)
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().toSet == Set((1L, "a"), (2L, "b")))
  }

  test("empty-shard extend still records the ledger id") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    assert(Manifest.extend(spark, p, Some("empty")) { () })
    assert(Manifest.applied(spark, p) == Set("empty"))
    assert(Manifest.read(spark, p, "data").count() == 1)
  }

  test("retire keeps the newest `retain` generations and their files") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((0L, "g0")), SaveMode.Overwrite) }
    (1 to 4).foreach { i =>
      Manifest.extend(spark, p, Some(s"s$i"), retain = 2) {
        writeRows(p, Seq((i.toLong, s"g$i")), SaveMode.Append)
      }
    }
    assert(Manifest.generations(spark, p) == Seq(3, 4))
    // newest still accumulates every committed row (append-only store)
    assert(Manifest.read(spark, p, "data").count() == 5)
    // a retired generation is no longer resolvable
    intercept[IllegalArgumentException] {
      Manifest.snapshot(spark, p, asOf = Some(0))
    }
  }

  test("init over a previous epoch clears stale manifests and ledger") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "old")), SaveMode.Overwrite) }
    Manifest.extend(spark, p, Some("batch-0")) {
      writeRows(p, Seq((2L, "old2")), SaveMode.Append)
    }
    Manifest.init(spark, p) { writeRows(p, Seq((7L, "new")), SaveMode.Overwrite) }
    assert(Manifest.generations(spark, p) == Seq(0))
    assert(Manifest.applied(spark, p).isEmpty)
    // the new epoch owes batch-0 a write — it must NOT be no-opped
    assert(Manifest.extend(spark, p, Some("batch-0")) {
      writeRows(p, Seq((8L, "new2")), SaveMode.Append)
    })
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().toSet == Set((7L, "new"), (8L, "new2")))
  }

  test("read surfaces partition directories as columns via basePath") {
    val p = tmp()
    Manifest.init(spark, p) {
      Seq((1L, 0), (2L, 1)).toDF("id", "cell")
        .write.partitionBy("cell").parquet(s"$p/codes")
    }
    val got = Manifest.read(spark, p, "codes")
    assert(got.columns.toSet == Set("id", "cell"))
    assert(got.select("cell").as[Int].collect().toSet == Set(0, 1))
  }

  test("empty sub-tree read falls back to schemaFrom's zero-row frame") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    val proto = Seq((0L, "x")).toDF("id", "v")
    val got = Manifest.read(spark, p, "nothing", schemaFrom = Some(proto))
    assert(got.columns.toSeq == Seq("id", "v") && got.count() == 0)
  }

  // ── retention horizon ─────────────────────────────────────────────

  test("retention horizon: generations inside the horizon survive " +
      "retirement beyond the retain count, a pinned asOf reader keeps " +
      "resolving, and vacuum spares young orphans") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    Manifest.setRetention(spark, p, 3600 * 1000L)
    (2 to 5).foreach { i =>
      assert(Manifest.extend(spark, p, Some(s"s$i"), retain = 2) {
        writeRows(p, Seq((i.toLong, "x")), SaveMode.Append)
      })
    }
    // retain=2 alone would keep only gens 3 and 4 — the horizon keeps all
    assert(Manifest.generations(spark, p) == Seq(0, 1, 2, 3, 4))
    // the pinned-reader guarantee: generation 0 still fully resolves
    assert(Manifest.read(spark, p, "data", asOf = Some(0))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    // a young orphan (e.g. an in-flight writer's file) survives vacuum
    writeRows(p, Seq((99L, "orphan")), SaveMode.Append)
    assert(Manifest.vacuum(spark, p) == 0)
    assert(Manifest.read(spark, p, "data", asOf = Some(0))
      .as[(Long, String)].collect().toSet == Set((1L, "a")))
    // dropping the horizon resumes count-based retirement on the next
    // commit, and vacuum reclaims the orphan
    Manifest.setRetention(spark, p, 0L)
    assert(Manifest.retentionMs(spark, p) == 0L)
    assert(Manifest.extend(spark, p, Some("s6"), retain = 2) {
      writeRows(p, Seq((6L, "y")), SaveMode.Append)
    })
    assert(Manifest.generations(spark, p) == Seq(4, 5))
    assert(Manifest.vacuum(spark, p) >= 1)
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect()
      .map(_._1).toSet == Set(1L, 2L, 3L, 4L, 5L, 6L))
  }

  // ── multi-writer optimistic concurrency ───────────────────────────

  /** Run `a` and `b` on two threads, returning each one's outcome.
    * Staged transactions (replace/rewriteFiles) rendezvous on a
    * `barrier` inside their write callbacks so BOTH writers have read
    * the base snapshot and written their data before EITHER attempts
    * a commit — the exact interleaving a last-write-wins protocol
    * would silently lose a generation on. EXTEND races carry no
    * barrier: the protocol itself serializes extend write windows
    * per store (in-process lock — a barrier inside the callback would
    * deadlock against it), so those specs assert the invariants that
    * must hold under EVERY interleaving of snapshot/write/commit.
    */
  private def race(a: => Any, b: => Any): (Either[Throwable, Any], Either[Throwable, Any]) = {
    val outA = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Any]]()
    val outB = new java.util.concurrent.atomic.AtomicReference[Either[Throwable, Any]]()
    val ta = new Thread(() => outA.set(
      try Right(a) catch { case t: Throwable => Left(t) }))
    val tb = new Thread(() => outB.set(
      try Right(b) catch { case t: Throwable => Left(t) }))
    ta.start(); tb.start(); ta.join(120000); tb.join(120000)
    (outA.get(), outB.get())
  }

  test("two interleaved extends serialize: commits land as consecutive " +
      "generations, the loser rebases, no generation is lost") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "base")), SaveMode.Overwrite) }
    // both threads snapshot the base generation up front; their WRITE
    // windows serialize inside the protocol (per-store lock), and the
    // COMMITS race — the loser detects the taken slot and rebases.
    // Every interleaving must yield the same final state.
    def ext(tag: String, row: (Long, String)) =
      Manifest.extend(spark, p, Some(tag), retain = 5) {
        writeRows(p, Seq(row), SaveMode.Append)
      }
    val (ra, rb) = race(ext("wA", (2L, "from-A")), ext("wB", (3L, "from-B")))
    assert(ra == Right(true), s"writer A failed: $ra")
    assert(rb == Right(true), s"writer B failed: $rb")
    // both generations landed — one writer won the race, the other
    // detected the taken slot and rebased onto the new head
    assert(Manifest.generations(spark, p) == Seq(0, 1, 2))
    val head = Manifest.snapshot(spark, p)
    assert(head.applied == Set("wA", "wB"))
    assert(head.files.distinct == head.files, "head references a file twice")
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, "base"), (2L, "from-A"), (3L, "from-B")))
  }

  test("racing rewriteFiles: one commits, the loser REFUSES with " +
      "ConcurrentModificationException and a re-run lands") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a"), (2L, "b")), SaveMode.Overwrite) }
    val base = Manifest.snapshot(spark, p)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def rewrite(tag: String): Boolean =
      Manifest.rewriteFiles(spark, p, drop = base.files.toSet, retain = 5) { stage =>
        writeRows(stage, Seq((1L, s"$tag-1"), (2L, s"$tag-2")), SaveMode.Append)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    val (ra, rb) = race(rewrite("A"), rewrite("B"))
    val results = Seq(ra, rb)
    // exactly one wins; the other's read set was invalidated, so it
    // must refuse rather than rebase (its rewrite was computed from
    // files the winner just dropped)
    assert(results.count(_ == Right(true)) == 1, s"outcomes: $results")
    assert(results.count {
      case Left(_: java.util.ConcurrentModificationException) => true
      case _ => false
    } == 1, s"outcomes: $results")
    val winner = if (ra == Right(true)) "A" else "B"
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, s"$winner-1"), (2L, s"$winner-2")))
    // the loser re-runs against the new head — the documented recovery
    val head = Manifest.snapshot(spark, p)
    assert(Manifest.rewriteFiles(spark, p, drop = head.files.toSet, retain = 5) { stage =>
      writeRows(stage, Seq((1L, "rerun-1"), (2L, "rerun-2")), SaveMode.Append)
    })
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, "rerun-1"), (2L, "rerun-2")))
  }

  test("compactSub racing an extend: pure maintenance retries past the " +
      "writer — no rows, generations, or ledger entries are lost") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    Manifest.extend(spark, p, Some("s1"), retain = 5) {
      writeRows(p, Seq((2L, "b")), SaveMode.Append)
    }
    // no barrier: extends serialize in-process, and compactSub's own
    // retry loop is the contract under test — whichever commit loses
    // re-runs against the new head ("pure maintenance — always safe")
    val (ra, rb) = race(
      Manifest.extend(spark, p, Some("s2"), retain = 5) {
        writeRows(p, Seq((3L, "c")), SaveMode.Append)
      },
      Manifest.compactSub(spark, p, "data"))
    assert(ra == Right(true), s"extend failed: $ra")
    assert(rb.isRight, s"compactSub failed: $rb")
    val head = Manifest.snapshot(spark, p)
    assert(head.applied.contains("s1") && head.applied.contains("s2"))
    assert(head.files.distinct == head.files, "head references a file twice")
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
    // a follow-up compaction on the quiesced store lands at one file
    Manifest.compactSub(spark, p, "data")
    assert(Manifest.snapshot(spark, p).files.count(_.startsWith("data/")) == 1)
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("replace racing an extend of a DIFFERENT sub: both rebase and land") {
    val p = tmp()
    Manifest.init(spark, p) {
      writeRows(p, Seq((1L, "a")), SaveMode.Overwrite)
      Seq((10L, "x")).toDF("id", "v").coalesce(1)
        .write.mode(SaveMode.Overwrite).parquet(s"$p/other")
    }
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def await() = { barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); () }
    val (ra, rb) = race(
      Manifest.replace(spark, p, "data", retain = 5) { stage =>
        Seq((1L, "relabeled")).toDF("id", "v").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$stage/data/ver=1")
        await()
      },
      Manifest.extend(spark, p, Some("oext"), retain = 5) {
        Seq((11L, "y")).toDF("id", "v").coalesce(1)
          .write.mode(SaveMode.Append).parquet(s"$p/other")
        await()
      })
    assert(ra == Right(true), s"replace failed: $ra")
    assert(rb == Right(true), s"extend failed: $rb")
    assert(Manifest.generations(spark, p) == Seq(0, 1, 2))
    // select id,v: the ver=1 version dir surfaces as a partition column
    assert(Manifest.read(spark, p, "data").select("id", "v")
      .as[(Long, String)].collect().toSet == Set((1L, "relabeled")))
    assert(Manifest.read(spark, p, "other").as[(Long, String)].collect().toSet ==
      Set((10L, "x"), (11L, "y")))
  }

  test("two replaces of the SAME sub: the loser refuses") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def rep(tag: String): Boolean =
      Manifest.replace(spark, p, "data", retain = 5) { stage =>
        Seq((1L, tag)).toDF("id", "v").coalesce(1)
          .write.mode(SaveMode.Overwrite).parquet(s"$stage/data/ver-$tag")
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    val (ra, rb) = race(rep("A"), rep("B"))
    val results = Seq(ra, rb)
    assert(results.count(_ == Right(true)) == 1, s"outcomes: $results")
    assert(results.count {
      case Left(_: java.util.ConcurrentModificationException) => true
      case _ => false
    } == 1, s"outcomes: $results")
    val winner = if (ra == Right(true)) "A" else "B"
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, winner)))
  }

  test("two racing extends carrying the SAME shard id: exactly one " +
      "applies — the loser discovers the ledger entry at rebase and no-ops") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "base")), SaveMode.Overwrite) }
    def ext(row: (Long, String)) =
      Manifest.extend(spark, p, Some("shard-X"), retain = 5) {
        writeRows(p, Seq(row), SaveMode.Append)
      }
    val (ra, rb) = race(ext((2L, "dup-A")), ext((2L, "dup-B")))
    val results = Seq(ra, rb)
    // both re-deliveries of one shard: one commits, the other must
    // turn into the ledger no-op (false) — discovered either up front
    // or at rebase after losing the commit race — never a double apply
    assert(results.count(_ == Right(true)) == 1, s"outcomes: $results")
    assert(results.count(_ == Right(false)) == 1, s"outcomes: $results")
    assert(Manifest.applied(spark, p) == Set("shard-X"))
    // exactly ONE shard row landed (well-formed either way: both wrote
    // the same logical content, but the loser's copy must stay
    // unreferenced)
    assert(Manifest.read(spark, p, "data")
      .as[(Long, String)].collect().count(_._1 == 2L) == 1)
  }

  test("compactSub racing an extend re-runs and converges: nothing lost, " +
      "no torn state") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a")), SaveMode.Overwrite) }
    (2 to 4).foreach { i =>
      Manifest.extend(spark, p, Some(s"s$i"), retain = 5) {
        writeRows(p, Seq((i.toLong, "x")), SaveMode.Append)
      }
    }
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    val (ra, rb) = race(
      {
        // rendezvous AFTER the extend has read its base snapshot and
        // written its data, then compact concurrently: whoever commits
        // second detects the race (extend rebases; compact re-runs)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS)
        Manifest.compactSub(spark, p, "data", retain = 5)
      },
      Manifest.extend(spark, p, Some("s5"), retain = 5) {
        writeRows(p, Seq((5L, "y")), SaveMode.Append)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      })
    assert(rb == Right(true), s"extend failed: $rb")
    assert(ra.isRight, s"compactSub failed: $ra")
    // every row present exactly once, whatever the commit order was
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect()
      .map(_._1).sorted.toSeq == Seq(1L, 2L, 3L, 4L, 5L))
    assert(Manifest.applied(spark, p) == Set("s2", "s3", "s4", "s5"))
  }

  test("a lost-race rewrite cleans up after itself: no rows leak into " +
      "any retained generation, no orphans or intent markers remain") {
    val p = tmp()
    Manifest.init(spark, p) { writeRows(p, Seq((1L, "a"), (2L, "b")), SaveMode.Overwrite) }
    val base = Manifest.snapshot(spark, p)
    val barrier = new java.util.concurrent.CyclicBarrier(2)
    def rewrite(tag: String): Boolean =
      Manifest.rewriteFiles(spark, p, drop = base.files.toSet, retain = 5) { stage =>
        writeRows(stage, Seq((1L, s"$tag-1"), (2L, s"$tag-2")), SaveMode.Append)
        barrier.await(60, java.util.concurrent.TimeUnit.SECONDS); ()
      }
    val (ra, rb) = race(rewrite("A"), rewrite("B"))
    assert(Seq(ra, rb).count(_ == Right(true)) == 1)
    // the loser's rows never surface in any retained generation
    val winner = if (ra == Right(true)) "A" else "B"
    val loser = if (winner == "A") "B" else "A"
    Manifest.generations(spark, p).foreach { g =>
      val vals = Manifest.read(spark, p, "data", asOf = Some(g))
        .as[(Long, String)].collect().map(_._2).toSet
      assert(!vals.exists(_.startsWith(loser)), s"gen $g leaked loser rows")
    }
    // the failed transaction removed its own published files and its
    // intent marker — vacuum finds NOTHING to reclaim
    assert(Manifest.vacuum(spark, p) == 0)
    val meta = new java.io.File(p, "_meta")
    assert(!meta.list().exists(_.startsWith("intent-")), "stale intent marker")
    // and the head still reads clean afterwards
    assert(Manifest.read(spark, p, "data").as[(Long, String)].collect().toSet ==
      Set((1L, s"$winner-1"), (2L, s"$winner-2")))
  }
}
