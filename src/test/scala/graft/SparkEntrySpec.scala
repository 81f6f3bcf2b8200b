package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Contract guards on the driver surface itself. `queries` and
  * `oracleSql` are Scala Maps — a DUPLICATE key would silently shadow
  * an earlier gate (the map compiles, the count just drops by one),
  * and an oracle entry without a query would make the driver's compare
  * report a phantom crash. These are build-time mistakes a type
  * checker can't catch; pin them here.
  */
class SparkEntrySpec extends AnyFunSuite with Matchers {

  test("every oracle has a query; no orphan oracle keys") {
    val orphans = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    orphans shouldBe empty
  }

  test("registered gate count matches the declared coverage") {
    // bump alongside SURVEY.md §8 when adding gates — a mismatch means
    // either a silently-shadowed duplicate key or a stale coverage map
    SparkEntry.queries.size shouldBe 234
    // the BPE-model-dependent oracles embed the TRAINED model
    // artifacts, so they exist only after a gate run trains the model
    // in this JVM (Verify's dump order guarantees that); every other
    // query must always carry an oracle
    // model-dependent late-bound oracles (BPE chain + trained-centroid
    // prototypes) exist only after a gate run trains the model here
    val lateBound = Set("text_bpe_apply", "text_bpe_encode", "text_pack_ids",
      "cur_pipeline4", "cur_semantic_prototypes")
    val unoracled = SparkEntry.queries.keySet -- SparkEntry.oracleSql.keySet
    withClue(s"non-late-bound queries missing oracles: ") {
      (unoracled -- lateBound) shouldBe empty
    }
  }

  test("oracle SQL mentions only tables the testdata provides") {
    val tables = Set("region", "nation", "customer", "supplier", "part",
      "orders", "lineitem", "events", "documents", "embeddings",
      // DuckDB built-in TABLE FUNCTION, not testdata: the DSIR oracle
      // spines its smoothed distributions over `FROM range(4096)`
      "range")
    SparkEntry.oracleSql.foreach { case (name, sql) =>
      val froms = "(?i)\\bFROM\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // `AS MATERIALIZED (` is the DuckDB CTE-materialization hint the
      // slow multi-consumer oracles carry (cur_pipeline7)
      val cteNames = ("(?i)\\b([a-z_][a-z0-9_]*)\\s*(?:\\([^)]*\\))?" +
        "\\s+AS\\s*(?:MATERIALIZED\\s*)?\\(").r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      // staged oracles (cur_pipeline7) declare TEMP TABLEs so DuckDB
      // evaluates each stage once — their names are local, like CTEs
      val tempNames = "(?i)\\bTEMP\\s+TABLE\\s+([a-z_][a-z0-9_]*)".r
        .findAllMatchIn(sql).map(_.group(1).toLowerCase).toSet
      val unknown = froms -- tables -- cteNames -- tempNames
      withClue(s"$name references unknown tables: ") { unknown shouldBe empty }
    }
  }

  test("memo: eight concurrent callers on one key run build exactly once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val calls = (1 to 8).map(_ => pool.submit(new java.util.concurrent.Callable[Int] {
        def call(): Int = {
          start.await()
          graft.util.Scratch.memo("spec-memo#concurrent") {
            Thread.sleep(100)
            builds.incrementAndGet()
          }
        }
      }))
      start.countDown()
      calls.map(_.get(30, java.util.concurrent.TimeUnit.SECONDS)) shouldBe Seq.fill(8)(1)
      builds.get shouldBe 1
    } finally pool.shutdownNow()
  }

  test("memo: a memo built inside another memo's build does not throw") {
    // fixtures nest (the wide corpus reads the clustered one). A build
    // run inside ConcurrentHashMap.computeIfAbsent throws
    // IllegalStateException("Recursive update") once a nested key lands
    // in the outer key's bin or grows the table, so nest many keys
    val outer = graft.util.Scratch.memo("spec-memo#outer") {
      (0 until 512).map(i => graft.util.Scratch.memo(s"spec-memo#inner-$i")(i)).sum
    }
    outer shouldBe (0 until 512).sum
    graft.util.Scratch.memo[Int]("spec-memo#inner-7")(fail("inner rebuilt")) shouldBe 7
  }

  test("memo: a throwing build is not cached; the next call rebuilds") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    an[IllegalStateException] should be thrownBy
      graft.util.Scratch.memo[Int]("spec-memo#throws") {
        builds.incrementAndGet()
        throw new IllegalStateException("build failed")
      }
    graft.util.Scratch.memo("spec-memo#throws") { builds.incrementAndGet(); 7 } shouldBe 7
    graft.util.Scratch.memo[Int]("spec-memo#throws")(fail("rebuilt after success")) shouldBe 7
    builds.get shouldBe 2
  }

  test("memo: distinct keys build separately") {
    graft.util.Scratch.memo("spec-memo#a")("a") shouldBe "a"
    graft.util.Scratch.memo("spec-memo#b")("b") shouldBe "b"
    graft.util.Scratch.memo("spec-memo#a")("b") shouldBe "a"
  }

  test("fixture: builds once per (name, dir) into a fresh scratch dir") {
    val root = graft.util.Scratch.root.getAbsolutePath
    val built = new java.util.concurrent.atomic.AtomicInteger()
    def fx(dir: String) = SparkEntry.fixture("spec-fixture", dir) { path =>
      built.incrementAndGet()
      new java.io.File(path).list() shouldBe empty
      java.nio.file.Files.writeString(java.nio.file.Paths.get(path, "f"), dir)
    }
    val a = fx("sf-a")
    fx("sf-a") shouldBe a
    val b = fx("sf-b")
    b should not be a
    built.get shouldBe 2
    Seq(a, b).foreach { p =>
      new java.io.File(p).getParent shouldBe root
      new java.io.File(p).getName should startWith("spec-fixture")
    }
    java.nio.file.Files.readString(java.nio.file.Paths.get(b, "f")) shouldBe "sf-b"
  }
}
