package graft

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Scale-proof corpus generator: blow the driver's sf0.1 testdata up
  * by an integer `factor` (default 10 → "sf1") into schema-identical
  * tables, so the bench board can be measured one decade up and CPU
  * scaling attributed (VERDICT r10 task 2: the 100×-scale claims were
  * design-audited but never measured past sf0.1).
  *
  * Replication is DETERMINISTIC (pure column expressions keyed on
  * (row id, replica) — no RNG state) and distribution-preserving, not
  * row-copying: an exact copy per replica would hand the near-dup and
  * LSH families degenerate 10-deep duplicate clusters whose pair
  * enumeration grows ~replica² per bucket — a corpus no organic 10×
  * growth produces. Instead each replica is transformed to look like
  * an independent sample of the same process:
  *
  *  - `documents`: ids offset per replica; ~half of each replica's
  *    tokens are rewritten onto a synthetic hash vocabulary, so
  *    cross-replica Jaccard lands well under the near-dup thresholds
  *    while within-replica token statistics (length, burstiness,
  *    shingle density) keep the original's shape.
  *  - `embeddings`: ids offset; each replica applies its own
  *    orthogonal transform (dimension rotation by `r` + per-(dim, r)
  *    hash-keyed sign flips). Norms and within-replica pairwise
  *    geometry are preserved exactly — every replica is the same
  *    point cloud in a different basis, and cross-replica cosines
  *    decorrelate.
  *  - fact tables (`events`, `orders`, `lineitem`): keys offset with
  *    per-table strides chosen so replicas' key ranges never collide
  *    (and never collide with the gates' synthetic insert offsets);
  *    foreign keys shift by the SAME stride as the referenced table's
  *    primary key, so join fan-outs stay exactly 10× row count with
  *    unchanged per-key selectivity.
  *  - small dims (`customer`, `supplier`, `part`) replicate with their
  *    own strides; `nation`/`region` stay fixed (the TPC-H rule —
  *    scale grows facts, not the 25-nation world).
  *
  * Run: `SPARK_GRAFT_CPUS=$(nproc) sbt "runMain graft.GenScale
  * /root/testdata/sf0.1 /root/repo/target/sf1 10"`. Output tables are
  * directories named `<table>.parquet` — Spark's reader treats them
  * exactly like the driver's single files.
  */
object GenScale {

  private def replicas(n: Int): DataFrame => DataFrame = df =>
    df.sparkSession.range(n).toDF("__r").crossJoin(df)

  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse("/root/testdata/sf0.1")
    val dst = args.lift(1).getOrElse("/root/repo/target/sf1")
    val factor = args.lift(2).map(_.toInt).getOrElse(10)
    // optional 4th arg: comma-separated table filter — a probe that
    // needs one big table (the 5e5-vector LSH saturation corpus)
    // shouldn't pay for a full factor-25 lakehouse
    val only = args.lift(3).map(_.split(",").toSet)
    def wanted(name: String): Boolean = only.forall(_.contains(name))
    val spark = SparkEntry.session()

    def write(name: String, df: => DataFrame, files: Int): Unit =
      if (wanted(name)) {
        df.repartition(files)
          .write.mode(SaveMode.Overwrite).parquet(s"$dst/$name.parquet")
        println(s"[genscale] $name: ${spark.read.parquet(s"$dst/$name.parquet").count()} rows")
      }
    def load(name: String): DataFrame =
      spark.read.parquet(s"$src/$name.parquet")
    val rep = replicas(factor)
    val r = col("__r")

    // dimensions the TPC-H scale rule keeps fixed
    write("region", load("region"), 1)
    write("nation", load("nation"), 1)

    write("customer", rep(load("customer"))
      .select((col("c_custkey") + r * 10000000L).as("c_custkey"),
        col("c_name"), col("c_nationkey"), col("c_acctbal"),
        col("c_mktsegment")), 2)
    write("supplier", rep(load("supplier"))
      .select((col("s_suppkey") + r * 1000000L).as("s_suppkey"),
        col("s_name"), col("s_nationkey"), col("s_acctbal")), 1)
    write("part", rep(load("part"))
      .select((col("p_partkey") + r * 10000000L).as("p_partkey"),
        col("p_name"), col("p_brand"), col("p_type"), col("p_size"),
        col("p_retailprice")), 2)

    write("orders", rep(load("orders"))
      .select((col("o_orderkey") + r * 10000000000L).as("o_orderkey"),
        (col("o_custkey") + r * 10000000L).as("o_custkey"),
        col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"),
        col("o_orderpriority")), 8)
    write("lineitem", rep(load("lineitem"))
      .select((col("l_orderkey") + r * 10000000000L).as("l_orderkey"),
        (col("l_partkey") + r * 10000000L).as("l_partkey"),
        (col("l_suppkey") + r * 1000000L).as("l_suppkey"),
        col("l_linenumber"), col("l_quantity"), col("l_extendedprice"),
        col("l_discount"), col("l_tax"), col("l_returnflag"),
        col("l_linestatus"), col("l_shipdate")), 16)

    // events keep their time axis (the streaming replays chunk by ts);
    // replica users are distinct people doing the same things at the
    // same times — exactly what a 10× user base looks like
    write("events", rep(graft.util.Tables.events(spark, src))
      .select((col("event_id") + r * 1000000000L).as("event_id"),
        col("ts"),
        (col("user_id") + r * 10000000L).as("user_id"),
        col("event_type"), col("value"), col("props")), 8)

    // documents: rewrite ~half the tokens per replica onto a synthetic
    // hash vocabulary (deterministic in (token, replica)); replica 0
    // is the original corpus
    val mutated = rep(load("documents")).select(
      (col("doc_id") + r * 10000000L).as("doc_id"),
      when(r === 0, col("text")).otherwise(
        array_join(
          transform(split(col("text"), " "), t =>
            when(pmod(hash(t, r), lit(10)) < 5,
              concat(lit("w"), pmod(abs(hash(t, r, lit(1))), lit(50000))))
              .otherwise(t)),
          " ")).as("text"),
      col("lang"), col("source"))
    write("documents", mutated
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars"), 4)

    // embeddings: per-replica orthogonal transform — rotate dimensions
    // by r and flip signs keyed on (dim, replica); norms and
    // within-replica geometry are bit-exact invariants of the original
    val dim = load("embeddings").select(size(col("embedding")))
      .head().getInt(0)
    val rotated = rep(load("embeddings")).select(
      (col("vec_id") + r * 10000000L).as("vec_id"),
      transform(sequence(lit(0), lit(dim - 1)), i =>
        (element_at(col("embedding"), (pmod(i + r, lit(dim)) + 1).cast("int")) *
          when(pmod(hash(i, r), lit(2)) === 0, 1.0f).otherwise(-1.0f))
          .cast("float")).as("embedding"),
      col("label"))
    // planted STEEP-regime pairs (r11 VERDICT task 5): the organic
    // corpus holds no cos ≥ 0.9 pairs, so the high-threshold LSH
    // scaling claim stayed theory. Every 100th vector gets a TWIN
    // (id + 5·10⁸, same replica's basis) perturbed by a deterministic
    // ±c·‖v‖/√dim per-coordinate offset, c = 0.35 → cos(v, twin)
    // ≈ 1/√(1+c²) ≈ 0.94 (spread ±0.02 by the v·δ cross term): a
    // controlled ~1% population of cos ≥ 0.9 pairs, one isolated pair
    // per planted id (cross-replica and twin-twin cosines stay
    // decorrelated). ScaleProbe at t = 0.9 measures recall/CPU against
    // the exact ground truth on this corpus. Runs at factor = 1 too —
    // an sf0.1-sized planted corpus for the small-scale point.
    val nrm = sqrt(aggregate(col("embedding"), lit(0.0d),
      (acc, x) => acc + x.cast("double") * x.cast("double")))
    // twin-id offset: 5·10⁸ clears every replica stride up to factor
    // 40 (the sf1/sf25e geometries keep their ids verbatim); a bigger
    // factor — the r14 n ≥ 5e5 LSH-saturation corpus runs factor 250 —
    // would collide base ids of replica ≥ 50 with earlier replicas'
    // twins, so the offset steps to 10¹⁰ there
    val twinOff = if (factor <= 40) 500000000L else 10000000000L
    val planted = rotated.filter(pmod(col("vec_id"), lit(100)) === 1)
      .select((col("vec_id") + lit(twinOff)).as("vec_id"),
        transform(sequence(lit(0), lit(dim - 1)), i =>
          (element_at(col("embedding"), (i + 1).cast("int")) +
            (when(pmod(hash(col("vec_id"), i), lit(2)) === 0, 1.0d)
              .otherwise(-1.0d) * lit(0.35) * nrm /
              math.sqrt(dim)).cast("float")).cast("float")).as("embedding"),
        col("label"))
    // file count scales with the factor: 2 files suffice through the
    // 505k-row geometries, but the factor-10000 (2e7-row, ~5 GB)
    // corpus in 2 files would hand every downstream scan 2 tasks
    // before its explicit exchange AND serialize the write itself
    write("embeddings", rotated.unionByName(planted),
      math.max(2, math.min(64, factor / 150)))

    println(s"[genscale] wrote factor-$factor corpus to $dst")
    spark.stop()
  }
}
