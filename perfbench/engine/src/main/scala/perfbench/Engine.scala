package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.Serving
import graft.streaming.{Medallion, Schemas, StreamJobs}

/** The system under test, driven only through the library's public
  * entry points. One process runs one workload in a fresh root
  * directory:
  *
  *  1. set up (session, queries, a warm-up input through the whole
  *     chain) and announce readiness with a `ready` file;
  *  2. process whatever the separate generator publishes until it
  *     writes `gen_done`, then drain;
  *  3. run the dashboard read set and write `engine.json` (plus
  *     `spans.jsonl` when traced); the oracle reads the committed
  *     output files themselves.
  *
  * Arguments are `key=value`: `workload`, `root`, `trace` (0|1),
  * `cores`, `serve_rounds`, and the symbol pair `pair_a`/`pair_b`
  * the arbitrage read compares.
  */
object Engine {

  def main(args: Array[String]): Unit = {
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val o = args.map { a =>
      val i = a.indexOf('=')
      require(i > 0, s"argument '$a' is not key=value")
      a.take(i) -> a.drop(i + 1)
    }.toMap
    val root = o("root")
    val cores = o.getOrElse("cores", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$root/warehouse")
      .config("spark.local.dir", s"$root/tmp")
      .appName("perfbench").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    System.err.println(s"[engine] session ready ${(System.currentTimeMillis() - jvmStartMs) / 1000.0} s after JVM start")
    val rec = new Recorder(spark, o.get("trace").contains("1"))
    rec.install()
    val w: Feed = o("workload") match {
      case "feed_medallion" => new FeedMedallion(spark, root, o, rec)
      case "feed_spread" => new FeedSpread(spark, root, o, rec)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    w.setup()
    val readyMs = System.currentTimeMillis()
    writeFile(s"$root/ready", readyMs.toString)
    val out = new Json
    out.num("setup_s", (readyMs - jvmStartMs) / 1000.0)
    out.num("ready_ms", readyMs.toDouble)
    val osBean = ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean]
    val heap = new HeapSampler
    val gcMs0 = gcMs()
    w.run(() => out.num("cpu_measured_from_s", osBean.getProcessCpuTime / 1e9))
    val cpu1 = osBean.getProcessCpuTime
    val endMs = System.currentTimeMillis()
    out.num("cpu_end_s", cpu1 / 1e9)
    out.num("gc_s", (gcMs() - gcMs0) / 1000.0)
    val (heapPeak, heapLive) = heap.stop()
    out.num("heap_peak_mb", heapPeak / 1048576.0)
    out.num("heap_live_end_mb", heapLive / 1048576.0)
    out.num("end_ms", endMs.toDouble)
    w.stop()
    val serveMs = w.serve(o.getOrElse("serve_rounds", "15").toInt)
    out.arr("serve_ms", serveMs.map(_.toString))
    if (rec.traced) {
      out.num("spark_jobs", rec.jobs.get.toDouble)
      out.num("spark_stages", rec.stages.get.toDouble)
      out.num("spark_task_cpu_s", rec.taskCpuNs.get / 1e9)
      out.num("spark_shuffle_read_bytes", rec.shuffleReadBytes.get.toDouble)
      out.num("spark_shuffle_write_bytes", rec.shuffleWriteBytes.get.toDouble)
      out.arr("progress", rec.progress.asScala.toSeq)
      val sb = new StringBuilder
      rec.spanList.foreach { s =>
        sb.append(s"""{"id":${s.id},"parent":${s.parent},"trace":"${s.traceId}",""" +
          s""""name":"${s.name}","start_us":${s.startUs},"end_us":${s.endUs}}""" + "\n")
      }
      writeFile(s"$root/spans.jsonl", sb.toString)
    }
    writeFile(s"$root/engine.json", out.render)
    spark.stop()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Heap still in use after each collection: its peak over the run,
    * and its value after a full collection at the end — the live data,
    * not the garbage a collection has yet to reclaim. Both are read from
    * the collectors' own reports, so allocations racing the read do not
    * count.
    */
  private final class HeapSampler {
    private var peak = 0L
    private var explicit = -1L
    private val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
    private val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
          .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
        synchronized {
          peak = math.max(peak, used)
          if (info.getGcCause == "System.gc()") explicit = used
        }
      }
    private val beans = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .collect { case b: javax.management.NotificationEmitter => b }
    beans.foreach(_.addNotificationListener(listener, null, null))

    /** (the peak, the heap in use after a full collection now) */
    def stop(): (Long, Long) = {
      // notifications arrive asynchronously; a request made while native
      // code holds the GC locker can be skipped, so it is repeated
      var asked = 0L
      Engine.await("the collection report", 20000L) {
        val now = System.currentTimeMillis()
        if (now - asked > 2000L) { System.gc(); asked = now }
        synchronized(explicit >= 0)
      }
      beans.foreach(_.removeNotificationListener(listener))
      synchronized((peak, explicit))
    }
  }

  def writeFile(path: String, s: String): Unit = {
    val tmp = Paths.get(path + ".tmp")
    Files.write(tmp, s.getBytes(StandardCharsets.UTF_8))
    Files.move(tmp, Paths.get(path), StandardCopyOption.ATOMIC_MOVE)
  }

  /** Poll `cond` every 10 ms; fail loudly after `timeoutMs`. */
  def await(what: String, timeoutMs: Long)(cond: => Boolean): Unit = {
    val deadline = System.currentTimeMillis() + timeoutMs
    while (!cond) {
      if (System.currentTimeMillis() > deadline)
        throw new IllegalStateException(s"timed out waiting for $what")
      Thread.sleep(10)
    }
  }

  /** Minimal JSON object writer: numbers and raw arrays. */
  final class Json {
    private val fields = ArrayBuffer.empty[String]
    def num(k: String, v: Double): Unit = fields += s""""$k":$v"""
    def arr(k: String, raw: Seq[String]): Unit = fields += s""""$k":[${raw.mkString(",")}]"""
    def render: String = fields.mkString("{", ",\n", "}\n")
  }
}

/** Shared feed life cycle: queries start on input directories that
  * already hold one warm-up file each, setup ends once the warm-up has
  * passed the last query, and the drain ends when the generator has
  * finished and every query is idle.
  */
abstract class Feed(root: String, rec: Recorder) {
  def queries: Seq[StreamingQuery]

  def setup(): Unit

  /** The dashboard's queries against the workload's output tables, as
    * spans of trace `trace` under `parent`.
    */
  def readSet(trace: String, parent: Long): Unit

  /** After the drain: one untimed round compiles the plans, then
    * `rounds` timed ones.
    */
  def serve(rounds: Int): Seq[Double] = if (rounds == 0) Nil else {
    readSet("serve-warm", 0L)
    (1 to rounds).map { r =>
      val t = System.nanoTime()
      rec.tree("serve", s"serve-$r")(readSet(s"serve-$r", _))
      (System.nanoTime() - t) / 1e6
    }
  }

  /** Process input until the generator is done and the queries have
    * drained; `measuring()` marks the end of the warm-up.
    */
  def run(measuring: () => Unit): Unit = {
    Engine.await("warm-up", 170000L)(new File(s"$root/measure_start").exists)
    measuring()
    Engine.await("generator", 170000L)(new File(s"$root/gen_done").exists)
    queries.foreach(_.processAllAvailable())
    // a batch that moved the watermark is followed at once by a no-data
    // batch that emits the finalized rows; idle means no new batch for
    // half a second
    val last = queries.last
    var seen = -2L
    var stableSince = System.currentTimeMillis()
    Engine.await("idle", 30000L) {
      last.exception.foreach(e => throw e)
      val id = Option(last.lastProgress).map(_.batchId).getOrElse(-1L)
      val now = System.currentTimeMillis()
      if (id != seen) { seen = id; stableSince = now }
      now - stableSince > 500
    }
  }

  def stop(): Unit = queries.foreach(_.stop())
}

final class FeedMedallion(spark: SparkSession, root: String, o: Map[String, String],
                          rec: Recorder) extends Feed(root, rec) {
  private val paths = StreamJobs.MedallionPaths(s"$root/lake")
  private var qs: Seq[StreamingQuery] = Nil
  def queries: Seq[StreamingQuery] = qs

  def setup(): Unit = {
    val (b, s, g) = StreamJobs.runMedallion(spark, s"$root/raw", paths,
      Schemas.kafkaShaped, dedupDelay = Some("10 seconds"),
      watermarkDelay = "2 seconds", windowDur = "5 seconds")
    qs = Seq(b, s, g)
    System.err.println(s"[engine] queries started at ${System.currentTimeMillis()}")
    Engine.writeFile(s"$root/queries.json",
      s"""{"bronze":"${b.id}","silver":"${s.id}","gold":"${g.id}"}""")
    Engine.await("warm-up through gold", 120000L) {
      qs.foreach(_.exception.foreach(e => throw e))
      g.recentProgress.exists(_.numInputRows > 0)
    }
  }

  def readSet(trace: String, parent: Long): Unit = {
    val gold = spark.read.parquet(paths.gold)
    rec.span("serve.latest", trace, parent) {
      Serving.latestPerKey(gold, "symbol", "window_start").collect()
    }
    rec.span("serve.arb", trace, parent) {
      Serving.arbitrageOpportunities(gold, o("pair_a"), o("pair_b"), 0.0).collect()
    }
  }
}

final class FeedSpread(spark: SparkSession, root: String, o: Map[String, String],
                       rec: Recorder) extends Feed(root, rec) {
  private var qs: Seq[StreamingQuery] = Nil
  def queries: Seq[StreamingQuery] = qs

  private def silverOf(dir: String): DataFrame =
    Medallion.silverTrades(Medallion.bronzeEnvelope(
      StreamJobs.jsonLinesStream(spark, dir, Schemas.kafkaShaped)), dedupDelay = None)

  def setup(): Unit = {
    val q = StreamJobs.parquetAppend(
      Medallion.streamSpreadBucketed(silverOf(s"$root/rawA"), silverOf(s"$root/rawB"),
        watermarkDelay = "2 seconds", bandSeconds = 5),
      s"$root/lake/spread", s"$root/checkpoints/spread", Trigger.ProcessingTime(0))
    qs = Seq(q)
    Engine.writeFile(s"$root/queries.json", s"""{"spread":"${q.id}"}""")
    Engine.await("warm-up through the join", 120000L) {
      q.exception.foreach(e => throw e)
      q.recentProgress.exists(_.numInputRows > 0)
    }
  }

  def readSet(trace: String, parent: Long): Unit = {
    val pairs = spark.read.parquet(s"$root/lake/spread")
    rec.span("serve.latest", trace, parent) {
      Serving.latestPerKey(pairs, "base", "ts_a", "ts_b").collect()
    }
    rec.span("serve.topk", trace, parent) {
      Serving.topKRecent(pairs.withColumn("abs_spread", abs(col("spread"))),
        "abs_spread", 20, "ts_a", "ts_b").collect()
    }
  }
}
