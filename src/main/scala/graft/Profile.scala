package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}

/** Dev profiler for `SparkEntry.queries` gates, run in the session
  * Verify and Bench use ([[SparkEntry.session]]), so the plans it times
  * are the plans Verify checks.
  *
  * Usage: runMain graft.Profile <plan|metrics|stages> <sfDir> <gate,...> [outDir]
  *
  *  - `plan`: run each gate and print its EXECUTED (post-AQE) plan;
  *    with `outDir`, also write that plan's formatted explain to
  *    `outDir/<gate>.txt` (formatted mode names PushedFilters and
  *    ReadSchema per scan and numbers the operators — what plan-diff
  *    claims are checked against).
  *  - `metrics`: run each gate and print its executed plan tree with
  *    every operator's SQL metrics.
  *  - `stages`: run each gate and print its wall time, executor CPU,
  *    and its top 20 stages by CPU with run time and shuffle bytes
  *    (stage names carry the operator callsite).
  *
  * Every mode's `===` line carries the gate's wall time, executor CPU
  * and its Janino compile count (the `CodegenMetrics` compilation
  * delta over the run; codegen-cache hits do not count), so a gate
  * that recompiles its generated code shows at the gate layer.
  *
  * No mode prints an un-executed plan: before execution an AQE plan
  * shows no WholeStageCodegen nodes and placeholder exchanges, a false
  * signal for plan audits.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3 && Set("plan", "metrics", "stages")(args(0)),
      "usage: graft.Profile <plan|metrics|stages> <sfDir> <gate,...> [outDir]")
    val Array(mode, sfDir, gates) = args.take(3)
    val outDir = args.lift(3)
    val spark = SparkEntry.session()
    // per-stage (name, executor CPU ns, run ms, shuffle write, shuffle
    // read) over the current gate; `cpu` totals executor CPU ns
    val cpu = new AtomicLong()
    val stageAgg = new ConcurrentHashMap[Int, (String, Long, Long, Long, Long)]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null) {
          val m = te.taskMetrics
          cpu.addAndGet(m.executorCpuTime)
          stageAgg.merge(te.stageId,
            ("", m.executorCpuTime, m.executorRunTime,
              m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead),
            (a, b) => (a._1, a._2 + b._2, a._3 + b._3, a._4 + b._4, a._5 + b._5))
        }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageAgg.merge(sc.stageInfo.stageId, (sc.stageInfo.name, 0L, 0L, 0L, 0L),
          (a, b) => (b._1, a._2, a._3, a._4, a._5))
    })
    gates.split(',').foreach { name =>
      stageAgg.clear()
      val df = SparkEntry.queries(name)(spark, sfDir)
      // execute THIS plan object: df.count() / df.write both wrap the
      // logical plan in a NEW QueryExecution, leaving this AQE root
      // un-finalized — its printed tree would be the initial plan
      val plan = df.queryExecution.executedPlan
      def compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      val c0 = cpu.get(); val j0 = compiles; val t0 = System.nanoTime()
      val n = plan.execute().count()
      val wall = (System.nanoTime() - t0) / 1e9
      val janino = compiles - j0
      Thread.sleep(300) // listener drain
      println(f"=== $name: $n rows, wall=$wall%.2f s, cpu=${(cpu.get() - c0) / 1e9}%.1f s, " +
        s"compiles=$janino ===")
      mode match {
        case "plan" =>
          println(plan)
          outDir.foreach { d =>
            Files.createDirectories(Paths.get(d))
            Files.writeString(Paths.get(d, s"$name.txt"),
              df.queryExecution.explainString(FormattedMode))
          }
        case "metrics" =>
          def walk(p: SparkPlan, depth: Int): Unit = {
            val ms = p.metrics.toSeq.sortBy(_._1)
              .map { case (k, m) => s"$k=${m.value}" }.mkString(" ")
            println(("  " * depth) + p.nodeName + " " + ms)
            p.children.foreach(walk(_, depth + 1))
            p match {
              case a: AdaptiveSparkPlanExec => walk(a.executedPlan, depth + 1)
              case q: QueryStageExec => walk(q.plan, depth + 1)
              case _ => ()
            }
          }
          walk(plan, 0)
        case "stages" =>
          stageAgg.asScala.toSeq.sortBy(-_._2._2).take(20).foreach {
            case (sid, (nm, ct, rt, sw, sr)) =>
              println(f"[stage] $sid%5d cpu=${ct / 1e9}%7.2f s run=${rt / 1e3}%7.1f s " +
                f"swr=${sw / 1e6}%8.1f MB srd=${sr / 1e6}%8.1f MB  $nm")
          }
      }
    }
    spark.stop()
  }
}
