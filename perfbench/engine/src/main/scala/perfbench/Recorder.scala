package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.StreamingQueryListener

/** One recorded interval: `parent` is the id of the span that caused
  * it (0 for a root), `traceId` groups the spans of one read round or one
  * micro-batch. Times are epoch microseconds.
  */
final case class Span(id: Long, parent: Long, traceId: String, name: String,
                      startUs: Long, endUs: Long)

/** Everything the traced run observes from outside the library: spans
  * around each layer call, Spark's public listener events, and the
  * streaming progress reports. Untraced, it records nothing and adds
  * no listener; `span` then only runs its body.
  */
final class Recorder(spark: SparkSession, val traced: Boolean) {
  private val baseUs = System.currentTimeMillis() * 1000L
  private val baseNs = System.nanoTime()
  private def nowUs: Long = baseUs + (System.nanoTime() - baseNs) / 1000L

  private val ids = new AtomicLong(0L)
  private val spans = new ConcurrentLinkedQueue[Span]()
  val progress = new ConcurrentLinkedQueue[String]()
  val jobs = new AtomicLong(0L)
  val stages = new AtomicLong(0L)
  val taskCpuNs = new AtomicLong(0L)
  val shuffleReadBytes = new AtomicLong(0L)
  val shuffleWriteBytes = new AtomicLong(0L)

  /** Local property carrying the enclosing span's id into the stages
    * the call submits, so each stage span knows its parent.
    */
  private val SpanKey = "perfbench.span"
  private val TraceKey = "perfbench.trace"
  // stage id -> (parent span id, trace id), captured at submission
  private val stageParent =
    new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()

  private def newId(): Long = ids.incrementAndGet()

  private def record(parent: Long, traceId: String, name: String,
             startUs: Long, endUs: Long): Long = {
    val id = newId()
    spans.add(Span(id, parent, traceId, name, startUs, endUs))
    id
  }

  /** Run `body` as span `name` under `parent`. */
  def span[A](name: String, traceId: String, parent: Long = 0L)(body: => A): A =
    tree(name, traceId, parent)(_ => body)

  /** [[span]] whose body receives the span's id (0 when untraced), to
    * parent the spans it opens.
    */
  def tree[A](name: String, traceId: String, parent: Long = 0L)(body: Long => A): A =
    if (!traced) body(0L)
    else {
      val id = newId()
      val sc = spark.sparkContext
      val prevSpan = sc.getLocalProperty(SpanKey)
      val prevTrace = sc.getLocalProperty(TraceKey)
      sc.setLocalProperty(SpanKey, id.toString)
      sc.setLocalProperty(TraceKey, traceId)
      val s = nowUs
      try body(id)
      finally {
        spans.add(Span(id, parent, traceId, name, s, nowUs))
        sc.setLocalProperty(SpanKey, prevSpan)
        sc.setLocalProperty(TraceKey, prevTrace)
      }
    }

  /** Streaming stages carry the query id and batch id as local
    * properties; the micro-batch span is rebuilt from the progress
    * report afterwards, so the stage names its parent by that pair.
    */
  private def parentOf(props: java.util.Properties): (Long, String) =
    if (props == null) (0L, "")
    else Option(props.getProperty(SpanKey)) match {
      case Some(id) => (id.toLong, Option(props.getProperty(TraceKey)).getOrElse(""))
      case None =>
        val q = props.getProperty("sql.streaming.queryId")
        val b = props.getProperty("streaming.sql.batchId")
        if (q != null && b != null) (-1L, s"$q/$b") else (0L, "")
    }

  def install(): Unit = if (traced) {
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageParent.put(e.stageInfo.stageId, parentOf(e.properties))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val si = e.stageInfo
        stages.incrementAndGet()
        val tm = si.taskMetrics
        if (tm != null) {
          taskCpuNs.addAndGet(tm.executorCpuTime)
          shuffleReadBytes.addAndGet(tm.shuffleReadMetrics.totalBytesRead)
          shuffleWriteBytes.addAndGet(tm.shuffleWriteMetrics.bytesWritten)
        }
        val (parent, traceId) = Option(stageParent.remove(si.stageId)).getOrElse((0L, ""))
        for (s <- si.submissionTime; c <- si.completionTime)
          record(parent, traceId, "spark.stage", s * 1000L, c * 1000L)
      }
    })
    spark.streams.addListener(new StreamingQueryListener {
      import StreamingQueryListener._
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress.json)
    })
  }

  def spanList: Seq[Span] = spans.asScala.toSeq
}
