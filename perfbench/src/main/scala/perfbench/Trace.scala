package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One traced interval. `parent` is the span that caused it (0 = root);
  * `group` is the shared id of one entry, micro-batch or lifecycle call. */
final case class Span(id: Long, parent: Long, name: String, layer: String,
    group: String, startNs: Long, endNs: Long)

/** Spans kept in memory and written out when the run ends. Disabled, every
  * call is a plain pass-through, so the untraced run pays nothing.
  *
  * The current span id rides a Spark local property, which Spark copies
  * into every job the calling thread submits and into the threads it
  * starts (a streaming query's execution thread inherits the properties of
  * the thread that called `start()`). [[JobListener]] reads it back, so
  * every Spark job becomes a child span of the benchmark call that caused
  * it. */
object Trace {
  val SpanProperty = "perfbench.span"
  @volatile var enabled = false
  @volatile private var sc: SparkContext = _
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val queryParents = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  private val ids = new AtomicLong(0)

  def attach(context: SparkContext): Unit = sc = context

  def nextId(): Long = ids.incrementAndGet()

  def record(s: Span): Unit = if (enabled) spans.add(s)

  def all: Seq[Span] = spans.asScala.toSeq

  def span[T](name: String, layer: String, group: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId()
      val prev = Option(sc.getLocalProperty(SpanProperty))
      sc.setLocalProperty(SpanProperty, id.toString)
      val t0 = System.nanoTime()
      try body
      finally {
        record(Span(id, prev.map(_.toLong).getOrElse(0L), name, layer, group,
          t0, System.nanoTime()))
        sc.setLocalProperty(SpanProperty, prev.orNull)
      }
    }

  /** Make the current span the parent of the jobs of a streaming query
    * started before tracing began (its thread carries no span id). */
  def adopt(queryId: java.util.UUID): Unit =
    if (enabled) Option(sc.getLocalProperty(SpanProperty))
      .foreach(id => queryParents.put(queryId.toString, id.toLong))

  def parentOfQuery(queryId: String): Long = queryParents.getOrDefault(queryId, 0L)
}

/** Scheduler accounting for the traced run: every job becomes a span under
  * the benchmark span that submitted it, and task metrics are totalled for
  * the `engine.*` layer metrics. Registered only when tracing. */
final class JobListener extends SparkListener {
  private val jobStart = mutable.Map.empty[Int, (Long, Long, String)]
  private val stageTaskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Long]]
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var taskMs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var shuffleReadBytes = 0L
  var spillBytes = 0L
  var inputBytes = 0L
  var stageSkewMax = 0.0

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    val parent = props.flatMap(p => Option(p.getProperty(Trace.SpanProperty)))
      .map(_.toLong)
      .orElse(props.flatMap(p => Option(p.getProperty("sql.streaming.queryId")))
        .map(Trace.parentOfQuery))
      .getOrElse(0L)
    val batch = props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
      .getOrElse("")
    jobStart(e.jobId) = (System.nanoTime(), parent, batch)
    jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobStart.remove(e.jobId).foreach { case (t0, parent, batch) =>
      Trace.record(Span(Trace.nextId(), parent, s"job ${e.jobId}", "engine",
        batch, t0, System.nanoTime()))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    tasks += 1
    Option(e.taskMetrics).foreach { m =>
      taskMs += m.executorRunTime
      gcMs += m.jvmGCTime
      shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      inputBytes += m.inputMetrics.bytesRead
      stageTaskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty) += m.executorRunTime
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      stages += 1
      val key = (e.stageInfo.stageId, e.stageInfo.attemptNumber())
      stageTaskMs.remove(key).filter(_.size > 1).foreach { ts =>
        val mean = ts.sum.toDouble / ts.size
        // a stage whose tasks all took under 10 ms has no skew worth naming
        if (mean >= 10) stageSkewMax = math.max(stageSkewMax, ts.max / mean)
      }
    }

  /** The `engine.*` per-layer metrics over a phase of `wallS` seconds on
    * `cores` cores. */
  def metrics(wallS: Double, cores: Int): Seq[(String, Double)] = synchronized {
    val mb = 1024.0 * 1024.0
    Seq(
      "engine.jobs" -> jobs.toDouble,
      "engine.stages" -> stages.toDouble,
      "engine.tasks" -> tasks.toDouble,
      "engine.task_s" -> taskMs / 1000.0,
      "engine.idle_core_s" -> math.max(0.0, wallS * cores - taskMs / 1000.0),
      "engine.shuffle_write_mb" -> shuffleWriteBytes / mb,
      "engine.shuffle_read_mb" -> shuffleReadBytes / mb,
      "engine.spill_mb" -> spillBytes / mb,
      "engine.gc_s" -> gcMs / 1000.0,
      "engine.input_mb" -> inputBytes / mb,
      "engine.stage_skew_max" -> stageSkewMax)
  }
}
