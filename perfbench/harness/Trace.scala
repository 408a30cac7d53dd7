package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Per-span task counters, filled from listener events. */
final class Counters {
  var jobs = 0L
  var tasks = 0L
  var runS = 0.0
  var gcS = 0.0
  var schedDelayS = 0.0
  var inBytes = 0L
  var inRecords = 0L
  var outBytes = 0L
  var shuffleWrite = 0L
  var spill = 0L
  var peakExec = 0L
  val jobIntervals = mutable.ArrayBuffer.empty[(Long, Long)] // epoch ms
}

final case class Span(id: Long, name: String, parent: Long, runId: String,
    attrs: Map[String, String], startNs: Long, var endNs: Long = -1L)

/** Spans recorded by the benchmark around its calls into each layer, kept
  * in memory. While a span is open its id rides every Spark job as the
  * local property [[Tracer.Prop]], so the listener can charge task
  * metrics to it. Disabled tracers record nothing and tag nothing. */
final class Tracer(sc: SparkContext, runId: String) {
  @volatile var enabled = false
  private val nextId = new AtomicLong(1)
  private val stack = mutable.Stack.empty[Span]
  val spans = mutable.ArrayBuffer.empty[Span]
  val listener = new SpanListener

  def span[A](name: String, attrs: (String, String)*)(body: => A): A =
    if (!enabled) body
    else {
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId.getAndIncrement(), name, parent, runId, attrs.toMap,
        System.nanoTime())
      stack.push(s)
      spans += s
      sc.setLocalProperty(Tracer.Prop, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        sc.setLocalProperty(Tracer.Prop, stack.headOption.map(_.id.toString).orNull)
      }
    }
}

object Tracer { val Prop = "perfbench.span" }

/** Charges each finished task to the span its job was started under. */
final class SpanListener extends SparkListener {
  val bySpan = new ConcurrentHashMap[Long, Counters]()
  private val jobSpan = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val stageSubmit = new ConcurrentHashMap[Int, java.lang.Long]()

  private def counters(span: Long): Counters =
    bySpan.computeIfAbsent(span, _ => new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.Prop)))
    p.foreach { id =>
      jobSpan.put(e.jobId, id.toLong)
      jobStart.put(e.jobId, e.time)
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
      val c = counters(id.toLong)
      c.synchronized(c.jobs += 1)
    }
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobSpan.get(e.jobId)).foreach { id =>
      val c = counters(id)
      c.synchronized(c.jobIntervals += ((jobStart.get(e.jobId).longValue, e.time)))
    }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val job = stageJob.get(e.stageId)
    val id = if (stageJob.containsKey(e.stageId)) jobSpan.get(job) else null
    if (id == null || e.taskMetrics == null) return
    val m = e.taskMetrics
    val info = e.taskInfo
    val c = counters(id)
    c.synchronized {
      c.tasks += 1
      c.runS += m.executorRunTime / 1e3
      c.gcS += m.jvmGCTime / 1e3
      // Spark UI's scheduler delay plus the wait between stage submission
      // and task launch (a task queued behind busy cores).
      val overhead = info.duration - m.executorRunTime - m.executorDeserializeTime -
        m.resultSerializationTime - info.gettingResultTime
      val queued = Option(stageSubmit.get(e.stageId))
        .map(t => math.max(0L, info.launchTime - t)).getOrElse(0L)
      c.schedDelayS += (math.max(0L, overhead) + queued) / 1e3
      c.inBytes += m.inputMetrics.bytesRead
      c.inRecords += m.inputMetrics.recordsRead
      c.outBytes += m.outputMetrics.bytesWritten
      c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExec = math.max(c.peakExec, m.peakExecutionMemory)
    }
  }
}
