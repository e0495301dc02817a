package graftbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler._

/** In-memory spans around the benchmark's calls into the engine, plus
  * the Spark stages each span caused. Nothing is written until the run
  * writes its record.
  *
  * A disabled tracer records nothing and installs no listener, so the
  * untraced end-to-end run pays no tracing cost at all. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  import Tracer._

  private val t0 = System.nanoTime()
  private val nextId = new AtomicLong(1)
  private var stack = List.empty[Long]
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val listener = new StageListener
  private var listening = false
  var runId: Long = 0L

  private def nowMs: Double = (System.nanoTime() - t0) / 1e6

  /** Attach the stage listener (traced mode only). */
  def attach(): Unit = if (enabled && !listening) {
    sc.addSparkListener(listener); listening = true
  }

  /** Detach it, e.g. for the untraced half of the overhead pairs. */
  def detach(): Unit = if (listening) {
    CoreBridge.drainListenerBus(sc)
    sc.removeSparkListener(listener); listening = false
  }

  /** Time `body` as span `name`, child of the innermost open span. Jobs
    * submitted inside carry the span id, so their stages are attributed
    * to it. */
  def span[T](name: String)(body: => T): T =
    if (!enabled || !listening) body
    else {
      val id = nextId.getAndIncrement()
      val parent = stack.headOption.getOrElse(0L)
      val prevProp = sc.getLocalProperty(SpanProp)
      stack = id :: stack
      sc.setLocalProperty(SpanProp, id.toString)
      val start = nowMs
      try body
      finally {
        val end = nowMs
        stack = stack.tail
        sc.setLocalProperty(SpanProp, prevProp)
        spans += Span(id, parent, name, runId, start, end)
      }
    }

  def spanRecords: Seq[Span] = spans.toSeq

  def stageRecords: Seq[StageRec] = {
    if (listening) CoreBridge.drainListenerBus(sc)
    listener.stages.synchronized(listener.stages.toSeq)
  }

  /** Jobs submitted inside each span (by innermost span id). */
  def jobsBySpan: Map[Long, Int] = {
    if (listening) CoreBridge.drainListenerBus(sc)
    listener.synchronized(listener.jobSpans.toMap)
  }
}

object Tracer {
  val SpanProp = "graftbench.span"

  final case class Span(id: Long, parent: Long, name: String, run: Long,
      startMs: Double, endMs: Double)

  final case class StageRec(span: Long, tasks: Int, runMs: Long, cpuMs: Long,
      gcMs: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
      taskMaxMs: Long, taskMedianMs: Long)

  /** The benchmark's own listener: per stage, executor time, GC,
    * shuffle, spill and the task-duration spread (max / median). */
  final class StageListener extends SparkListener {
    val stages = mutable.ArrayBuffer.empty[StageRec]
    val jobSpans = mutable.HashMap.empty[Long, Int]
    private val stageSpan = mutable.HashMap.empty[Int, Long]
    private val taskMs = mutable.HashMap.empty[Int, mutable.ArrayBuffer[Long]]

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(SpanProp)))
        .map(_.toLong).getOrElse(0L)
      jobSpans(span) = jobSpans.getOrElse(span, 0) + 1
      e.stageIds.foreach(s => stageSpan(s) = span)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      if (e.taskInfo != null)
        taskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    }

    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val rec = synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val ds = taskMs.remove(i.stageId).map(_.sorted).getOrElse(mutable.ArrayBuffer.empty[Long])
        def med = if (ds.isEmpty) 0L else ds((ds.length - 1) / 2)
        StageRec(stageSpan.getOrElse(i.stageId, 0L), i.numTasks,
          m.executorRunTime, m.executorCpuTime / 1000000L,
          m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
          m.shuffleReadMetrics.totalBytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled,
          if (ds.isEmpty) 0L else ds.last, med)
      }
      stages.synchronized(stages += rec)
    }
  }
}
