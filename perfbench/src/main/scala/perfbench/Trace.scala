package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.{BenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** Listener totals for one span. */
final class Counts {
  var jobs, tasks, failedTasks = 0L
  var cpuNs, spillBytes, shuffleWriteBytes, inputBytes, outputBytes = 0L
}

/** One timed region around a call into an engine layer. */
final case class Span(id: Int, name: String, parent: Int, pass: Int,
                      startNs: Long, var endNs: Long = -1L,
                      var gcMs: Long = 0L, var allocBytes: Long = 0L) {
  val counts = new Counts
}

/** Spans recorded from the benchmark's own side of every engine call, and
  * a SparkListener that charges each job (and its stages' tasks) to the
  * span that launched it. The span id travels as a Spark local property,
  * which jobs submitted from helper threads inherit.
  *
  * When `traced` is false, `span` only runs its body and records nothing.
  * The caller adds the tracer as a listener only for the passes it
  * traces, so untraced passes measure the engine without tracing cost.
  */
final class Tracer(val traced: Boolean) extends SparkListener {
  private val Key = "perfbench.span"
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List.empty[Span]
  private val stageSpan = new java.util.concurrent.ConcurrentHashMap[Int, Span]()
  @volatile private var sc: SparkContext = _
  var pass = 0

  /** The context whose jobs are tagged; the caller adds this listener to
    * it for the passes it traces. */
  def attach(context: SparkContext): Unit = sc = context

  private def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  private val threads =
    ManagementFactory.getThreadMXBean.asInstanceOf[com.sun.management.ThreadMXBean]

  def span[A](name: String)(body: => A): A =
    if (!traced) body
    else {
      val parent = stack.headOption
      val s = Span(spans.size, name, parent.map(_.id).getOrElse(-1), pass,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Key, s.id.toString)
      val gc0 = gcMs
      val alloc0 = threads.getCurrentThreadAllocatedBytes
      try body
      finally {
        s.endNs = System.nanoTime()
        s.gcMs = gcMs - gc0
        s.allocBytes = threads.getCurrentThreadAllocatedBytes - alloc0
        stack = stack.tail
        sc.setLocalProperty(Key, parent.map(_.id.toString).orNull)
      }
    }

  /** Wait until every posted listener event has been delivered. */
  def drain(): Unit = if (sc != null) BenchBus.drain(sc)

  def recorded: Seq[Span] = spans.toSeq

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty(Key))).foreach { id =>
      val s = spans.synchronized(spans(id.toInt))
      s.counts.synchronized(s.counts.jobs += 1)
      e.stageIds.foreach(stageSpan.put(_, s))
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageSpan.get(e.stageId)).foreach { s =>
      val c = s.counts
      c.synchronized {
        c.tasks += 1
        if (e.reason != Success) c.failedTasks += 1
        Option(e.taskMetrics).foreach { m =>
          c.cpuNs += m.executorCpuTime
          c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.inputBytes += m.inputMetrics.bytesRead
          c.outputBytes += m.outputMetrics.bytesWritten
        }
      }
    }
}
