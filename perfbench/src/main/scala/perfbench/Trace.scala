package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around each call into the program.
  * A span holds its name, start, end, parent and request id; all spans
  * stay in memory and are written out when the run ends. Times are epoch
  * milliseconds (fractional), the clock Spark's listener events use, so
  * a span can be laid against the intervals of the jobs it launched.
  *
  * When tracing is off, [[span]] runs the body and records nothing: the
  * end-to-end runs measure the program without the tracing cost. */
final class Trace(sc: SparkContext, val enabled: Boolean) {
  import Trace._

  private val originNanos = System.nanoTime()
  private val originMs = System.currentTimeMillis().toDouble
  private def nowMs(): Double = originMs + (System.nanoTime() - originNanos) / 1e6

  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 0
  private val gcBeans = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def gcMs(): Long = gcBeans.map(b => math.max(0L, b.getCollectionTime)).sum

  val listener: Option[JobListener] =
    if (enabled) { val l = new JobListener; sc.addSparkListener(l); Some(l) }
    else None

  def span[T](name: String, request: Int)(body: => T): T =
    if (!enabled) body
    else {
      nextId += 1
      val s = Span(nextId, stack.headOption.map(_.id).getOrElse(0), name,
        request, nowMs())
      val gc0 = gcMs()
      stack = s :: stack
      sc.setLocalProperty(SpanProperty, s.id.toString)
      try body
      finally {
        s.endMs = nowMs()
        s.gcMs = gcMs() - gc0
        stack = stack.tail
        sc.setLocalProperty(SpanProperty,
          stack.headOption.map(_.id.toString).orNull)
        spans += s
      }
    }

  /** Blocks until every event posted so far has reached the listener. */
  def drain(): Unit = listener.foreach(_ => org.apache.spark.perfbench.Bus.drain(sc))
}

object Trace {
  val SpanProperty = "perfbench.span"

  final case class Span(id: Int, parent: Int, name: String, request: Int,
      startMs: Double) {
    var endMs = 0.0
    var gcMs = 0L
  }

  final class JobRecord(val id: Int, val span: Int, val startMs: Long) {
    @volatile var endMs = 0L
    @volatile var tasks = 0L
    @volatile var shuffleBytes = 0L
    @volatile var inputBytes = 0L
    @volatile var outputBytes = 0L
  }

  /** Attributes each Spark job, and the tasks of its stages, to the span
    * that was open on the submitting thread. */
  final class JobListener extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, JobRecord]()
    private val stageJob = new ConcurrentHashMap[Int, Int]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p =>
        Option(p.getProperty(SpanProperty))).map(_.toInt).getOrElse(0)
      jobs.put(e.jobId, new JobRecord(e.jobId, span, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }

    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val job = Option(stageJob.get(e.stageId)).flatMap(j => Option(jobs.get(j)))
      val m = e.taskMetrics
      job.foreach { j =>
        j.synchronized {
          j.tasks += 1
          if (m != null) {
            j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
              m.shuffleWriteMetrics.bytesWritten
            j.inputBytes += m.inputMetrics.bytesRead
            j.outputBytes += m.outputMetrics.bytesWritten
          }
        }
      }
    }
  }
}
