package graftbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerTaskEnd}

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable

/** A timed interval around one call into the engine. Spans of one query or
  * update round share a `group`; `parent` is 0 for a root span. */
final case class Span(id: Long, name: String, parent: Long, group: String,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
}

/** Spark work attributed to one span: the jobs launched while it was the
  * innermost open span on the calling thread, and their tasks. */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var taskNs = 0L
  var shuffleWriteBytes = 0L
  var inputBytes = 0L
  var recordsRead = 0L
  var spillBytes = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; taskNs += o.taskNs
    shuffleWriteBytes += o.shuffleWriteBytes; inputBytes += o.inputBytes
    recordsRead += o.recordsRead; spillBytes += o.spillBytes
  }
}

object Trace {
  /** The local property carrying the innermost span id. Job groups are
    * left alone: the engine's time limit uses them. */
  val SpanKey = "graftbench.span"

  /** Self time of `span`: its duration minus the part of it that its
    * children cover (overlapping children count once). */
  def selfNs(span: Span, children: Seq[Span]): Long = {
    val iv = children.map(c => (math.max(c.startNs, span.startNs),
      math.min(c.endNs, span.endNs))).filter(p => p._2 > p._1).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s; curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    span.durNs - covered
  }
}

/** Records spans from the harness's own code around calls into the engine
  * and tags the Spark jobs each call launches with the innermost span id.
  * Disabled, it runs the body and records nothing. */
final class Tracer(sc: SparkContext, @volatile var enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Long]
  private var nextId = 1L
  private var group = ""

  def all: Seq[Span] = spans.toSeq

  /** Spans opened inside `body` share the group `g`. */
  def inGroup[T](g: String)(body: => T): T = {
    val prev = group
    group = g
    try body finally group = prev
  }

  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.headOption.getOrElse(0L)
    val prevProp = sc.getLocalProperty(Trace.SpanKey)
    sc.setLocalProperty(Trace.SpanKey, id.toString)
    stack.push(id)
    val t0 = System.nanoTime()
    try body
    finally {
      val t1 = System.nanoTime()
      stack.pop()
      sc.setLocalProperty(Trace.SpanKey, prevProp)
      spans += Span(id, name, parent, group, t0, t1)
    }
  }

  def reset(): Unit = { spans.clear(); stack.clear() }
}

/** Attributes Spark jobs, tasks, task time and bytes to the span whose id
  * the launching thread carried in [[Trace.SpanKey]]. */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Int, Long]()
  private val work = new ConcurrentHashMap[Long, SparkWork]()

  private def of(span: Long): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    val p = Option(j.properties).flatMap(pr => Option(pr.getProperty(Trace.SpanKey)))
    p.foreach { s =>
      val span = s.toLong
      j.stageIds.foreach(st => stageSpan.put(st, span))
      of(span).synchronized(of(span).jobs += 1)
    }
  }

  override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(t.stageId)
    if (span != 0L || stageSpan.containsKey(t.stageId)) {
      val w = of(span)
      w.synchronized {
        w.tasks += 1
        val m = t.taskMetrics
        if (m != null) {
          w.taskNs += m.executorRunTime * 1000000L
          w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          w.inputBytes += m.inputMetrics.bytesRead
          w.recordsRead += m.inputMetrics.recordsRead + m.shuffleReadMetrics.recordsRead
          w.spillBytes += m.diskBytesSpilled
        }
      }
    }
  }

  /** Work attributed to `span` itself (not its children). */
  def workOf(span: Long): SparkWork = Option(work.get(span)).getOrElse(new SparkWork)

  def reset(): Unit = { stageSpan.clear(); work.clear() }
}
