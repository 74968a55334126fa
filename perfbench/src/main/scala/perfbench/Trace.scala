package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** One timed call into a layer (or one benchmark op / generator / check
  * step). Spark work launched while the span is the innermost open one is
  * attributed to it through the `perfbench.span` local property. */
final case class Span(id: Long, name: String, parent: Long, op: Long,
                      startNs: Long, var endNs: Long = 0L, var items: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Per-span Spark counters, filled by [[Trace.Listener]]. */
final class SpanCounters {
  var jobs = 0L
  var tasks = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L
}

/** Span recorder. Disabled (the end-to-end runs), `span` only runs its body:
  * no listener is registered and nothing is recorded. Enabled (the traced
  * run), spans stay in memory and are written out when the run ends. */
final class Trace(sc: SparkContext, traced: Boolean) {
  import Trace._

  private val spans = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[Span]
  private var nextId = 1L
  private var currentOp = 0L
  private val listener = new Listener
  private var enabled = false
  setEnabled(traced)

  def isEnabled: Boolean = enabled

  /** Switches recording on or off between ops. Switching off drains the
    * listener bus first, so the spans already recorded keep every count. */
  def setEnabled(on: Boolean): Unit = if (on != enabled) {
    if (on) sc.addSparkListener(listener)
    else {
      org.apache.spark.perfbenchbridge.ListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    enabled = on
  }

  /** Times `f` as span `name` under the innermost open span. A span named
    * `op:*` starts a new op id for itself and its children. */
  def span[A](name: String)(f: => A): A =
    if (!enabled) f
    else {
      if (name.startsWith(OpPrefix)) currentOp += 1
      val parent = stack.headOption.map(_.id).getOrElse(0L)
      val s = Span(nextId, name, parent, currentOp, System.nanoTime())
      nextId += 1
      spans += s
      stack.push(s)
      sc.setLocalProperty(SpanProperty, s.id.toString)
      sc.setJobDescription(s"perfbench:$name")
      try f
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        val outer = stack.headOption
        sc.setLocalProperty(SpanProperty, outer.map(_.id.toString).orNull)
        sc.setJobDescription(outer.map(o => s"perfbench:${o.name}").orNull)
      }
    }

  /** Records the input items the innermost open span processed. */
  def items(n: Long): Unit = if (enabled) stack.headOption.foreach(_.items = n)

  /** Waits until every listener event posted so far has been delivered,
    * then returns the recorded spans with their counters. */
  def finish(): (Seq[Span], Map[Long, SpanCounters]) = {
    setEnabled(false)
    (spans.toSeq, listener.counters)
  }
}

object Trace {
  val SpanProperty = "perfbench.span"
  val OpPrefix = "op:"

  final class Listener extends SparkListener {
    private val byStage = mutable.Map.empty[Int, Long]
    private val bySpan = mutable.Map.empty[Long, SpanCounters]

    private def of(span: Long): SpanCounters =
      bySpan.getOrElseUpdate(span, new SpanCounters)

    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      val span = Option(e.properties)
        .flatMap(p => Option(p.getProperty(SpanProperty)))
        .map(_.toLong).getOrElse(0L)
      of(span).jobs += 1
      e.stageIds.foreach(byStage(_) = span)
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val c = of(byStage.getOrElse(e.stageId, 0L))
      c.tasks += 1
      Option(e.taskMetrics).foreach { m =>
        c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
        c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }

    def counters: Map[Long, SpanCounters] = synchronized(bySpan.toMap)
  }
}
