package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.sql.PerfbenchBridge
import org.apache.spark.scheduler._

/** One timed call from the benchmark into a layer. `layer` is the module the
  * span is charged to; `op` groups the spans of one traced op. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    layer: String, start: Long, var end: Long = 0L)

/** Spark work charged to one span: the jobs it launched and their tasks. */
final class Work {
  var jobs = 0L
  var stages = 0L
  var tasks = 0L
  var cpuNs = 0L
  var gcMs = 0L
  var shuffleWriteBytes = 0L
  var spillBytes = 0L

  def add(o: Work): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; cpuNs += o.cpuNs
    gcMs += o.gcMs; shuffleWriteBytes += o.shuffleWriteBytes
    spillBytes += o.spillBytes
  }
  def cpuS: Double = cpuNs / 1e9
}

/** The one listener of a traced run. Every job carries the id of the span
  * that was innermost on the submitting thread (a Spark local property, so
  * broadcast and AQE stage submissions inherit it); stages and tasks are
  * charged to their job's span. */
final class SpanListener extends SparkListener {
  private val stageSpan = mutable.Map[Int, Int]()
  val work: mutable.Map[Int, Work] = mutable.Map[Int, Work]()

  private def of(span: Int): Work = work.getOrElseUpdate(span, new Work)

  /** Executor CPU of every task seen so far, traced or not. */
  def totalCpuNs: Long = synchronized(work.values.map(_.cpuNs).sum)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties)
      .flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .map(_.toInt).getOrElse(0)
    of(span).jobs += 1
    e.stageIds.foreach(s => stageSpan.getOrElseUpdate(s, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      of(stageSpan.getOrElse(e.stageInfo.stageId, 0)).stages += 1
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val w = of(stageSpan.getOrElse(e.stageId, 0))
    w.tasks += 1
    val m = e.taskMetrics
    if (m != null) {
      w.cpuNs += m.executorCpuTime
      w.gcMs += m.jvmGCTime
      w.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      w.spillBytes += m.diskBytesSpilled
    }
  }
}

/** Records spans in memory; they are written out when the run ends. */
final class Tracer(sc: SparkContext, val listener: SpanListener) {
  val spans: mutable.ArrayBuffer[Span] = mutable.ArrayBuffer[Span]()
  private var current = 0
  private var op = 0

  def span[T](name: String, layer: String)(body: => T): T = {
    val s = Span(spans.size + 1, current, op, name, layer, System.nanoTime())
    spans += s
    val saved = sc.getLocalProperty(Tracer.SpanKey)
    sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
    current = s.id
    try body
    finally {
      s.end = System.nanoTime()
      current = s.parent
      sc.setLocalProperty(Tracer.SpanKey, saved)
    }
  }

  /** A traced op: its spans share one op id; returns the root span. */
  def op[T](opId: Int)(body: => T): (T, Span) = {
    op = opId
    val r = span("op", "op")(body)
    PerfbenchBridge.drain(sc)
    (r, spans.filter(s => s.op == opId && s.parent == 0).last)
  }

  def spansOf(opId: Int): Seq[Span] = spans.filter(_.op == opId).toSeq

  def work(id: Int): Work = listener.synchronized {
    listener.work.getOrElse(id, new Work)
  }

  /** Duration minus the part of it that child spans cover (children of one
    * span run one after another on the driver thread). */
  def selfNs(s: Span, all: Seq[Span]): Long =
    (s.end - s.start) - all.filter(_.parent == s.id).map(c => c.end - c.start).sum
}

object Tracer {
  val SpanKey = "perfbench.span"
}
