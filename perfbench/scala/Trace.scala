package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** In-memory spans recorded around the benchmark's calls into each layer.
  * A span has a name, start, end and parent; every span of one process
  * shares `runId`. `enabled` marks a traced process; spans are recorded
  * only while `on` (traced units alternate with untraced ones). */
final class Tracer(val enabled: Boolean) {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long)

  val runId: String = java.util.UUID.randomUUID().toString
  val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[Int] = Nil
  private var nextId = 0
  var on = false

  def span[A](name: String)(body: => A): A =
    if (!on) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.getOrElse(-1)
      open = id :: open
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        open = open.tail
      }
    }

  /** Spans recorded since index `from`, times in seconds. */
  def since(from: Int): Seq[Map[String, Any]] = spans.drop(from).toSeq.map(x => Map(
    "id" -> x.id, "parent" -> x.parent, "name" -> x.name,
    "start" -> x.start / 1e9, "end" -> x.end / 1e9))
}

/** Spark-listener counters keyed by the `perfbench.layer` local property
  * the harness sets around each layer call. Jobs submitted while no layer
  * is set count under "other", so attribution gaps show instead of
  * vanishing. */
final class LayerCounters extends SparkListener {
  final class Acc {
    var jobs, tasks = 0L
    var cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var bytesRead, bytesWritten, recordsWritten, peakExecMem = 0L
  }
  val byLayer = mutable.Map.empty[String, Acc]
  private val stageLayer = mutable.Map.empty[Int, String]
  @volatile var active = false

  private def layerOf(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(LayerCounters.Key))).getOrElse("other")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    if (active) {
      val l = layerOf(e.properties)
      byLayer.getOrElseUpdate(l, new Acc).jobs += 1
      e.stageIds.foreach(stageLayer(_) = l)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    if (active) stageLayer(e.stageInfo.stageId) = layerOf(e.properties)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (active && m != null) {
      val a = byLayer.getOrElseUpdate(stageLayer.getOrElse(e.stageId, "other"), new Acc)
      a.tasks += 1
      a.cpuNs += m.executorCpuTime
      a.gcMs += m.jvmGCTime
      a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      a.bytesRead += m.inputMetrics.bytesRead
      a.bytesWritten += m.outputMetrics.bytesWritten
      a.recordsWritten += m.outputMetrics.recordsWritten
      a.peakExecMem = math.max(a.peakExecMem, m.peakExecutionMemory)
    }
  }

  def reset(): Unit = synchronized { byLayer.clear(); stageLayer.clear() }
}

object LayerCounters {
  val Key = "perfbench.layer"

  /** Run `body` with its Spark jobs attributed to `layer`; the previous
    * layer is restored afterwards, so nested calls (the sink inside a
    * Silver merge) attribute to the innermost layer. */
  def within[A](sc: SparkContext, layer: String)(body: => A): A = {
    val prev = sc.getLocalProperty(Key)
    sc.setLocalProperty(Key, layer)
    try body finally sc.setLocalProperty(Key, prev)
  }

  /** Block until every posted listener event has been delivered. */
  def drain(sc: SparkContext): Unit = org.apache.spark.perfbench.Bus.drain(sc)
}
