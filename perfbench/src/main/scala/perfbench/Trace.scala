package perfbench

import scala.collection.mutable
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import graft.yougile.YouGileClient

/** In-memory spans: name, start, end and the enclosing span, all from
  * the benchmark's own calls into each layer; `run` ties a run's spans.
  */
final class Tracer(run: Int) {
  final case class Span(run: Int, id: Int, parent: Int, name: String, startNs: Long, endNs: Long) {
    def seconds: Double = (endNs - startNs) / 1e9
  }
  val spans = mutable.ArrayBuffer.empty[Span]
  private var stack = List(-1)

  def span[A](name: String)(body: => A): A = {
    val id = spans.size
    spans += Span(run, id, stack.head, name, 0L, 0L)
    stack = id :: stack
    val t0 = System.nanoTime()
    try body
    finally {
      spans(id) = spans(id).copy(startNs = t0, endNs = System.nanoTime())
      stack = stack.tail
    }
  }

  /** Total seconds of spans with this name prefix. */
  def seconds(prefix: String): Double = spans.filter(_.name.startsWith(prefix)).map(_.seconds).sum

  def json: String = spans.map { s =>
    s"""{"run":${s.run},"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}"""
  }.mkString(",\n")
}

/** Wraps the production client to time the calls into it. */
final class TimedClient(inner: YouGileClient) extends YouGileClient {
  var nanos = 0L
  override def fetchPage(method: String, offset: Int, limit: Int,
      includeDeleted: Boolean, columnId: Option[String]): String = {
    val t0 = System.nanoTime()
    try inner.fetchPage(method, offset, limit, includeDeleted, columnId)
    finally nanos += System.nanoTime() - t0
  }
}

/** Spark task counters per span: jobs carry the span name as a local
  * property, and tasks are credited to their stage's span.
  */
final class SpanCounters extends SparkListener {
  final class Counts {
    var jobs, tasks, runMs, gcMs, shuffleBytes, spillBytes = 0L
  }
  val PropKey = "perfbench.span"
  private val byStage = mutable.Map.empty[Int, String]
  val counts = mutable.Map.empty[String, Counts]

  private def of(span: String): Counts = counts.getOrElseUpdate(span, new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    Option(e.properties).flatMap(p => Option(p.getProperty(PropKey))).foreach { s =>
      of(s).jobs += 1
      e.stageIds.foreach(byStage(_) = s)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (s <- byStage.get(e.stageId); m <- Option(e.taskMetrics)) {
      val c = of(s)
      c.tasks += 1
      c.runMs += m.executorRunTime
      c.gcMs += m.jvmGCTime
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def reset(): Unit = synchronized { byStage.clear(); counts.clear() }

  /** Runs `body` with its Spark jobs credited to `span`. */
  def within[A](sc: SparkContext, span: String)(body: => A): A = {
    sc.setLocalProperty(PropKey, span)
    try body
    finally sc.setLocalProperty(PropKey, null)
  }
}
