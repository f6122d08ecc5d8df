package perfbench

import java.io.PrintWriter
import java.util.concurrent.ConcurrentHashMap

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One timed call into a layer. `root` is the id shared by every span of
  * one query or one sync round; `parent` is 0 for the root span. */
final class Span(val id: Long, val name: String, val parent: Long,
                 val root: String, val start: Long) {
  var end: Long = 0L
  def nanos: Long = end - start
}

/** Work the listener attributed to the jobs one span submitted. */
final class Counters {
  var jobs, stages, tasks = 0L
  var taskMs, shuffleWrite, shuffleRead, spill, bytesWritten = 0L

  def add(o: Counters): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskMs += o.taskMs
    shuffleWrite += o.shuffleWrite; shuffleRead += o.shuffleRead
    spill += o.spill; bytesWritten += o.bytesWritten
  }
}

/** Spans recorded from the benchmark's side of each layer call, plus a
  * listener that charges Spark work to the innermost span open on the
  * driver thread when the job was submitted (via a local property, so
  * the attribution does not depend on when the listener bus delivers).
  *
  * `enabled` is switched per operation: only operations run with it on
  * leave spans, which lets one traced run also time untraced operations
  * and report the tracing overhead. */
final class Tracer(sc: SparkContext, listen: Boolean) {
  import Tracer.SpanKey

  var enabled = false
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  private var nextId = 1L
  private val stageSpan = new ConcurrentHashMap[Int, Long]
  private val counters = new ConcurrentHashMap[Long, Counters]

  private def countersOf(span: Long): Counters =
    counters.computeIfAbsent(span, _ => new Counters)

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      Option(e.properties).flatMap(p => Option(p.getProperty(SpanKey)))
        .map(_.toLong).foreach { s =>
          e.stageIds.foreach(st => stageSpan.put(st, s))
          countersOf(s).jobs += 1
        }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      Option(stageSpan.get(e.stageInfo.stageId)).foreach(s => countersOf(s).stages += 1)
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      Option(stageSpan.get(e.stageId)).filter(_ => e.taskMetrics != null)
        .foreach { s =>
          val c = countersOf(s)
          val m = e.taskMetrics
          c.tasks += 1
          c.taskMs += m.executorRunTime
          c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
          c.spill += m.diskBytesSpilled
          c.bytesWritten += m.outputMetrics.bytesWritten
        }
  }
  if (listen) sc.addSparkListener(listener)

  /** Run `body` as a span named `name`; a root span (no span open) takes
    * `root` as the id its descendants share. */
  def span[T](name: String, root: String = "")(body: => T): T =
    if (!enabled) body
    else {
      val s = new Span(nextId, name, stack.headOption.fold(0L)(_.id),
        stack.headOption.fold(root)(_.root), System.nanoTime())
      nextId += 1
      spans += s
      stack = s :: stack
      sc.setLocalProperty(SpanKey, s.id.toString)
      try body
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(SpanKey, stack.headOption.map(_.id.toString).orNull)
      }
    }

  /** Counters of every span, once all events so far are delivered. */
  def countersById(): Map[Long, Counters] = {
    org.apache.spark.perfbench.ListenerBus.drain(sc)
    counters.asScala.toMap
  }

  /** A span's duration minus the time its child spans cover (children
    * of one span run one after another on the driver thread). */
  def selfNanos: Map[Long, Long] = {
    val childNanos = spans.groupMapReduce(_.parent)(_.nanos)(_ + _)
    spans.map(s => s.id -> (s.nanos - childNanos.getOrElse(s.id, 0L))).toMap
  }

  /** Self seconds and summed counters per span name. */
  def byName(): Map[String, (Double, Counters)] = {
    val self = selfNanos
    val cs = countersById()
    spans.groupBy(_.name).map { case (n, ss) =>
      val c = new Counters
      ss.foreach(s => cs.get(s.id).foreach(c.add))
      n -> (ss.map(s => self(s.id)).sum / 1e9, c)
    }
  }

  /** Every span as one JSON line, with its self time and counters. */
  def write(path: String): Unit = {
    val self = selfNanos
    val cs = countersById()
    val t0 = spans.headOption.fold(0L)(_.start)
    val out = new PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val c = cs.getOrElse(s.id, new Counters)
      out.println(Json.write(ListMap(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "root" -> s.root,
        "start_ms" -> (s.start - t0) / 1e6, "end_ms" -> (s.end - t0) / 1e6,
        "self_ms" -> self(s.id) / 1e6, "jobs" -> c.jobs, "stages" -> c.stages,
        "tasks" -> c.tasks, "task_ms" -> c.taskMs,
        "shuffle_write_bytes" -> c.shuffleWrite,
        "shuffle_read_bytes" -> c.shuffleRead, "spill_bytes" -> c.spill,
        "output_bytes" -> c.bytesWritten)))
    } finally out.close()
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
}
