package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spark work attributed to one span: jobs, tasks and the task-level
  * counters, summed as the listener sees each task end.
  */
final class SparkWork {
  var jobs = 0L
  var tasks = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
  var gcMs = 0L
  def add(o: SparkWork): Unit = {
    jobs += o.jobs; tasks += o.tasks; runMs += o.runMs
    shuffleBytes += o.shuffleBytes; spillBytes += o.spillBytes; gcMs += o.gcMs
  }
}

/** Attributes each job to the span that was innermost on the client
  * thread when the job started (through a local property, which Spark
  * copies to the threads that run broadcast and subquery jobs), and
  * each task to its stage's job.
  */
final class SpanListener extends SparkListener {
  private val stageSpan = new ConcurrentHashMap[Integer, Integer]()
  private val work = new ConcurrentHashMap[Int, SparkWork]()

  private def of(span: Int): SparkWork = work.computeIfAbsent(span, _ => new SparkWork)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties).flatMap(ps => Option(ps.getProperty(Tracer.SpanProp)))
    p.foreach { s =>
      val span = s.toInt
      e.stageIds.foreach(id => stageSpan.put(id, span))
      val w = of(span)
      w.synchronized(w.jobs += 1)
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val span = stageSpan.get(e.stageId)
    val m = e.taskMetrics
    if (span != null && m != null) {
      val w = of(span.intValue)
      w.synchronized {
        w.tasks += 1
        w.runMs += m.executorRunTime
        w.shuffleBytes += m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten
        w.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        w.gcMs += m.jvmGCTime
      }
    }
  }

  def workOf(span: Int): SparkWork = Option(work.get(span)).getOrElse(new SparkWork)
}

final case class Span(id: Int, name: String, parent: Int, request: Int,
                      start: Long, var end: Long = 0L)

/** In-memory span recorder for the traced run. Spans nest on the one
  * client thread; nothing is written until [[dump]].
  */
final class Tracer(sc: SparkContext, cores: Int) {
  val listener = new SpanListener
  sc.addSparkListener(listener)
  var enabled = false
  var request = -1
  private val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Span]
  /** Named counters, each a list of per-occurrence values. */
  private val counters = scala.collection.mutable.LinkedHashMap[String, ArrayBuffer[Double]]()

  def span[T](name: String)(f: => T): T =
    if (!enabled) f
    else {
      val s = Span(spans.size, name, stack.headOption.map(_.id).getOrElse(-1), request,
        System.nanoTime())
      spans += s
      stack = s :: stack
      sc.setLocalProperty(Tracer.SpanProp, s.id.toString)
      try f
      finally {
        s.end = System.nanoTime()
        stack = stack.tail
        sc.setLocalProperty(Tracer.SpanProp, stack.headOption.map(_.id.toString).orNull)
      }
    }

  def count(name: String, v: Double): Unit =
    if (enabled) counters.getOrElseUpdate(name, ArrayBuffer()) += v

  /** Waits for the listener to see every event posted so far. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(sc)

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  private def inclusive(s: Span): SparkWork = {
    val w = new SparkWork
    w.add(listener.workOf(s.id))
    children(s.id).foreach(c => w.add(inclusive(c)))
    w
  }

  /** Wall time of `s` not covered by any of its child spans. */
  private def selfNanos(s: Span): Long = {
    val iv = children(s.id).map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L
    var curS = 0L
    var curE = Long.MinValue
    iv.foreach { case (a, b) =>
      if (a > curE) {
        if (curE > Long.MinValue) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (curE > Long.MinValue) covered += curE - curS
    (s.end - s.start) - covered
  }

  /** Per-span metrics, each the mean over the span's occurrences:
    * `.s`, `.self_s`, `.jobs`, `.tasks`, `.shuffle_bytes`,
    * `.spill_bytes`, `.gc_s`, and `.core_util` = Σ task run time ÷
    * (Σ wall × cores). A name that never occurred reads 0.
    */
  def spanMetrics(names: Seq[String]): Seq[(String, Double)] = {
    drain()
    names.flatMap { name =>
      val ss = spans.filter(s => s.name == name && s.end > 0)
      val k = math.max(ss.size, 1).toDouble
      val w = new SparkWork
      ss.foreach(s => w.add(inclusive(s)))
      val wallNs = ss.map(s => (s.end - s.start).toDouble).sum
      val selfNs = ss.map(s => selfNanos(s).toDouble).sum
      Seq(
        s"$name.s" -> wallNs / 1e9 / k,
        s"$name.self_s" -> selfNs / 1e9 / k,
        s"$name.jobs" -> w.jobs / k,
        s"$name.tasks" -> w.tasks / k,
        s"$name.shuffle_bytes" -> w.shuffleBytes / k,
        s"$name.spill_bytes" -> w.spillBytes / k,
        s"$name.gc_s" -> w.gcMs / 1e3 / k,
        s"$name.core_util" -> (if (wallNs > 0) w.runMs * 1e6 / (wallNs * cores) else 0.0))
    }
  }

  /** Mean of a named counter over its occurrences; 0 if never counted. */
  def counter(name: String): Double =
    counters.get(name).filter(_.nonEmpty).map(v => v.sum / v.size).getOrElse(0.0)

  /** One JSON object per span (name, start, end, parent, request) plus
    * its self time and attributed Spark work.
    */
  def dump(path: String): Unit = {
    drain()
    val out = new java.io.PrintWriter(path, "UTF-8")
    try spans.foreach { s =>
      val w = listener.workOf(s.id)
      out.println(Json.obj(Seq(
        "id" -> s.id, "name" -> s.name, "parent" -> s.parent, "request" -> s.request,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> selfNanos(s),
        "jobs" -> w.jobs, "tasks" -> w.tasks, "task_run_ms" -> w.runMs,
        "shuffle_bytes" -> w.shuffleBytes, "spill_bytes" -> w.spillBytes,
        "gc_ms" -> w.gcMs)))
    } finally out.close()
  }
}

object Tracer {
  val SpanProp = "graftbench.span"
}

/** Minimal JSON writer for the result line and the span dump. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }

  def value(v: Any): String = v match {
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Seq[_] => obj(m.asInstanceOf[Seq[(String, Any)]])
    case other => str(other.toString)
  }

  def obj(fields: Seq[(String, Any)]): String =
    fields.map { case (k, v) => s"${str(k)}: ${value(v)}" }.mkString("{", ", ", "}")
}
