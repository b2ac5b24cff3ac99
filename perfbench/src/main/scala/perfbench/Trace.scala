package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** One timed interval. `parent` is -1 for a root; `op` is the operation
  * the span belongs to (-1 outside operations). Times are nanoseconds on
  * the benchmark's clock ([[Clock]]).
  */
final case class Span(id: Int, parent: Int, op: Int, layer: String,
                      name: String, start: Long, end: Long) {
  def dur: Long = end - start
}

/** A monotonic nanosecond clock with a fixed mapping from wall-clock
  * milliseconds, so Spark listener timestamps land on the same axis as
  * the spans the benchmark records itself.
  */
object Clock {
  private val nano0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def now(): Long = System.nanoTime() - nano0
  def fromWallMs(ms: Long): Long = (ms - wall0) * 1000000L
}

/** The engine's modules, as the benchmark names its layers. */
object Layers {
  val Engine: Seq[String] =
    Seq("sources", "state", "operators", "pipeline", "streaming", "registry")
  /** `exec` is the benchmark's own calls (e.g. the noop sink write);
    * `other` is any job with no engine or benchmark frame in its call site.
    */
  val All: Seq[String] = Engine ++ Seq("exec", "other")

  /** Layer of a class name, by the engine package it belongs to. */
  def ofClass(cls: String): Option[String] = {
    val c = cls.takeWhile(ch => ch != '$' && ch != '(')
    if (c.startsWith("graft.sources.") || c.startsWith("graft.model.")) Some("sources")
    else if (c.startsWith("graft.state.")) Some("state")
    else if (c.startsWith("graft.operators.") || c.startsWith("graft.functions."))
      Some("operators")
    else if (c.startsWith("graft.streaming.")) Some("streaming")
    else if (c.startsWith("graft.Pipeline") || c.startsWith("graft.BatchResult"))
      Some("pipeline")
    else if (c.startsWith("graft.SparkEntry") || c.startsWith("graft.Entry"))
      Some("registry")
    else if (c.startsWith("perfbench.")) Some("exec")
    else if (c.startsWith("graft.")) Some("other")
    else None
  }

  /** Layer of a Spark call site in its long form (one frame per line,
    * innermost first): the first engine or benchmark frame decides, so
    * `count at StateStore.scala:198` called from Pipeline counts toward
    * `state`.
    */
  def ofCallSite(longForm: String): String =
    longForm.linesIterator.map(_.trim).flatMap(ofClass).nextOption().getOrElse("other")
}

/** In-memory span recorder for one thread. Disabled, it only runs the body. */
final class Tracer(val enabled: Boolean) {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val attached = mutable.ArrayBuffer.empty[Span]
  private val stack = mutable.Stack.empty[(Int, Int)] // (span id, op)
  private var nextId = 0

  def span[A](layer: String, name: String, op: Int = -2)(body: => A): A =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.map(_._1).getOrElse(-1)
      val o = if (op != -2) op else stack.headOption.map(_._2).getOrElse(-1)
      stack.push((id, o))
      val t0 = Clock.now()
      try body
      finally {
        stack.pop()
        spans += Span(id, parent, o, layer, name, t0, Clock.now())
      }
    }

  def recorded: Vector[Span] = (spans ++ attached).toVector.sortBy(_.id)

  /** Adds a span that was timed elsewhere (a Spark job) under the
    * innermost recorded span that contains its start.
    */
  def attach(layer: String, name: String, start: Long, end: Long): Unit = {
    val host = spans.filter(s => s.start <= start && start <= s.end)
      .minByOption(_.dur)
    attached += Span(nextId, host.map(_.id).getOrElse(-1), host.map(_.op).getOrElse(-1),
      layer, name, start, end)
    nextId += 1
  }
}

object Trace {
  /** Length of the union of intervals, each clipped to [lo, hi]. */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = intervals.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var curA = Long.MinValue
    var curB = Long.MinValue
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }

  /** Self time per span id: its duration minus the part of its interval
    * that its children cover.
    */
  def selfTimes(spans: Seq[Span]): Map[Int, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      s.id -> (s.dur - covered(kids.getOrElse(s.id, Nil).map(k => (k.start, k.end)),
        s.start, s.end))
    }.toMap
  }

  def dump(spans: Seq[Span], path: Path): Unit = {
    val self = selfTimes(spans)
    Files.write(path, ("id\tparent\top\tlayer\tname\tstart_ns\tend_ns\tself_ns" +:
      spans.map(s => Seq(s.id, s.parent, s.op, s.layer, s.name.replace('\t', ' '),
        s.start, s.end, self(s.id)).mkString("\t"))).asJava)
  }

  def load(path: Path): Vector[Span] =
    Files.readAllLines(path).asScala.drop(1).map { l =>
      val f = l.split("\t", -1)
      Span(f(0).toInt, f(1).toInt, f(2).toInt, f(3), f(4), f(5).toLong, f(6).toLong)
    }.toVector

  /** Per layer: spans, total time and self time, from a span dump. */
  def layerTable(spans: Seq[Span]): String = {
    val self = selfTimes(spans)
    val rows = spans.groupBy(_.layer).toSeq.map { case (layer, ss) =>
      (layer, ss.size, ss.map(_.dur).sum / 1e9, ss.map(s => self(s.id)).sum / 1e9)
    }.sortBy(-_._4)
    val totalSelf = rows.map(_._4).sum
    val head = f"${"layer"}%-10s ${"spans"}%7s ${"total_s"}%9s ${"self_s"}%9s ${"self_%"}%7s"
    (head +: rows.map { case (l, n, tot, s) =>
      f"$l%-10s $n%7d $tot%9.3f $s%9.3f ${100 * s / math.max(totalSelf, 1e-9)}%6.1f%%"
    }).mkString("\n")
  }
}
