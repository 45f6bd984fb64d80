package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One recorded call into a layer. `parent` is the id of the enclosing
  * span on the same thread (0 = root); spans of one request share
  * `request` (-1 = not part of a request). Times are `System.nanoTime`. */
final case class Span(id: Int, name: String, parent: Int, request: Long,
                      startNs: Long, endNs: Long) {
  def durNs: Long = endNs - startNs
  def toJson(selfNs: Long): String =
    s"""{"id":$id,"name":"$name","parent":$parent,"request":$request,""" +
      s""""start_ns":$startNs,"end_ns":$endNs,"self_ns":$selfNs}"""
}

/** In-memory span recorder. Spans are kept until [[write]] at the end of
  * the run; when disabled, [[span]] only evaluates its body, so the
  * untraced run pays nothing but a branch. */
final class Tracer(val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val nextId = new AtomicInteger(1)
  // (current span id, current request id) of this thread
  private val current = new ThreadLocal[(Int, Long)] {
    override def initialValue(): (Int, Long) = (0, -1L)
  }

  def span[T](name: String, request: Long = -1L)(body: => T): T =
    if (!enabled) body
    else {
      val (parent, outerRequest) = current.get()
      val req = if (request >= 0) request else outerRequest
      val id = nextId.getAndIncrement()
      current.set((id, req))
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        current.set((parent, outerRequest))
        spans.add(Span(id, name, parent, req, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq.sortBy(_.id)

  /** Durations in seconds of every span called `name`. */
  def seconds(name: String): Seq[Double] = all.filter(_.name == name).map(_.durNs / 1e9)

  /** Write every span, with its self time, as one JSON line. */
  def write(path: java.nio.file.Path): Unit = {
    val spans = all
    val self = SelfTime.ofSpans(spans)
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, spans.map(s => s.toJson(self(s.id))).asJava)
  }
}

object SelfTime {

  /** Self time of every span: its duration minus the part of its interval
    * that its children cover (children may overlap each other when they
    * run on other threads, so their intervals are merged first). */
  def ofSpans(spans: Seq[Span]): Map[Int, Long] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val kids = children.getOrElse(s.id, Seq.empty)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs)))
        .filter { case (a, b) => b > a }
      s.id -> (s.durNs - unionLength(kids))
    }.toMap
  }

  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var curStart = Long.MinValue
    var curEnd = Long.MinValue
    intervals.sortBy(_._1).foreach { case (a, b) =>
      if (a > curEnd) {
        if (curEnd > curStart) covered += curEnd - curStart
        curStart = a; curEnd = b
      } else if (b > curEnd) curEnd = b
    }
    if (curEnd > curStart) covered += curEnd - curStart
    covered
  }

  /** Self time of each layer of a prefix chain: `cumulative(i)` is the
    * time of the action that ends at layer i (and runs every layer before
    * it), so layer i's self time is cumulative(i) - cumulative(i-1).
    * Run-to-run noise can make a difference negative; it is clamped at 0. */
  def prefix(cumulative: Seq[(String, Double)]): Seq[(String, Double)] =
    cumulative.zipWithIndex.map { case ((name, t), i) =>
      val before = if (i == 0) 0.0 else cumulative(i - 1)._2
      name -> math.max(0.0, t - before)
    }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** Nearest-rank quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
    }
}
