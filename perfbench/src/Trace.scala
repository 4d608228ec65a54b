package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

/** One timed interval at a layer boundary. Times are monotonic
  * nanoseconds in this JVM; listener spans are converted from the
  * scheduler's epoch milliseconds with [[Tracer.fromEpochMs]]. */
final case class Span(id: Long, parent: Long, pass: Int, kind: String, name: String,
    startNs: Long, endNs: Long) {
  def durNs: Long = math.max(0L, endNs - startNs)
}

/** In-memory span recorder. Disabled tracers record nothing and hand
  * out id 0, so untraced passes pay only a branch per boundary. */
final class Tracer {
  @volatile var enabled: Boolean = false
  @volatile var pass: Int = -1
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()

  def fromEpochMs(ms: Long): Long = ms * 1000000L - epochOffsetNs

  /** A fresh span id, for spans whose children end before they do. */
  def newId(): Long = if (enabled) ids.incrementAndGet() else 0L

  def add(id: Long, parent: Long, kind: String, name: String, startNs: Long, endNs: Long): Unit =
    if (enabled && id != 0L) spans.add(Span(id, parent, pass, kind, name, startNs, endNs))

  /** Run `f` inside a span; `f` receives the span id for its children.
    * The span is recorded even when `f` throws. */
  def span[A](parent: Long, kind: String, name: String)(f: Long => A): A =
    if (!enabled) f(0L)
    else {
      val id = ids.incrementAndGet()
      val t0 = System.nanoTime()
      try f(id)
      finally spans.add(Span(id, parent, pass, kind, name, t0, System.nanoTime()))
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per span kind for one pass, in seconds: each span's
    * duration minus the part of its interval that its children cover
    * (children that overlap, such as concurrent jobs, count once). */
  def selfSeconds(passIdx: Int): Map[String, Double] = {
    val mine = all.filter(_.pass == passIdx)
    val kids = mine.groupBy(_.parent)
    mine.groupBy(_.kind).map { case (kind, ss) =>
      kind -> ss.map { s =>
        val covered = Intervals.unionLength(kids.getOrElse(s.id, Nil).map(c =>
          (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
        (s.durNs - covered).toDouble / 1e9
      }.sum
    }
  }

  /** JSON lines, one span per line, for offline inspection. */
  def writeJsonl(path: java.nio.file.Path): Unit = {
    val lines = all.sortBy(_.startNs).map(s =>
      s"""{"id":${s.id},"parent":${s.parent},"pass":${s.pass},"kind":${Json.str(s.kind)},""" +
        s""""name":${Json.str(s.name)},"start_ns":${s.startNs},"end_ns":${s.endNs}}""")
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Intervals {
  /** Total length of the union of `[start, end)` intervals; empty ones count for nothing. */
  def unionLength(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- iv.filter(x => x._2 > x._1).sortBy(_._1)) {
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }
}
