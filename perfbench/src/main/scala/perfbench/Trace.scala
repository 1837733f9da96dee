package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

/** One timed call: `name` is `<layer>.<call>`, `group` the pass or
  * request it belongs to, `parent` the enclosing span on the same thread
  * (-1 for a root).
  */
final case class Span(id: Int, parent: Int, name: String, group: String,
                      startNs: Long, endNs: Long) {
  def layer: String = name.takeWhile(_ != '.')
  def ms: Double = (endNs - startNs) / 1e6
}

/** In-memory span recorder. Disabled, [[span]] is a plain call; enabled,
  * it keeps every span until the run writes them out.
  */
final class Tracer(val enabled: Boolean) {
  private val ids = new AtomicInteger(0)
  private val done = new ConcurrentLinkedQueue[Span]()
  private val stack = ThreadLocal.withInitial[List[Int]](() => Nil)
  private val group = ThreadLocal.withInitial[String](() => "run")

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parents = stack.get
      stack.set(id :: parents)
      val t0 = System.nanoTime()
      try body
      finally {
        done.add(Span(id, parents.headOption.getOrElse(-1), name, group.get, t0, System.nanoTime()))
        stack.set(parents)
      }
    }

  /** Run `body` with every span it opens on this thread tagged `g`. */
  def inGroup[T](g: String)(body: => T): T = {
    val prev = group.get
    group.set(g)
    try body finally group.set(prev)
  }

  /** This thread's innermost open span and group, to hand to a worker. */
  def context: (Int, String) = (stack.get.headOption.getOrElse(-1), group.get)

  /** Run `body` on this thread as if inside `ctx` from [[context]]. */
  def within[T](ctx: (Int, String))(body: => T): T = {
    val prev = stack.get
    stack.set(if (ctx._1 < 0) Nil else List(ctx._1))
    try inGroup(ctx._2)(body) finally stack.set(prev)
  }

  def spans: Seq[Span] = done.asScala.toSeq.sortBy(_.startNs)
}

object Tracer {

  /** Self time of each span: its duration minus the part of it that its
    * children cover.
    */
  def selfMs(spans: Seq[Span]): Map[Int, Double] = {
    val children = spans.groupBy(_.parent)
    spans.map { s =>
      val covered = union(children.getOrElse(s.id, Nil)
        .map(c => (math.max(c.startNs, s.startNs), math.min(c.endNs, s.endNs))))
      s.id -> (s.endNs - s.startNs - covered) / 1e6
    }.toMap
  }

  /** Total self time per layer over `spans`. */
  def selfByLayer(spans: Seq[Span]): Map[String, Double] = {
    val self = selfMs(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }

  /** Length covered by a set of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var (curS, curE) = (Long.MinValue, Long.MinValue)
    iv.filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) {
        if (curE > curS) covered += curE - curS
        curS = s
        curE = e
      } else curE = math.max(curE, e)
    }
    if (curE > curS) covered += curE - curS
    covered
  }
}
