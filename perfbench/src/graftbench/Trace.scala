package graftbench

import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.immutable.ListMap
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** One timed interval. Times are epoch nanoseconds so the benchmark's own
  * spans and Spark listener events (epoch milliseconds) share one clock.
  * `parent` is 0 for a root span; `op` is the id of the benchmark op the
  * span belongs to (0 outside ops).
  */
final case class Span(id: Long, parent: Long, name: String, op: Long,
    start: Long, end: Long, thread: String, detail: String = "") {
  def dur: Long = end - start
}

/** In-memory span recorder. Disabled (the default) it records nothing and
  * `span` only runs its body, so untraced runs pay one volatile read per
  * call site.
  */
object Trace {
  @volatile var enabled = false

  private val ids = new AtomicLong(1)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val epochBase = System.currentTimeMillis() * 1000000L
  private val nanoBase = System.nanoTime()
  // (span id, op id) of the open spans on this thread, innermost first
  private val open = ThreadLocal.withInitial[List[(Long, Long)]](() => Nil)

  def now(): Long = epochBase + (System.nanoTime() - nanoBase)
  def newId(): Long = ids.getAndIncrement()

  /** Times `body` as span `name`. The parent defaults to the innermost
    * open span on this thread; pass `parent` to attach work running on
    * another thread. The op id defaults to the parent's.
    */
  def span[T](name: String, op: Long = -1L, parent: Long = -1L)(body: => T): T = {
    if (!enabled) return body
    val stack = open.get
    val p = if (parent >= 0) parent else stack.headOption.fold(0L)(_._1)
    val o = if (op >= 0) op
      else stack.headOption.map(_._2).orElse(opOf(p)).getOrElse(0L)
    val id = newId()
    open.set((id, o) :: stack)
    val t0 = now()
    try body
    finally {
      open.set(stack)
      spans.add(Span(id, p, name, o, t0, now(), Thread.currentThread.getName))
    }
  }

  private val opOfSpan = new java.util.concurrent.ConcurrentHashMap[Long, Long]()
  private def opOf(spanId: Long): Option[Long] = Option(opOfSpan.get(spanId))

  /** Opens a root op span whose id other threads can use as `parent`. */
  def op[T](name: String, opId: Long)(body: Long => T): T = {
    if (!enabled) return body(0L)
    val id = newId()
    opOfSpan.put(id, opId)
    val stack = open.get
    open.set((id, opId) :: stack)
    val t0 = now()
    try body(id)
    finally {
      open.set(stack)
      spans.add(Span(id, 0L, name, opId, t0, now(), Thread.currentThread.getName))
    }
  }

  def add(s: Span): Unit = spans.add(s)
  def all: Seq[Span] = spans.asScala.toSeq.sortBy(s => (s.start, s.id))

  /** Total length of the union of `intervals`, clipped to [lo, hi). */
  def covered(intervals: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    intervals.map { case (s, e) => (math.max(s, lo), math.min(e, hi)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else if (e > curE) curE = e
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time per span: its duration minus the part its children cover. */
  def selfTimes(all: Seq[Span]): Map[Long, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val c = kids.getOrElse(s.id, Nil).map(k => (k.start, k.end))
      s.id -> (s.dur - covered(c, s.start, s.end))
    }.toMap
  }

  /** Share of the root op spans' wall that descendant spans named with a
    * layer prefix cover (the rest is time no layer span accounts for).
    */
  def coverage(all: Seq[Span], isLayer: String => Boolean): Double = {
    val kids = all.groupBy(_.parent)
    def layerDescendants(id: Long): Seq[Span] =
      kids.getOrElse(id, Nil).flatMap(k =>
        if (isLayer(k.name)) Seq(k) else layerDescendants(k.id))
    val ops = all.filter(s => s.parent == 0L && s.name.startsWith("op."))
    val wall = ops.map(_.dur).sum
    if (wall == 0) 0.0
    else ops.map(o => covered(layerDescendants(o.id).map(s => (s.start, s.end)),
      o.start, o.end)).sum.toDouble / wall
  }

  /** Writes the run header, per-name self-time totals and the spans as one
    * JSON document.
    */
  def write(path: String, header: Map[String, Any]): Unit = {
    val all = this.all
    val self = selfTimes(all)
    val byName = ListMap(all.groupBy(_.name).toSeq.sortBy(_._1).map { case (n, ss) =>
      n -> ListMap("count" -> ss.size, "total_ns" -> ss.map(_.dur).sum,
        "self_ns" -> ss.map(s => self(s.id)).sum)
    }: _*)
    val spans = all.map(s => ListMap("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "op" -> s.op, "start_ns" -> s.start, "end_ns" -> s.end, "self_ns" -> self(s.id),
      "thread" -> s.thread, "detail" -> s.detail))
    Data.Json.writeValue(new java.io.File(path),
      ListMap("header" -> header, "by_name" -> byName, "spans" -> spans))
  }

  /** Per-name self-time totals, for the console summary. */
  def selfByName(all: Seq[Span]): Seq[(String, Long, Long)] = {
    val self = selfTimes(all)
    all.groupBy(_.name).toSeq.map { case (n, ss) =>
      (n, ss.map(_.dur).sum, ss.map(s => self(s.id)).sum)
    }.sortBy(-_._3)
  }
}
