package layerbench

import scala.collection.mutable.ArrayBuffer

/** One timed interval at a layer boundary, in microseconds on the run
  * clock. `parent` is 0 for a root (an op). */
final case class Span(id: Long, parent: Long, layer: String, name: String,
                      startUs: Long, endUs: Long) {
  def durUs: Long = math.max(0L, endUs - startUs)
}

/** The run clock: microseconds since the run started, for both the
  * benchmark's own spans (nanoTime) and Spark listener times (epoch ms). */
final class Clock {
  private val baseNanos = System.nanoTime()
  private val baseEpochMs = System.currentTimeMillis()
  def nowUs: Long = (System.nanoTime() - baseNanos) / 1000
  def fromEpochMs(ms: Long): Long = (ms - baseEpochMs) * 1000
}

/** In-memory span recorder, driven from the one client thread. Spans
  * nest by call structure; listener-derived spans are added afterwards
  * with an explicit parent. */
final class Tracer(val clock: Clock) {
  private val spans = ArrayBuffer.empty[Span]
  private var stack: List[Long] = Nil
  private var nextId = 1L

  def newId(): Long = synchronized { val i = nextId; nextId += 1; i }

  def span[T](layer: String, name: String, id: Long = newId())(body: => T): T = {
    val parent = stack.headOption.getOrElse(0L)
    stack = id :: stack
    val t0 = clock.nowUs
    try body
    finally {
      stack = stack.tail
      add(Span(id, parent, layer, name, t0, clock.nowUs))
    }
  }

  def add(s: Span): Unit = synchronized { spans += s }
  def all: Seq[Span] = synchronized(spans.toList)
}

object SelfTime {

  /** Length of the union of intervals. */
  def covered(intervals: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((s, e) <- intervals.filter(i => i._2 > i._1).sortBy(_._1)) {
      if (s > curE) {
        if (curE > curS) total += curE - curS
        curS = s; curE = e
      } else if (e > curE) curE = e
    }
    if (curE > curS) total += curE - curS
    total
  }

  /** Self time of every span: its duration minus the part of its
    * interval that its children cover. Children are clipped to the
    * parent, and overlapping children count once. */
  def of(spans: Seq[Span]): Map[Long, Long] = {
    val kids = spans.groupBy(_.parent)
    spans.map { s =>
      val cs = kids.getOrElse(s.id, Nil).map(c =>
        (math.max(c.startUs, s.startUs), math.min(c.endUs, s.endUs)))
      s.id -> (s.durUs - covered(cs))
    }.toMap
  }

  /** Total self time per layer. */
  def byLayer(spans: Seq[Span]): Map[String, Long] = {
    val self = of(spans)
    spans.groupBy(_.layer).map { case (l, ss) => l -> ss.map(s => self(s.id)).sum }
  }
}

/** Which op a Spark job belongs to. The benchmark tags every op's jobs
  * with a local property; a job submitted from a thread the property
  * did not reach (a library-owned pool) falls back to the op whose
  * window contains the job's start. One client runs ops one after the
  * other, so at most one op is in flight at a time. */
object Attribution {
  final case class OpWindow(op: Long, startUs: Long, endUs: Long)

  def opOf(tagged: Option[Long], jobStartUs: Long, ops: Seq[OpWindow]): Option[Long] =
    tagged.orElse(ops.find(o => o.startUs <= jobStartUs && jobStartUs <= o.endUs).map(_.op))

  /** The innermost span of `op`'s tree whose interval holds `t`, so a
    * job hangs under the call that submitted it. */
  def parentAt(op: Long, t: Long, spans: Seq[Span]): Long = {
    val byParent = spans.groupBy(_.parent)
    @annotation.tailrec
    def descend(id: Long): Long =
      byParent.getOrElse(id, Nil).find(c => c.startUs <= t && t <= c.endUs) match {
        case Some(c) => descend(c.id)
        case None => id
      }
    descend(op)
  }
}
