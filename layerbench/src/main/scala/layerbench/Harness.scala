package layerbench

import scala.collection.mutable
import scala.util.control.NonFatal
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Literal
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

/** One client call as the client saw it. `cls` is read, write, maint or
  * batch. */
final case class OpRec(id: Long, cls: String, name: String, startUs: Long,
                       endUs: Long, ok: Boolean, traced: Boolean) {
  def ms: Double = (endUs - startUs) / 1000.0
}

/** A call into a layer inside an op, timed whether or not the op is
  * traced. */
final case class CallRec(name: String, ms: Double)

/** Picks the traced half of a traced run: every other op of each op
  * name, so both halves hold the same mix of op kinds (equal counts of
  * each name, give or take one) whatever the order of the stream. */
final class HalfSampler {
  private val seen = mutable.Map.empty[String, Int].withDefaultValue(0)
  def take(name: String): Boolean = { val n = seen(name); seen(name) = n + 1; n % 2 == 0 }
}

object HalfSampler {
  /** Tracing overhead: per op name, the median traced latency minus the
    * median untraced latency, averaged with weights by the name's op
    * count. Names with no op in one of the halves are left out. */
  def overheadMs(ops: Seq[OpRec]): Double = {
    val diffs = ops.groupBy(_.name).values.toSeq.flatMap { os =>
      val (t, u) = os.partition(_.traced)
      if (t.isEmpty || u.isEmpty) None
      else Some((Stats.median(t.map(_.ms)) - Stats.median(u.map(_.ms)), os.size))
    }
    val n = diffs.map(_._2).sum
    if (n == 0) 0.0 else diffs.map { case (d, k) => d * k }.sum / n
  }
}

/** The client side of a run: one thread calls [[op]] in a closed loop.
  *
  * In a traced run half of the ops are traced, picked by [[HalfSampler]]:
  * a traced op gets a span tree (op -> layer calls -> forced planning and
  * the action -> Spark jobs -> stages), and its Spark jobs carry the op
  * id. The untraced ops run exactly as in an untraced run, so the latency
  * gap between the two halves is the tracing overhead. */
final class Harness(val spark: SparkSession, val cores: Int, val trace: Boolean) {
  val clock = new Clock
  val tracer = new Tracer(clock)
  val events: Option[SparkEvents] =
    if (trace) { val e = new SparkEvents(clock); spark.sparkContext.addSparkListener(e); Some(e) }
    else None
  val gcLog = new Jvm.GcLog(clock)

  val ops = mutable.ArrayBuffer.empty[OpRec]
  val calls = mutable.ArrayBuffer.empty[CallRec]
  /** Planning phase ms summed over the traced queries, and their count. */
  val phases = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  var plannedQueries = 0
  val planShapes = mutable.Set.empty[Int]

  /** Ops are recorded only in the timed phase; set-up and warm-up calls
    * run through the same code unrecorded. */
  var recording = false
  private var curTraced = false
  private val sampler = new HalfSampler
  private val errorsShown = mutable.Set.empty[String]

  /** Run one op. In the timed phase a failure is recorded and the run
    * goes on; in set-up it propagates. */
  def op[T](cls: String, name: String)(body: => T): Option[T] = {
    if (!recording) return Some(body)
    val id = tracer.newId()
    val traced = trace && sampler.take(name)
    curTraced = traced
    val sc = spark.sparkContext
    if (traced) sc.setLocalProperty(SparkEvents.OpKey, id.toString)
    val t0 = clock.nowUs
    val res =
      try Some(if (traced) tracer.span("op", name, id)(body) else body)
      catch {
        case NonFatal(e) =>
          if (errorsShown.add(name)) {
            System.err.println(s"layerbench: $cls $name failed: $e")
            e.printStackTrace()
          }
          None
      }
    val t1 = clock.nowUs
    if (traced) sc.setLocalProperty(SparkEvents.OpKey, null)
    curTraced = false
    ops += OpRec(id, cls, name, t0, t1, res.isDefined, traced)
    res
  }

  /** A call into `layer`: timed always, a span when the op is traced. */
  def call[T](layer: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try if (curTraced) tracer.span(layer, name)(body) else body
    finally if (recording) calls += CallRec(name, (System.nanoTime() - t0) / 1e6)
  }

  /** Run a query to the driver. Traced: physical planning first, as its
    * own span, then the action on the same QueryExecution. */
  def collect(df: DataFrame): Array[Row] =
    if (!curTraced) df.collect()
    else {
      val qe = df.queryExecution
      tracer.span("plans", "executedPlan")(qe.executedPlan)
      qe.tracker.phases.foreach { case (p, s) => phases(p) += s.durationMs }
      plannedQueries += 1
      planShapes += shape(qe.optimizedPlan)
      tracer.span("sched", "collect")(df.collect())
    }

  /** A plan's shape: the canonical plan with every literal replaced by
    * its type's default, so requests that differ only in parameters
    * share a shape. */
  private def shape(p: LogicalPlan): Int =
    try p.transformAllExpressions { case l: Literal => Literal.default(l.dataType) }
      .canonicalized.hashCode()
    catch { case NonFatal(_) => p.canonicalized.hashCode() }
}
