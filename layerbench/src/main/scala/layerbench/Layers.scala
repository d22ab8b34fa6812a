package layerbench

import scala.collection.mutable

/** A metric value with its unit. */
final case class M(value: Double, unit: String)

/** Per-layer metrics of a traced run, from the traced ops' span trees
  * and the Spark jobs attributed to them. Every figure is per traced op
  * unless its name says otherwise. */
final class Layers(h: Harness) {
  private val events: SparkEvents = h.events.getOrElse(sys.error("layer metrics need a traced run"))
  events.drain(h.spark)

  val traced: Seq[OpRec] = h.ops.filter(_.traced).toSeq
  private val benchSpans = h.tracer.all
  private val windows = traced.map(o => Attribution.OpWindow(o.id, o.startUs, o.endUs))
  private val stages = events.stageMap

  /** Spark jobs of traced ops, each with its op. */
  private val jobs: Seq[(JobRec, Long)] = events.jobList.flatMap(j =>
    Attribution.opOf(j.tag, j.startUs, windows).filter(id => windows.exists(_.op == id)).map(j -> _))
  private val jobsByOp = jobs.groupBy(_._2).map { case (o, js) => o -> js.map(_._1) }

  /** Submitted stages of an op's jobs (skipped stages never run). */
  private def stagesOf(op: Long): Seq[StageAgg] =
    jobsByOp.getOrElse(op, Nil).flatMap(_.stageIds).distinct.flatMap(stages.get).filter(_.submitUs >= 0)

  /** Bench spans plus one span per job (under the call that submitted
    * it), per stage (under its job) and per GC pause (under the op). */
  val spans: Seq[Span] = {
    val out = mutable.ArrayBuffer.empty[Span] ++ benchSpans
    val stageSeen = mutable.Set.empty[Int]
    for ((j, op) <- jobs) {
      val jid = h.tracer.newId()
      out += Span(jid, Attribution.parentAt(op, j.startUs, benchSpans), "sched", s"job ${j.id}", j.startUs, j.endUs)
      for (sid <- j.stageIds; s <- stages.get(sid) if s.submitUs >= 0 && stageSeen.add(sid))
        out += Span(h.tracer.newId(), jid, "exec", s"stage $sid", s.submitUs,
          if (s.completeUs >= 0) s.completeUs else j.endUs)
    }
    for ((s, e) <- h.gcLog.intervals;
         o <- traced.find(o => o.startUs <= s && s <= o.endUs))
      out += Span(h.tracer.newId(), o.id, "jvm", "gc", s, e)
    out.toList
  }

  /** The span ids under `root`, root included. */
  private lazy val children = spans.groupBy(_.parent)
  def subtree(root: Long): Set[Long] = {
    val acc = mutable.Set(root)
    var frontier = List(root)
    while (frontier.nonEmpty) {
      val next = frontier.flatMap(id => children.getOrElse(id, Nil).map(_.id))
      acc ++= next; frontier = next
    }
    acc.toSet
  }

  /** Jobs whose span hangs under a bench span named `name`. */
  def jobsUnder(name: String): Int = {
    val roots = benchSpans.filter(_.name == name).map(_.id)
    val under = roots.flatMap(subtree).toSet
    spans.count(s => s.layer == "sched" && s.name.startsWith("job ") && under(s.id))
  }

  private def perOp(f: OpRec => Double): Double =
    if (traced.isEmpty) 0.0 else traced.map(f).sum / traced.size

  def metrics: Map[String, M] = {
    val self = SelfTime.byLayer(spans)
    val selfM = Seq("api", "plans", "catalog", "pipeline", "sched", "exec", "jvm").map(l =>
      s"$l.self_ms" -> M(self.getOrElse(l, 0L) / 1000.0 / math.max(1, traced.size), "ms"))
    val opSt = traced.map(o => o -> stagesOf(o.id)).toMap
    val allSt = opSt.values.flatten.toSeq
    val tasks = allSt.map(_.tasks).sum
    val wallMs = traced.map(_.ms).sum
    val gaps = traced.map { o =>
      val js = jobsByOp.getOrElse(o.id, Nil).map(j =>
        (math.max(j.startUs, o.startUs), math.min(j.endUs, o.endUs)))
      (o.endUs - o.startUs - SelfTime.covered(js)) / 1000.0
    }
    val mb = 1048576.0
    val q = math.max(1, h.plannedQueries)
    selfM.toMap ++ Map(
      "sched.jobs_per_op" -> M(perOp(o => jobsByOp.getOrElse(o.id, Nil).size), "count"),
      "sched.stages_per_op" -> M(perOp(o => opSt(o).size), "count"),
      "sched.tasks_per_op" -> M(perOp(o => opSt(o).map(_.tasks).sum), "count"),
      "sched.delay_ms" -> M(if (tasks == 0) 0.0 else allSt.map(_.schedDelayMs).sum.toDouble / tasks, "ms"),
      "sched.driver_gap_ms" -> M(Stats.median(gaps), "ms"),
      "exec.run_ms" -> M(perOp(o => opSt(o).map(_.runMs).sum), "ms"),
      "exec.cpu_ms" -> M(perOp(o => opSt(o).map(_.cpuNs).sum / 1e6), "ms"),
      "exec.busy_frac" -> M(if (wallMs == 0) 0.0 else allSt.map(_.runMs).sum / (wallMs * h.cores), "ratio"),
      "exec.shuffle_write_mb" -> M(perOp(o => opSt(o).map(_.shuffleWriteB).sum / mb), "MB"),
      "exec.shuffle_read_mb" -> M(perOp(o => opSt(o).map(_.shuffleReadB).sum / mb), "MB"),
      "exec.spill_mb" -> M(perOp(o => opSt(o).map(_.spillB).sum / mb), "MB"),
      "exec.input_mb" -> M(perOp(o => opSt(o).map(_.inputB).sum / mb), "MB"),
      "plans.analysis_ms" -> M(h.phases("analysis") / q, "ms"),
      "plans.optimization_ms" -> M(h.phases("optimization") / q, "ms"),
      "plans.planning_ms" -> M(h.phases("planning") / q, "ms"),
      "plans.share" -> M(if (wallMs == 0) 0.0 else self.getOrElse("plans", 0L) / 1000.0 / wallMs, "ratio"),
      "plans.shapes" -> M(h.planShapes.size, "count"))
  }

  /** Input bytes the given op read, per Spark's input metrics. */
  def inputBytes(op: Long): Long = stagesOf(op).map(_.inputB).sum
  def jobCount(op: Long): Int = jobsByOp.getOrElse(op, Nil).size
}
