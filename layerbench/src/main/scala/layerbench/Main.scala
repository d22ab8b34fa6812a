package layerbench

import java.lang.management.ManagementFactory
import scala.collection.immutable.{ListMap, TreeMap}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** What a workload reports after its timed phase: call counts, the
  * latencies of its read calls (by kind, with each kind's weight in the
  * mix) and write calls, its own metrics, and notes on what it left out
  * of the timed mix and why. */
final case class Outcome(attempted: Int, failed: Int, reads: Seq[(String, Double)],
                         readMix: Map[String, Int], writes: Seq[Double],
                         metrics: Map[String, M], sizes: Map[String, Double],
                         notes: Map[String, String] = Map.empty)

trait Workload {
  /** Generate the inputs from the seed and store them; runs once and is
    * not part of set-up time, since it is the benchmark's own work. */
  def prepare(): Unit
  /** Build fresh program state from the inputs. */
  def setup(round: Int): Unit
  /** Call every kind of op until caches are filled and code is compiled;
    * runs once, after the first set-up round. */
  def warmUp(): Unit
  /** Run the next call(s) of the seeded sequence. */
  def step(): Unit
  /** Check every recorded output and compute the workload's metrics;
    * runs after the timed phase. */
  def finish(layers: Option[Layers]): Outcome
}

/** Runs one workload: set-up, a timed closed loop, checks, and one JSON
  * report line on stdout. See layerbench/README.md. */
object Main {
  /** Program state is built this many times and the median taken. */
  val SetupRounds = 3

  private implicit val formats: Formats = DefaultFormats
  private def json(kv: (String, Any)*): String = Serialization.write(ListMap(kv: _*))

  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val cores = args("cores").toInt
    val work = args("work")
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime

    val spark = graft.GraftSession.local(cores)
    val sessionS = (System.currentTimeMillis() - jvmStartMs) / 1000.0
    val h = new Harness(spark, cores, trace)
    val wl: Workload = workload match {
      case "portfolio_api" => new PortfolioApi(h, seed, work)
      case "table_lifecycle" => new TableLifecycle(h, seed, work)
      case "llm_batch" => new LlmBatch(h, seed, work)
    }
    val g0 = System.nanoTime()
    wl.prepare()
    val prepareS = (System.nanoTime() - g0) / 1e9
    def timed(f: => Unit): Double = { val t = System.nanoTime(); f; (System.nanoTime() - t) / 1e9 }
    val round0 = timed(wl.setup(0))
    val warmS = timed(wl.warmUp())
    val setupS = round0 +: (1 until SetupRounds).map(r => timed(wl.setup(r)))

    val calib0 = Host.calibrate(spark)
    // a full collection before the timed phase: every run starts it on a
    // heap holding only live state
    System.gc()
    val gc0 = Jvm.gcTotals()
    Jvm.resetHeapPeak()
    val cpu0 = Host.cpuTotals()
    h.recording = true
    val t0 = System.nanoTime()
    val t0Us = h.clock.nowUs
    while ((System.nanoTime() - t0) / 1e9 < seconds) wl.step()
    val wallS = (System.nanoTime() - t0) / 1e9
    h.recording = false
    val cpu1 = Host.cpuTotals()
    val gc1 = Jvm.gcTotals()
    val heapPeak = Jvm.heapPeakMb()
    // a full collection at the end of the timed phase, so that the live
    // heap counts the state the program still holds
    System.gc()
    val retained = Jvm.heapUsedMb()
    val liveHeap = math.max(h.gcLog.peakAfterMb(t0Us, h.clock.nowUs), retained)
    val calib1 = Host.calibrate(spark)

    val layers = if (trace) Some(new Layers(h)) else None
    // the spans leave memory only now, when the run is over
    layers.foreach(l => java.nio.file.Files.write(java.nio.file.Paths.get(work, "spans.jsonl"),
      l.spans.map(s => json("id" -> s.id, "parent" -> s.parent, "layer" -> s.layer, "name" -> s.name,
        "start_us" -> s.startUs, "end_us" -> s.endUs)).mkString("", "\n", "\n").getBytes("UTF-8")))
    val out = wl.finish(layers)
    val opMs = h.ops.map(_.ms).sum
    val calls = out.attempted
    val metrics = Map(
      // start to the first timed call: session, warm-up, and the median
      // of the repeated state builds
      "setup_s" -> M(sessionS + warmS + Stats.median(setupS), "s"),
      "read_p50_ms" -> M(Stats.mixP50(out.reads, out.readMix), "ms"),
      "read_tail_ms" -> M(Stats.tail(out.reads.map(_._2)), "ms"),
      "ops_per_s" -> M(if (opMs == 0) 0.0 else calls / (opMs / 1000.0), "1/s"),
      "failed_frac" -> M(if (calls == 0) 1.0 else out.failed.toDouble / calls, "ratio"),
      "peak_rss_mb" -> M(Host.peakRssMb(), "MB"),
      "jvm.gc_ms" -> M((gc1._2 - gc0._2).toDouble, "ms"),
      "jvm.gc_count" -> M((gc1._1 - gc0._1).toDouble, "count"),
      "jvm.heap_peak_mb" -> M(heapPeak, "MB"),
      "heap_live_peak_mb" -> M(liveHeap, "MB"),
      "host.ext_cores" -> M(Host.extCores(cpu0, cpu1, wallS), "cores"),
      "host.calib_s" -> M((calib0 + calib1) / 2, "s")) ++
      (if (out.writes.isEmpty) Map.empty else Map(
        "write_p50_ms" -> M(Stats.median(out.writes), "ms"),
        "write_tail_ms" -> M(Stats.tail(out.writes), "ms"))) ++
      (if (trace) layers.get.metrics ++ Map(
        "trace.overhead_ms" -> M(HalfSampler.overheadMs(h.ops.toSeq), "ms"))
      else Map.empty) ++
      out.metrics

    val report = json(
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "cores" -> cores, "correct" -> (out.failed == 0 && out.attempted > 0),
      "attempted" -> out.attempted, "failed" -> out.failed,
      "read_samples" -> out.reads.size, "write_samples" -> out.writes.size,
      "tail_percentile" -> Stats.tailPercentile(out.reads.size),
      "setup_rounds_s" -> setupS, "session_s" -> sessionS, "prepare_s" -> prepareS, "warmup_s" -> warmS,
      "sizes" -> out.sizes, "notes" -> out.notes,
      "metrics" -> TreeMap(metrics.toSeq: _*).map { case (k, m) =>
        // a value that is not a number is printed as null
        k -> Map("value" -> (if (m.value.isNaN || m.value.isInfinite) null else m.value), "unit" -> m.unit)
      })
    println(report)
    spark.stop()
    System.exit(if (out.failed == 0 && out.attempted > 0) 0 else 3)
  }
}
