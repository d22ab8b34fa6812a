package layerbench

import java.lang.management.{ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession

/** Host-noise labels: load from outside this process, and a fixed
  * CPU probe whose time moves only with the host. */
object Host {
  private val Hz = 100.0 // USER_HZ

  /** (busy cpu-seconds of the whole host, cpu-seconds of this process). */
  def cpuTotals(): (Double, Double) =
    try {
      val v = Files.readString(Paths.get("/proc/stat")).linesIterator.next()
        .trim.split("\\s+").drop(1).map(_.toDouble)
      // user+nice+system, irq+softirq+steal; idle and iowait excluded
      val busy = (v.take(3).sum + v.slice(5, 8).sum) / Hz
      val raw = Files.readString(Paths.get("/proc/self/stat"))
      val f = raw.substring(raw.lastIndexOf(')') + 1).trim.split("\\s+")
      (busy, (f(11).toDouble + f(12).toDouble) / Hz)
    } catch { case _: Exception => (-1.0, -1.0) }

  /** Cores other processes kept busy between two [[cpuTotals]] readings
    * taken `wallS` seconds apart; -1 when /proc is unreadable. */
  def extCores(c0: (Double, Double), c1: (Double, Double), wallS: Double): Double =
    if (c0._1 < 0 || c1._1 < 0 || wallS <= 0) -1.0
    else math.max(0.0, ((c1._1 - c0._1) - (c1._2 - c0._2)) / wallS)

  /** Seconds for a fixed in-memory aggregation: identical work in every
    * run, so a slow reading means a busy host. */
  def calibrate(spark: SparkSession): Double = {
    val t0 = System.nanoTime()
    val s = spark.range(0L, 16000000L, 1L, 16).selectExpr("sum(id * 2 + 1)").head().getLong(0)
    require(s == 16000000L * 16000000L, s"calibration sum drifted: $s")
    (System.nanoTime() - t0) / 1e9
  }

  /** Peak resident memory of this process (VmHWM), in MB. */
  def peakRssMb(): Double =
    try Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024).getOrElse(-1.0)
    catch { case _: Exception => -1.0 }
}

/** Garbage collection and heap, through the platform MXBeans. */
object Jvm {
  private def gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
  private def heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(_.getType == MemoryType.HEAP)

  /** (collections, collection ms) since the JVM started. */
  def gcTotals(): (Long, Long) =
    (gcs.map(_.getCollectionCount).sum, gcs.map(_.getCollectionTime).sum)

  def resetHeapPeak(): Unit = heapPools.foreach(_.resetPeakUsage())
  def heapPeakMb(): Double = heapPools.map(_.getPeakUsage.getUsed).sum / 1048576.0
  def heapUsedMb(): Double = heapPools.map(_.getUsage.getUsed).sum / 1048576.0

  /** Records every collection, from the JDK's GC notifications: its
    * interval on the run clock and the heap in use right after it. */
  final class GcLog(clock: Clock) extends NotificationListener {
    private val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    private val heapNames = heapPools.map(_.getName).toSet
    private val gcsSeen = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    gcs.foreach { case e: NotificationEmitter => e.addNotificationListener(this, null, null); case _ => }

    override def handleNotification(n: Notification, handback: AnyRef): Unit =
      if (n.getType == com.sun.management.GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = com.sun.management.GarbageCollectionNotificationInfo
          .from(n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData]).getGcInfo
        val after = info.getMemoryUsageAfterGc.asScala.collect { case (k, u) if heapNames(k) => u.getUsed }.sum
        synchronized {
          gcsSeen += ((clock.fromEpochMs(jvmStartMs + info.getStartTime),
            clock.fromEpochMs(jvmStartMs + info.getEndTime), after))
        }
      }

    def intervals: Seq[(Long, Long)] = synchronized(gcsSeen.map(g => (g._1, g._2)).toList)

    /** The most heap in use right after a collection that ended in
      * [fromUs, toUs], in MB; 0 when none did. */
    def peakAfterMb(fromUs: Long, toUs: Long): Double = synchronized {
      val in = gcsSeen.filter(g => g._2 >= fromUs && g._2 <= toUs).map(_._3)
      if (in.isEmpty) 0.0 else in.max / 1048576.0
    }
  }
}
