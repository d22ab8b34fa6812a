package layerbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-stage totals of the task metrics Spark reports. */
final class StageAgg(val id: Int) {
  var submitUs: Long = -1L
  var completeUs: Long = -1L
  var tasks = 0
  var runMs = 0L
  var cpuNs = 0L
  var schedDelayMs = 0L
  var shuffleWriteB = 0L
  var shuffleReadB = 0L
  var spillB = 0L
  var inputB = 0L
}

final case class JobRec(id: Int, startUs: Long, endUs: Long, tag: Option[Long],
                        stageIds: Seq[Int])

/** Records jobs, stages and task metrics through Spark's public
  * listener bus. Events arrive on the bus thread after the fact; a job
  * carries the op id the client set as a local property when it
  * submitted the job ([[SparkEvents.OpKey]]). */
final class SparkEvents(clock: Clock) extends SparkListener {
  private val started = mutable.Map.empty[Int, (Long, Option[Long], Seq[Int])]
  private val jobs = mutable.ArrayBuffer.empty[JobRec]
  private val stages = mutable.Map.empty[Int, StageAgg]
  private var drainSeen = false

  private def stage(id: Int) = stages.getOrElseUpdate(id, new StageAgg(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val tag = Option(e.properties).flatMap(p => Option(p.getProperty(SparkEvents.OpKey)))
      .map(_.toLong)
    started(e.jobId) = (clock.fromEpochMs(e.time), tag, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    started.remove(e.jobId).foreach { case (s, tag, st) =>
      if (tag.contains(SparkEvents.DrainTag)) drainSeen = true
      else jobs += JobRec(e.jobId, s, clock.fromEpochMs(e.time), tag, st)
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    e.stageInfo.submissionTime.foreach(t => stage(e.stageInfo.stageId).submitUs = clock.fromEpochMs(t))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    e.stageInfo.completionTime.foreach(t => s.completeUs = clock.fromEpochMs(t))
    if (s.submitUs < 0) e.stageInfo.submissionTime.foreach(t => s.submitUs = clock.fromEpochMs(t))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val s = stage(e.stageId)
    s.tasks += 1
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.shuffleWriteB += m.shuffleWriteMetrics.bytesWritten
      s.shuffleReadB += m.shuffleReadMetrics.totalBytesRead
      s.spillB += m.diskBytesSpilled
      s.inputB += m.inputMetrics.bytesRead
      // the Spark UI's scheduler delay: task wall time not spent
      // deserializing, running, serializing or fetching the result
      val i = e.taskInfo
      val gettingResult = if (i.gettingResultTime > 0) i.finishTime - i.gettingResultTime else 0L
      s.schedDelayMs += math.max(0L, i.duration - m.executorRunTime -
        m.executorDeserializeTime - m.resultSerializationTime - gettingResult)
    }
  }

  /** Block until the bus has delivered every event posted so far: run a
    * marker job and wait for its end, which the bus delivers after all
    * earlier events. */
  def drain(spark: SparkSession): Unit = {
    synchronized { drainSeen = false }
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty(SparkEvents.OpKey)
    sc.setLocalProperty(SparkEvents.OpKey, SparkEvents.DrainTag.toString)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(SparkEvents.OpKey, prev)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!synchronized(drainSeen) && System.nanoTime() < deadline) Thread.sleep(5)
  }

  def jobList: Seq[JobRec] = synchronized(jobs.toList)
  def stageMap: Map[Int, StageAgg] = synchronized(stages.toMap)
}

object SparkEvents {
  val OpKey = "layerbench.op"
  val DrainTag: Long = -1L
}
