package graftbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task metrics summed per Spark job group.
  *
  * Every suite stage carries the same call-site name
  * (`$anonfun$withThreadLocalCaptured$2`), so stages cannot be told apart by
  * name. The benchmark instead sets one job group per layer call
  * (`sc.setJobGroup`); AQE's map-stage jobs and lazily materialised
  * checkpoints run on the calling thread's local properties, so they carry
  * the group too. Each job's stages are attributed to the job's group the
  * first time the stage appears. */
final class LayerListener extends SparkListener {

  final class Totals {
    var jobs = 0
    var rowsRead = 0L
    var shuffleBytes = 0L
    var spillBytes = 0L
    var taskMs = 0L
    /** (submission, completion) of each completed stage, epoch ms. */
    val stageIntervals: mutable.ArrayBuffer[(Long, Long)] = mutable.ArrayBuffer.empty
  }

  private val byGroup = mutable.Map.empty[String, Totals]
  private val stageGroup = mutable.Map.empty[Int, String]

  private def totals(group: String): Totals = byGroup.getOrElseUpdate(group, new Totals)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val group = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse(LayerListener.NoGroup)
    totals(group).jobs += 1
    e.stageIds.foreach(id => if (!stageGroup.contains(id)) stageGroup(id) = group)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val info = e.stageInfo
    stageGroup.get(info.stageId).foreach { g =>
      for (s <- info.submissionTime; c <- info.completionTime) totals(g).stageIntervals += ((s, c))
    }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageGroup.get(e.stageId).foreach { g =>
      val t = totals(g)
      t.rowsRead += m.inputMetrics.recordsRead
      t.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      t.spillBytes += m.diskBytesSpilled
      t.taskMs += m.executorRunTime
    }
  }

  /** Removes and returns the totals of `group` (all events delivered so far). */
  def take(group: String): Totals = synchronized {
    byGroup.remove(group).getOrElse(new Totals)
  }
}

object LayerListener {
  val NoGroup = "(none)"

  /** The length of [from, to] that no interval covers, in the intervals' unit. */
  def uncovered(from: Long, to: Long, intervals: Seq[(Long, Long)]): Long = {
    var covered = 0L
    var reach = from
    intervals.map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }
      .sortBy(_._1)
      .foreach { case (s, e) =>
        if (e > reach) { covered += e - math.max(s, reach); reach = e }
      }
    math.max(0L, (to - from) - covered)
  }
}
