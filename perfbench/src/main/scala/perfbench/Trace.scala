package perfbench

import java.nio.file.{Files, Paths}
import org.apache.spark.scheduler._
import scala.collection.mutable

/** Spark listener of the traced mode. It keeps jobs and stages in memory,
  * keyed by the job group the harness sets around each public call, and is
  * read only after the listener bus has drained. */
final class Recorder extends SparkListener {
  import Recorder._

  val jobs = mutable.LinkedHashMap.empty[Int, Job]
  /** Long call site of each SQL execution, by execution id. */
  val execDetails = mutable.Map.empty[String, String]
  /** Physical plan of each SQL execution as it started, by execution id. */
  val execPlans = mutable.Map.empty[String, org.apache.spark.sql.execution.SparkPlanInfo]
  val stages = mutable.LinkedHashMap.empty[Int, Stage]
  private val stageJob = mutable.Map.empty[Int, Int]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    e.stageInfos.foreach(s => stageJob.getOrElseUpdate(s.stageId, e.jobId))
    jobs(e.jobId) = Job(e.jobId, prop("spark.jobGroup.id"), prop("spark.sql.execution.id"),
      e.time, -1L, e.stageInfos.map(_.details).mkString("\n"))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) stages(i.stageId) = Stage(i.stageId, i.numTasks, m.executorRunTime,
      m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
      m.diskBytesSpilled)
  }

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      synchronized {
        execDetails(s.executionId.toString) = s.details
        execPlans(s.executionId.toString) = s.sparkPlanInfo
      }
    case _ =>
  }

  /** Call sites a job ran under: its stages' and its SQL execution's. */
  def detailsOf(j: Job): String = synchronized { j.details + "\n" + execDetails.getOrElse(j.execId, "") }

  def clear(): Unit = synchronized {
    jobs.clear(); stages.clear(); stageJob.clear(); execDetails.clear(); execPlans.clear()
  }

  def jobsIn(group: String): Seq[Job] = synchronized {
    jobs.values.filter(_.group == group).toSeq.sortBy(j => (j.start, j.id))
  }

  /** Stages that ran on behalf of the given jobs (a stage is owned by the
    * first job that listed it; skipped stages never complete). */
  def stagesOf(js: Seq[Job]): Seq[Stage] = synchronized {
    val ids = js.map(_.id).toSet
    stages.values.filter(s => stageJob.get(s.id).exists(ids)).toSeq.sortBy(_.id)
  }
}

object Recorder {
  final case class Job(id: Int, group: String, execId: String, start: Long,
                       var end: Long, details: String)
  final case class Stage(id: Int, tasks: Int, runMs: Long, gcMs: Long,
                         shuffleWrite: Long, shuffleRead: Long, spill: Long)
}

/** Aggregates over a set of stages. */
final case class StageSum(tasks: Long, runS: Double, gcS: Double, shuffleMb: Double,
                          shuffleReadMb: Double, spillMb: Double)
object StageSum {
  def of(ss: Seq[Recorder.Stage]): StageSum = StageSum(ss.map(_.tasks.toLong).sum,
    ss.map(_.runMs).sum / 1e3, ss.map(_.gcMs).sum / 1e3,
    ss.map(_.shuffleWrite).sum / 1e6, ss.map(_.shuffleRead).sum / 1e6,
    ss.map(_.spill).sum / 1e6)
}

/** Host and process counters read from /proc. */
object Proc {
  private def lines(p: String): Seq[String] =
    try { val s = Files.readAllLines(Paths.get(p)); (0 until s.size).map(s.get) }
    catch { case _: java.io.IOException => Nil }

  private def field(p: String, key: String): Option[Long] =
    lines(p).collectFirst { case l if l.startsWith(key) =>
      l.drop(key.length).trim.split("\\s+")(0).toLong }

  /** Bytes this process has read through syscalls. */
  def rchar: Long = field("/proc/self/io", "rchar:").getOrElse(0L)
  @volatile private var afterGcPeak = 0L
  /** Largest memory in use right after a garbage collection (heap and
    * non-heap pools together) since the last `resetGcPeak`, MB: what the
    * program still held once the collector had run, independent of how far
    * the heap was allowed to grow before it did. */
  def peakAfterGcMb: Double = afterGcPeak / 1e6
  def resetGcPeak(): Unit = synchronized { afterGcPeak = 0L }
  /** Heap plus non-heap memory in use now, MB. */
  def inUseMb: Double = {
    val m = java.lang.management.ManagementFactory.getMemoryMXBean
    (m.getHeapMemoryUsage.getUsed + m.getNonHeapMemoryUsage.getUsed) / 1e6
  }
  def watchGc(): Unit = {
    import com.sun.management.GarbageCollectionNotificationInfo
    val listener: javax.management.NotificationListener = (n, _) =>
      if (n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
        val info = GarbageCollectionNotificationInfo.from(
          n.getUserData.asInstanceOf[javax.management.openmbean.CompositeData])
        val used = info.getGcInfo.getMemoryUsageAfterGc.values.stream.mapToLong(_.getUsed).sum
        synchronized { afterGcPeak = math.max(afterGcPeak, used) }
      }
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.forEach {
      case e: javax.management.NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }
  }

  /** Aggregate CPU jiffies: (steal, total). */
  def cpu: (Long, Long) = lines("/proc/stat").headOption match {
    case Some(l) if l.startsWith("cpu ") =>
      val v = l.drop(4).trim.split("\\s+").map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    case _ => (0L, 0L)
  }
  def loadavg1: Double =
    lines("/proc/loadavg").headOption.map(_.split("\\s+")(0).toDouble).getOrElse(0.0)
}
