package graft.perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd,
  SparkListenerSQLExecutionStart}

/** The benchmark's own SparkListener. Every job is attributed to a key:
  * its job group (set per query and per standing-model touch) or else
  * its scheduler pool (set per flow model), or "-" when neither is set.
  * Tasks and stages inherit their job's key, so any window of time and
  * any key can be summarised after the fact; SQL executions are kept
  * by time only (write commands are counted per window).
  */
final class Probe extends SparkListener {
  import Probe._

  private val jobs = mutable.LongMap.empty[Job]
  private val stageKey = mutable.LongMap.empty[String]
  private val stagesDone = mutable.ArrayBuffer.empty[(String, Long)]
  private val tasks = mutable.ArrayBuffer.empty[Task]
  private val execs = mutable.LongMap.empty[Exec]
  private val blocks = mutable.HashMap.empty[String, Long]
  private var blockBytes = 0L
  private var blockPeak = 0L

  private def keyOf(p: java.util.Properties): String = Option(p)
    .flatMap(p => Option(p.getProperty("spark.jobGroup.id"))
      .orElse(Option(p.getProperty("spark.scheduler.pool"))))
    .getOrElse("-")

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val k = keyOf(e.properties)
    jobs(e.jobId.toLong) = Job(k, e.time, -1L)
    e.stageIds.foreach(s => stageKey(s.toLong) = k)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId.toLong).foreach(_.end = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      val s = e.stageInfo
      stagesDone += stageKey.getOrElse(s.stageId.toLong, "-") ->
        s.completionTime.getOrElse(System.currentTimeMillis())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    val i = e.taskInfo
    if (m != null) tasks += Task(stageKey.getOrElse(e.stageId.toLong, "-"),
      i.launchTime, i.finishTime, m.executorRunTime,
      m.jvmGCTime, m.shuffleReadMetrics.totalBytesRead,
      m.shuffleWriteMetrics.bytesWritten,
      m.memoryBytesSpilled + m.diskBytesSpilled,
      m.outputMetrics.bytesWritten)
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit =
    synchronized {
      val info = e.blockUpdatedInfo
      if (info.blockId.isRDD) {
        val id = info.blockId.name
        blockBytes -= blocks.getOrElse(id, 0L)
        if (info.storageLevel.isValid && info.memSize > 0) {
          blocks(id) = info.memSize
          blockBytes += info.memSize
        } else blocks.remove(id)
        blockPeak = math.max(blockPeak, blockBytes)
      }
    }

  override def onOtherEvent(e: SparkListenerEvent): Unit = synchronized {
    e match {
      case s: SparkListenerSQLExecutionStart =>
        val root = Option(s.sparkPlanInfo).map(_.nodeName).getOrElse("")
        execs(s.executionId) = Exec(s.time, -1L, root,
          Option(s.physicalPlanDescription).getOrElse("")
            .linesIterator.take(3).mkString(" "))
      case s: SparkListenerSQLExecutionEnd =>
        execs.get(s.executionId).foreach(_.end = s.time)
      case _ =>
    }
  }

  /** Reset the peak of cached/checkpointed block memory to its current
    * level, so the next window reports its own peak. */
  def resetStoragePeak(): Unit = synchronized { blockPeak = blockBytes }

  def storagePeakBytes: Long = synchronized(blockPeak)

  /** Length of the union of `intervals`, clipped to [t0, t1]. */
  private def covered(intervals: Seq[(Long, Long)], t0: Long,
      t1: Long): Long = {
    var total = 0L
    var curS = -1L
    var curE = -1L
    intervals.map { case (s, e) => (math.max(s, t0), math.min(e, t1)) }
      .filter { case (s, e) => e > s }.sortBy(_._1).foreach { case (s, e) =>
        if (s > curE) {
          if (curE > curS) total += curE - curS
          curS = s; curE = e
        } else curE = math.max(curE, e)
      }
    if (curE > curS) total += curE - curS
    total
  }

  /** Spark-layer metrics of the window [t0, t1] (epoch ms), over the
    * jobs whose key passes `keep`. Wall-based figures (slot use, driver
    * gap, action time) use the window's wall time. */
  def summary(t0: Long, t1: Long, cores: Int,
      keep: String => Boolean = _ => true): Map[String, Double] =
    synchronized {
      val ts = tasks.filter(t => keep(t.key) && t.finish >= t0 &&
        t.launch <= t1)
      val js = jobs.valuesIterator.filter(j => keep(j.key) &&
        j.start >= t0 && j.start <= t1).toSeq
      val wall = math.max(1L, t1 - t0)
      val busy = ts.map(_.busyMs).sum
      val taskCover = covered(ts.map(t => (t.launch, t.finish)).toSeq, t0, t1)
      val jobCover = covered(js.map(j =>
        (j.start, if (j.end < 0) t1 else j.end)), t0, t1)
      Map(
        "jobs" -> js.size.toDouble,
        "stages" -> stagesDone.count { case (k, at) =>
          keep(k) && at >= t0 && at <= t1 }.toDouble,
        "tasks" -> ts.size.toDouble,
        "task_busy_s" -> busy / 1e3,
        "action_s" -> jobCover / 1e3,
        "slot_util" -> busy.toDouble / (wall.toDouble * cores),
        "driver_gap_s" -> (wall - taskCover) / 1e3,
        "shuffle_read_bytes" -> ts.map(_.shuffleRead).sum.toDouble,
        "shuffle_write_bytes" -> ts.map(_.shuffleWrite).sum.toDouble,
        "spill_bytes" -> ts.map(_.spill).sum.toDouble,
        "gc_s" -> ts.map(_.gcMs).sum / 1e3,
        "output_bytes" -> ts.map(_.outBytes).sum.toDouble)
    }

  /** First job start and last job end per key inside [t0, t1]. */
  def jobSpans(t0: Long, t1: Long): Map[String, (Long, Long)] =
    synchronized {
      jobs.valuesIterator.filter(j => j.start >= t0 && j.start <= t1)
        .toSeq.groupBy(_.key).map { case (k, js) =>
          k -> (js.map(_.start).min, js.map(j => math.max(j.end, j.start))
            .max)
        }
    }

  /** SQL executions started inside [t0, t1]. */
  def executions(t0: Long, t1: Long): Seq[Exec] = synchronized {
    execs.valuesIterator.filter(x => x.start >= t0 && x.start <= t1)
      .toSeq.sortBy(_.start)
  }
}

object Probe {
  final case class Task(key: String, launch: Long, finish: Long,
      busyMs: Long, gcMs: Long, shuffleRead: Long, shuffleWrite: Long,
      spill: Long, outBytes: Long)
  final case class Job(key: String, start: Long, var end: Long)
  final case class Exec(start: Long, var end: Long, root: String,
      plan: String)
}
