package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Task-metric totals for one job tag (or for the whole run). */
final class Agg {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var inBytes = 0L; var inRows = 0L
  var shuffleWrite = 0L; var shuffleRead = 0L
  var spillMem = 0L; var spillDisk = 0L
  var firstJobMs = Long.MaxValue
  val taskSpans = mutable.ArrayBuffer.empty[(Long, Long)]

  /** Milliseconds during which at least one task of this tag ran. */
  def busyMs: Long = {
    var busy = 0L; var end = Long.MinValue
    taskSpans.sortBy(_._1).foreach { case (a, b) =>
      if (a >= end) { busy += b - a; end = b }
      else if (b > end) { busy += b - end; end = b }
    }
    busy
  }
}

/** Aggregates Spark's own job, stage and task events: run-wide totals
  * always, and per job tag (tags starting with `pb_`) when the traced run
  * sets them. All callbacks run on the listener-bus thread; readers call
  * [[org.apache.spark.PerfbenchDrain]] first and read under the lock. */
final class Listener extends SparkListener {
  val total = new Agg
  private val byTag = mutable.Map.empty[String, Agg]
  private val stageTag = mutable.Map.empty[Int, String]

  def tag(t: String): Agg = synchronized { byTag.getOrElse(t, new Agg) }
  def totals[T](f: Agg => T): T = synchronized { f(total) }

  private def tagOf(props: java.util.Properties): Option[String] =
    Option(props).flatMap(p => Option(p.getProperty("spark.job.tags")))
      .flatMap(_.split(",").find(_.startsWith("pb_")))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    total.jobs += 1
    tagOf(e.properties).foreach { t =>
      val a = byTag.getOrElseUpdate(t, new Agg)
      a.jobs += 1
      a.firstJobMs = math.min(a.firstJobMs, e.time)
      e.stageIds.foreach(stageTag(_) = t)
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    total.stages += 1
    stageTag.get(e.stageInfo.stageId).foreach(t => byTag(t).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      def add(a: Agg): Unit = {
        a.tasks += 1
        a.runMs += m.executorRunTime; a.cpuNs += m.executorCpuTime; a.gcMs += m.jvmGCTime
        a.inBytes += m.inputMetrics.bytesRead; a.inRows += m.inputMetrics.recordsRead
        a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        a.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        a.spillMem += m.memoryBytesSpilled; a.spillDisk += m.diskBytesSpilled
      }
      add(total)
      stageTag.get(e.stageId).flatMap(byTag.get).foreach { a =>
        add(a)
        a.taskSpans += ((e.taskInfo.launchTime, e.taskInfo.finishTime))
      }
    }
  }
}
