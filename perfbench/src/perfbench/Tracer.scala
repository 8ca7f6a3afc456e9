package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** One Spark job as the traced run saw it: the job group the benchmark set
  * around the operation, the job description the program set (empty when
  * none), wall interval, and the totals of the tasks its stages ran. */
final class JobRec(val group: String, val desc: String, val start: Long) {
  var end: Long = start
  var runMs = 0L
  var gcMs = 0L
  var shuffleBytes = 0L
  var shuffleRecords = 0L
  var spillBytes = 0L
}

/** The benchmark's one SparkListener. Jobs are attributed through the
  * properties Spark copies from the submitting thread, tasks through the
  * job that first listed their stage. The benchmark runs one operation at a
  * time and calls [[drain]] after each, so the drained jobs are exactly that
  * operation's. */
final class Tracer extends SparkListener {
  private val jobs = mutable.LinkedHashMap[Int, JobRec]()
  private val stageJob = mutable.Map[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k))).getOrElse("")
    val rec = new JobRec(prop("spark.jobGroup.id"), prop("spark.job.description"), e.time)
    jobs(e.jobId) = rec
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = rec)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageJob.get(e.stageId).foreach { r =>
      r.runMs += m.executorRunTime
      r.gcMs += m.jvmGCTime
      r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      r.shuffleRecords += m.shuffleWriteMetrics.recordsWritten
      r.spillBytes += m.diskBytesSpilled
    }
  }

  /** Every job since the previous drain, once the listener bus has
    * delivered all events posted so far. */
  def drain(sc: SparkContext): Seq[JobRec] = {
    org.apache.spark.PerfbenchBus.drain(sc)
    synchronized {
      val out = jobs.values.toVector
      jobs.clear()
      stageJob.clear()
      out
    }
  }
}

/** Totals over a set of jobs, in the units the per-layer metrics use. */
final case class JobTotals(jobs: Seq[JobRec]) {
  def count: Double = jobs.size.toDouble
  def jobS: Double = jobs.iterator.map(j => j.end - j.start).sum / 1000.0
  def runS: Double = jobs.iterator.map(_.runMs).sum / 1000.0
  def gcS: Double = jobs.iterator.map(_.gcMs).sum / 1000.0
  def shuffleMb: Double = jobs.iterator.map(_.shuffleBytes).sum / 1e6
  def shuffleRecords: Double = jobs.iterator.map(_.shuffleRecords).sum.toDouble
  def spillMb: Double = jobs.iterator.map(_.spillBytes).sum / 1e6

  /** Wall time inside [w0, w1] (epoch ms) during which no job ran. */
  def driverGapS(w0: Long, w1: Long): Double = {
    val iv = jobs.map(j => (math.max(j.start, w0), math.min(j.end, w1)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = -1L
    var curB = -1L
    iv.foreach { case (a, b) =>
      if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    if (curB > curA) covered += curB - curA
    math.max(0L, (w1 - w0) - covered) / 1000.0
  }
}
