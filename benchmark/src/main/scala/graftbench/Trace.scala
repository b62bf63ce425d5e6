package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Attribution listener, registered only on traced runs. It records every
  * Spark job with its start/end, its layer and the task totals of its
  * stages, so that any timed window (one drop, one merge, one read) can be
  * broken down by layer afterwards.
  *
  * A job's layer comes from its `spark.job.description` first (the table
  * layer labels its merge jobs `graft.merge: <step>`); otherwise from the
  * source file in its last stage's call-site name, e.g.
  * `parquet at Validation.scala:146` → `Validation.scala`. */
final class Trace(spark: SparkSession) extends SparkListener {
  import Trace._

  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val stageTaskMs = new ConcurrentHashMap[Int, mutable.ArrayBuffer[Long]]()

  spark.sparkContext.addSparkListener(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val desc = Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .getOrElse("")
    val site = e.stageInfos.sortBy(_.stageId).lastOption.map(_.name).getOrElse("")
    jobs.put(e.jobId, new JobRec(e.jobId, e.time, layerOf(desc, site), s"$site | $desc"))
    e.stageIds.foreach(s => stageJob.put(s, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.end = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    if (e.taskInfo != null)
      stageTaskMs.computeIfAbsent(e.stageId, _ => mutable.ArrayBuffer[Long]())
        .synchronized { stageTaskMs.get(e.stageId) += e.taskInfo.duration }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val info = e.stageInfo
    Option(stageJob.get(info.stageId)).flatMap(j => Option(jobs.get(j))).foreach { j =>
      val m = info.taskMetrics
      val tasks = Option(stageTaskMs.remove(info.stageId)).map(_.toSeq).getOrElse(Seq.empty)
      j.synchronized {
        j.stages += 1
        if (m != null) {
          j.taskMs += m.executorRunTime
          j.gcMs += m.jvmGCTime
          j.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          j.spill += m.memoryBytesSpilled + m.diskBytesSpilled
          j.outBytes += m.outputMetrics.bytesWritten
          j.outRecords += m.outputMetrics.recordsWritten
          j.inRecords += m.inputMetrics.recordsRead
          val total = tasks.sum
          if (tasks.nonEmpty && total > j.heaviestStageMs) {
            j.heaviestStageMs = total
            j.heaviestSkew = tasks.max.toDouble / math.max(Stats.median(tasks.map(_.toDouble)), 1.0)
          }
        }
      }
    }
  }

  /** Deliver every queued event, then return the jobs that started inside
    * the wall-clock window [t0Ms, t1Ms]. A job with neither a description
    * nor a source file in its call site (adaptive execution submits each
    * shuffle map stage as a job from a thread pool) takes the layer of the
    * next job that has one: the query it feeds. */
  def window(t0Ms: Long, t1Ms: Long): Window = {
    org.apache.spark.GraftSparkBridge.drainListenerBus(spark.sparkContext)
    val in = jobs.values().asScala.filter(j => j.start >= t0Ms && j.start <= t1Ms)
      .toSeq.sortBy(_.id)
    in.foldRight("other") { (j, next) =>
      if (j.layer == "other") j.layer = next
      j.layer
    }
    Window(in, t0Ms, t1Ms)
  }
}

object Trace {
  final class JobRec(val id: Int, val start: Long, var layer: String, val site: String) {
    var end: Long = -1L
    var stages = 0
    var taskMs = 0L
    var gcMs = 0L
    var shuffleWrite = 0L
    var spill = 0L
    var outBytes = 0L
    var outRecords = 0L
    var inRecords = 0L
    var heaviestStageMs = -1L
    var heaviestSkew = 1.0
    def durS: Double = math.max(end - start, 0L) / 1e3
  }

  private val SiteFile = """ at ([A-Za-z0-9_$]+\.scala)""".r

  /** Layer of one job, by description first, then call-site source file. */
  def layerOf(desc: String, site: String): String =
    if (desc.startsWith("graft.merge: ")) {
      val step = desc.stripPrefix("graft.merge: ")
      if (step.startsWith("source stats")) "merge.stats_agg"
      else if (step.startsWith("touched-file probe")) "merge.probe"
      else if (step.startsWith("rewrite")) "merge.rewrite"
      else if (step.startsWith("insert-only")) "merge.insert"
      else "merge.other"
    } else if (desc.startsWith("graft.")) "tables"
    else SiteFile.findFirstMatchIn(site).map(_.group(1)) match {
      case Some("Validation.scala") => "validation"
      case Some("VersionedTable.scala") => "tables"
      case Some(f) if f.endsWith("EtlJob.scala") => "jobs"
      case Some(f) => f.stripSuffix(".scala")
      case None => "other"
    }

  /** The jobs of one timed window, with the per-layer totals derived
    * from them. */
  final case class Window(jobs: Seq[JobRec], t0Ms: Long, t1Ms: Long) {
    def wallS: Double = (t1Ms - t0Ms) / 1e3
    def of(prefix: String): Seq[JobRec] = jobs.filter(_.layer.startsWith(prefix))
    def taskS(js: Seq[JobRec] = jobs): Double = js.map(_.taskMs).sum / 1e3
    def jobS(js: Seq[JobRec]): Double = js.map(_.durS).sum
    def mb(f: JobRec => Long, js: Seq[JobRec] = jobs): Double = js.map(f).sum / 1048576.0

    /** Wall time no job covered: driver-side work between jobs. */
    def driverGapS: Double = {
      val iv = jobs.map(j => (math.max(j.start, t0Ms), math.min(if (j.end < 0) t1Ms else j.end, t1Ms)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = -1L
      var curB = -1L
      iv.foreach { case (a, b) =>
        if (a > curB) { covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      covered += curB - curA
      math.max(wallS - covered / 1e3, 0.0)
    }

    /** Max/median task time of the window's heaviest stage. */
    def taskSkew: Double =
      if (jobs.isEmpty) 1.0 else jobs.maxBy(_.heaviestStageMs).heaviestSkew

    /** Spark-runtime totals of this window. */
    def sparkMetrics(cores: Int): Map[String, Double] = Map(
      "spark.jobs" -> jobs.size.toDouble,
      "spark.stages" -> jobs.map(_.stages).sum.toDouble,
      "spark.task_s" -> taskS(),
      "spark.cpu_util" -> (if (wallS > 0) taskS() / (wallS * cores) else 0.0),
      "spark.driver_gap_s" -> driverGapS,
      "spark.shuffle_write_mb" -> mb(_.shuffleWrite),
      "spark.spill_mb" -> mb(_.spill),
      "spark.gc_s" -> jobs.map(_.gcMs).sum / 1e3,
      "spark.task_skew" -> taskSkew)
  }
}
