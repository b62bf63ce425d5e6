package graftbench

import java.io.File

import scala.collection.mutable

import graft.tables.VersionedTable
import org.apache.spark.sql.SparkSession

/** What one run of a workload shares: the session, its arguments, the
  * output checks, and the metrics and run-record fields it produces. */
final class Ctx(val spark: SparkSession, val seed: Long, val seconds: Int,
                val trace: Option[Trace], val work: File, val cores: Int) {
  val checks = new Checks
  val metrics: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap[String, Double]()
  val record: mutable.LinkedHashMap[String, Any] = mutable.LinkedHashMap[String, Any]()
  private val noise = mutable.ArrayBuffer[Noise]()

  def dir(name: String): String = new File(work, name).getAbsolutePath

  /** Run set-up `n` times, each in a fresh directory, and keep the last.
    * `one` returns its result with its generation and build seconds;
    * `setup_s` is the median total. */
  def setup[S](n: Int = 3)(one: String => (S, Double, Double)): S = {
    val runs = (0 until n).map { i =>
      if (i > 0) Fs.deleteRec(new File(dir(s"setup${i - 1}")))
      val t0 = System.nanoTime()
      val (s, gen, build) = one(dir(s"setup$i"))
      (s, (System.nanoTime() - t0) / 1e9, gen, build)
    }
    metrics("setup_s") = Stats.median(runs.map(_._2))
    metrics("setup.gen_s") = Stats.median(runs.map(_._3))
    metrics("setup.build_s") = Stats.median(runs.map(_._4))
    record("setup_runs_s") = runs.map(_._2)
    runs.last._1
  }

  /** Run `f` under the host-noise sampler; the noise of every timed
    * window of the run is kept for the run record. @return f's result and
    * the window's readings. */
  def sampled[T](f: => T): (T, Noise) = {
    val s = new HostNoise
    val r = try f finally noise += s.stop()
    (r, noise.last)
  }

  def noiseSummary(): Unit = {
    val ext = noise.map(_.extAvg).filter(_ >= 0)
    val steal = noise.map(_.stealAvg).filter(_ >= 0)
    metrics("host.ext_cpu_cores") = if (ext.isEmpty) -1.0 else ext.max
    metrics("host.steal_cores") = if (steal.isEmpty) -1.0 else steal.max
    record("host_noise") = Map(
      "windows" -> noise.size,
      "ext_cpu_cores_avg" -> noise.map(_.extAvg),
      "ext_cpu_cores_max" -> noise.map(_.extMax),
      "steal_cores_avg" -> noise.map(_.stealAvg),
      "trampled" -> noise.exists(n => !Ctx.clean(n)))
  }

  /** Log and snapshot shape of a table, walked from outside, plus the
    * median time to open it and resolve its schema. */
  def tableShape(path: String): Unit = {
    val opens = (0 until 5).map { _ =>
      val t0 = System.nanoTime()
      VersionedTable.forPath(spark, path).schema
      (System.nanoTime() - t0) / 1e6
    }
    val log = Fs.files(new File(path, "_graft_log"))
    val live = VersionedTable.forPath(spark, path).read.inputFiles
    val liveBytes = live.map(u => new File(new java.net.URI(u)).length()).sum
    metrics("snapshot.open_ms") = Stats.median(opens)
    metrics("table.versions") = log.count(f => f.getName.matches("""\d{20}\.json""")).toDouble
    metrics("table.log_files") = log.size.toDouble
    metrics("table.checkpoints") = log.count(_.getName.endsWith(".checkpoint.json")).toDouble
    metrics("table.live_files") = live.length.toDouble
    metrics("table.mean_file_mb") =
      if (live.isEmpty) 0.0 else liveBytes / 1048576.0 / live.length
  }

  /** Bytes of the files in a table's current snapshot. */
  def snapshotBytes(path: String): Long =
    VersionedTable.forPath(spark, path).read.inputFiles
      .map(u => new File(new java.net.URI(u)).length()).sum
}

object Ctx {
  /** Average cores of external CPU or steal above which a timed window
    * counts as trampled by another tenant. */
  val NoisyCores = 0.25
  /** Unreadable readings (-1) count as clean: there is nothing to judge. */
  def clean(n: Noise): Boolean = n.extAvg <= NoisyCores && n.stealAvg <= NoisyCores
}
