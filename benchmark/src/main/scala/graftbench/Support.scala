package graftbench

import java.io.File
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** Order statistics over a run's samples. */
object Stats {
  /** Median; NaN when empty. */
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
  /** Median, or 0 when there is nothing to take it over (a layer the
    * workload never enters). */
  def medianOr0(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else median(xs)
}

/** Table-directory walks, done from outside the engine. */
object Fs {
  def deleteRec(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRec))
    f.delete(): Unit
  }

  def copyRec(src: Path, dst: Path): Unit = {
    val it = Files.walk(src)
    try it.forEach { p =>
      val t = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(t)
      else Files.copy(p, t, StandardCopyOption.COPY_ATTRIBUTES)
    } finally it.close()
  }

  /** Regular files under `dir` (recursive), skipping checksum side files. */
  def files(dir: File): Seq[File] =
    if (!dir.exists()) Seq.empty
    else {
      val out = mutable.ArrayBuffer[File]()
      def go(d: File): Unit = Option(d.listFiles()).getOrElse(Array.empty).foreach { f =>
        if (f.isDirectory) go(f) else if (!f.getName.endsWith(".crc")) out += f
      }
      go(dir)
      out.toSeq
    }

  /** Parquet data files of a table: path relative to `<root>/data` → bytes. */
  def dataFiles(table: String): Map[String, Long] = {
    val data = new File(table, "data")
    files(data).filter(_.getName.endsWith(".parquet"))
      .map(f => data.toPath.relativize(f.toPath).toString -> f.length()).toMap
  }

  def bytes(dir: File): Long = files(dir).map(_.length()).sum
}

/** One timed window's host readings: cores burned by other processes
  * (average, and the highest 500 ms window), cores the hypervisor stole
  * (average), and this JVM's own CPU seconds. All -1 when `/proc` is
  * unreadable. */
final case class Noise(extAvg: Double, extMax: Double, stealAvg: Double, selfCpuS: Double)

/** Host noise over a timed window, sampled from `/proc` at 2 Hz: cores
  * burned by processes other than this JVM, and cores the hypervisor
  * stole. A window with more than [[Ctx.NoisyCores]] of either counts as
  * trampled by another tenant. */
final class HostNoise {
  private val Hz = 100.0 // Linux USER_HZ
  @volatile private var running = true
  private val ext = mutable.ArrayBuffer[Double]()
  private val t0 = System.nanoTime()
  private val snap0 = HostNoise.snap()
  private val thread = new Thread(() => {
    var prev = snap0
    var prevT = t0
    while (running) {
      try Thread.sleep(500) catch { case _: InterruptedException => }
      val cur = HostNoise.snap()
      val curT = System.nanoTime()
      for ((b0, s0, _, _) <- prev; (b1, s1, _, _) <- cur) {
        val dt = (curT - prevT) / 1e9
        if (dt > 0.05) ext.synchronized { ext += ((b1 - b0) - (s1 - s0)) / Hz / dt }
      }
      prev = cur
      prevT = curT
    }
  })
  thread.setDaemon(true)
  thread.start()

  def stop(): Noise = {
    running = false
    thread.interrupt()
    thread.join(2000)
    val dt = (System.nanoTime() - t0) / 1e9
    (snap0, HostNoise.snap()) match {
      case (Some((b0, s0, st0, c0)), Some((b1, s1, st1, c1))) if dt > 0.05 =>
        val mx = ext.synchronized(if (ext.isEmpty) 0.0 else ext.max)
        Noise(math.max(((b1 - b0) - (s1 - s0)) / Hz / dt, 0.0), math.max(mx, 0.0),
          math.max((st1 - st0) / Hz / dt, 0.0), (c1 - c0) / Hz)
      case _ => Noise(-1.0, -1.0, -1.0, -1.0)
    }
  }
}

object HostNoise {
  private def readLine(p: String): Option[String] =
    try Some(new String(Files.readAllBytes(java.nio.file.Paths.get(p))))
    catch { case scala.util.control.NonFatal(_) => None }

  /** (user, system) jiffies of this JVM (fields 14/15 of /proc/self/stat). */
  private def selfJiffies(): Option[(Long, Long)] =
    readLine("/proc/self/stat").map { s =>
      val f = s.substring(s.lastIndexOf(')') + 2).split(" ")
      (f(11).toLong, f(12).toLong)
    }

  /** (host user+nice jiffies, this JVM's user jiffies, host steal jiffies,
    * this JVM's user+system jiffies). */
  private def snap(): Option[(Long, Long, Long, Long)] =
    for {
      stat <- readLine("/proc/stat")
      (user, sys) <- selfJiffies()
    } yield {
      val v = stat.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (v(0) + v(1), user, if (v.length > 7) v(7) else 0L, user + sys)
    }

  /** JVM peak resident set (VmHWM), MB; -1 when unreadable. */
  def peakRssMb(): Double =
    readLine("/proc/self/status").flatMap(_.linesIterator.find(_.startsWith("VmHWM:")))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
}

/** Operation accounting behind `attempted`/`failed`: each timed operation
  * is one attempt; it fails when it throws or when any output check made
  * on it does not hold. Failed checks are kept for the run record. */
final class Checks {
  private var attempted = 0L
  private val failedOps = mutable.LinkedHashSet[Long]()
  val messages: mutable.ArrayBuffer[String] = mutable.ArrayBuffer[String]()

  /** Start the next operation; @return its id. */
  def begin(): Long = { attempted += 1; attempted }
  def fail(op: Long, msg: String): Unit = {
    failedOps += op
    if (messages.size < 50) messages += s"op $op: $msg"
  }
  /** Compare one output value with its expected value. */
  def expect(op: Long, what: String, got: Any, want: Any): Unit =
    if (got != want) fail(op, s"$what = $got, expected $want")
  def attemptedOps: Long = attempted
  def failedCount: Long = failedOps.size.toLong
}

/** Minimal JSON rendering for the flat records this benchmark writes. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case b: Boolean => b.toString
    case s: String => str(s)
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case o => str(o.toString)
  }
}
