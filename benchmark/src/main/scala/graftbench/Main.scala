package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import org.apache.spark.sql.SparkSession

/** One benchmark run of one workload, in a fresh JVM.
  *
  * usage: graftbench.Main --workload <name> --seed <n> --seconds <s>
  *        --trace <0|1> --work <scratch dir> --out <result file>
  *
  * Writes every metric the run measured, its check outcome and its run
  * record to the result file as one JSON object; `run.py` selects the
  * metrics `BENCHMARK.json` names for the mode. */
object Main {
  val Workloads: Map[String, Ctx => Unit] = Map(
    "header_daily" -> HeaderDaily.run,
    "items_bulk" -> ItemsBulk.run)

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = Workloads.getOrElse(a("workload"),
      throw new IllegalArgumentException(s"unknown workload ${a("workload")}"))
    val work = new File(a("work"))
    work.mkdirs()
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.GraftSession.tune(spark)
    val trace = if (a("trace") == "1") Some(new Trace(spark)) else None
    val ctx = new Ctx(spark, a("seed").toLong, a("seconds").toInt, trace, work, cores)
    workload(ctx)
    ctx.noiseSummary()
    if (trace.isDefined) ctx.metrics("trace.batch_p50_s") = ctx.metrics("batch_p50_s")
    ctx.metrics("peak_rss_mb") = HostNoise.peakRssMb()
    ctx.record("checks_failed") = ctx.checks.messages.toSeq
    val out = Map(
      "correct" -> (ctx.checks.failedCount == 0),
      "attempted" -> ctx.checks.attemptedOps,
      "failed" -> ctx.checks.failedCount,
      "metrics" -> ctx.metrics,
      "record" -> ctx.record)
    spark.stop()
    Files.write(new File(a("out")).toPath, Json.value(out).getBytes(StandardCharsets.UTF_8))
  }
}
