package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Plan-evidence generator for effects that live in SIDE EFFECTS (a
  * streaming drain's state partitioning, the CC loop's per-round
  * frontier), which a plain `.explain()` of any declared query's returned
  * frame cannot show. Merge strategy decisions need no generator: every
  * MERGE commit records them in its `operationMetrics` (see
  * `VersionedTable.history`).
  *
  *  1. Streaming state partitioning: runs the real q57/q60 queries, then
  *     counts the state-partition dirs their checkpoints created
  *     (`state/0/<partition>/`) BEFORE cache release deletes them —
  *     the direct record of how many state stores each micro-batch pays.
  *  2. mode `cc` — runs q28/q40 with `spark.graft.cc.roundLogDir` set and
  *     copies out the per-round frontier sizes (round, changed-count), the
  *     direct record that the CC propagation join's input shrinks round
  *     over round under the early-frontier rewrite.
  *
  * Usage: runMain graft.PlanEvidence <sfDir> <outDir> <suffix> [cc]
  * (mode `cc` runs ONLY that section)
  */
object PlanEvidence {
  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: PlanEvidence <sfDir> <outDir> <suffix>")
    val Array(sfDir, outDir, suffix) = args.take(3)
    val mode = if (args.length > 3) args(3) else ""
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    Files.createDirectories(Paths.get(outDir))
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    GraftSession.tune(spark)

    // ---- mode cc: per-round CC frontier sizes ------------------------
    if (mode == "cc") {
      Seq("q28_dedup_clusters", "q40_cc_chain").foreach { q =>
        val d = Files.createTempDirectory("graft-ccrounds").toString
        spark.conf.set("spark.graft.cc.roundLogDir", d)
        try SparkEntry.queries(q)(spark, sfDir).count()
        finally spark.conf.unset("spark.graft.cc.roundLogDir")
        val src = Paths.get(d, "cc_rounds.csv")
        if (Files.exists(src)) {
          val body = Files.readString(src)
          Files.writeString(Paths.get(s"$outDir/cc_rounds_${q}_$suffix.csv"),
            "round,changed_labels (= next round's frontier size; " +
              "round 1's frontier is every vertex)\n" + body)
          println(s"$q rounds:\n$body")
        }
        graft.ops.Caches.releaseAll()
        GraftSession.deleteRec(new java.io.File(d))
      }
      spark.stop()
      return
    }

    // ---- streaming state partition counts (real q57 + q60 runs) ----
    def statePartitionDirs(tmpPrefix: String): Seq[(String, Int)] = {
      val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
      Option(tmp.listFiles()).getOrElse(Array.empty)
        .filter(f => f.isDirectory && f.getName.startsWith(tmpPrefix))
        .toSeq.flatMap { d =>
          val state0 = new java.io.File(d, "ckpt/state/0")
          if (state0.isDirectory)
            Some(d.getName ->
              Option(state0.listFiles()).map(_.count(_.isDirectory)).getOrElse(0))
          else None
        }
    }
    val lines = scala.collection.mutable.ArrayBuffer[String]()
    Seq("q57_stream_session_window" -> "graft-q57",
        "q60_dedup_watermark" -> "graft-q60").foreach { case (q, prefix) =>
      SparkEntry.queries(q)(spark, sfDir).count()
      statePartitionDirs(prefix).foreach { case (d, n) =>
        lines += s"$q ($d): state/0 has $n partition dirs (= state stores per stateful operator per micro-batch)"
      }
      graft.ops.Caches.releaseAll()
    }
    Files.writeString(Paths.get(s"$outDir/streaming_state_partitions_$suffix.txt"),
      s"== streaming state partition counts ($suffix, sf=$sfDir, session shuffle partitions=$cpus) ==\n" +
        lines.mkString("\n") + "\n")
    lines.foreach(println)
    spark.stop()
  }
}
