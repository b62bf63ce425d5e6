package graftbench

import scala.collection.mutable

import graft.tables.VersionedTable

/** One timed write (a header drop or an items merge) and what it did. */
final case class WriteOp(wallS: Double, cpuS: Double, inputRows: Long, csvBytes: Long,
                         addedBytes: Long, clean: Boolean, layers: Map[String, Double])

/** Times write operations and turns them into the write workloads'
  * metrics. Per-layer numbers are taken only on traced runs.
  *
  * Timings come from the operations whose window the host left clean
  * (see [[Ctx.clean]]) when there are at least `minClean` of them; a run
  * with fewer uses every operation and is marked noisy in its record. */
final class WriteOps(ctx: Ctx, minClean: Int) {
  val ops: mutable.ArrayBuffer[WriteOp] = mutable.ArrayBuffer[WriteOp]()

  /** Run `f` against `table` as one timed operation. `f` returns the job's
    * phase seconds under their `jobs.*` names. */
  def timed(table: String, inputRows: Long, csvBytes: Long)
           (f: => Map[String, Double]): Unit = {
    val before = Fs.dataFiles(table)
    val v0 = if (ctx.trace.isDefined) VersionedTable.forPath(ctx.spark, table).currentVersion else -1L
    val t0Ms = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (phases, noise) = ctx.sampled(f)
    val wall = (System.nanoTime() - t0) / 1e9
    val t1Ms = System.currentTimeMillis()
    val added = Fs.dataFiles(table).collect { case (p, b) if !before.contains(p) => b }.sum
    val layers = ctx.trace.fold(Map.empty[String, Double]) { tr =>
      val w = tr.window(t0Ms, t1Ms)
      if (ops.isEmpty) ctx.record("first_op_jobs") = w.jobs.map(j =>
        f"${j.id}%4d ${j.durS}%7.3f s ${j.stages}%2d stages  ${j.layer}%-16s ${j.site}")
      traced(w, table, v0)
    }
    ops += WriteOp(wall, noise.selfCpuS, inputRows, csvBytes, added, Ctx.clean(noise),
      phases ++ layers)
  }

  private def traced(w: Trace.Window, table: String, v0: Long): Map[String, Double] = {
    val commits = VersionedTable.forPath(ctx.spark, table).history()
      .filter(s"version > $v0").select("operationMetrics", "numAddedFiles", "numRemovedFiles")
      .collect().toSeq
    def om(k: String): Long = commits.map(r =>
      r.getAs[Map[String, String]](0).get(k).map(_.toLong).getOrElse(0L)).sum
    val added = commits.map(_.getLong(1)).sum
    val removed = commits.map(_.getLong(2)).sum
    val untouched = om("numTargetFilesUntouched")
    val inserted = om("numTargetRowsInserted") + om("numOutputRows")
    val updated = om("numTargetRowsUpdated")
    val merge = w.of("merge.")
    val validation = w.of("validation")
    w.sparkMetrics(ctx.cores) ++ Map(
      "validation.jobs" -> validation.size.toDouble,
      "validation.task_s" -> w.taskS(validation),
      "validation.output_mb" -> w.mb(_.outBytes, validation),
      "merge.jobs" -> merge.size.toDouble,
      "merge.stats_agg_s" -> w.jobS(w.of("merge.stats_agg")),
      "merge.probe_s" -> w.jobS(w.of("merge.probe")),
      "merge.rewrite_s" -> w.jobS(w.of("merge.rewrite")),
      "merge.insert_s" -> w.jobS(w.of("merge.insert")),
      "merge.output_mb" -> w.mb(_.outBytes, merge),
      "merge.rows_written_per_row_changed" ->
        (if (inserted + updated > 0) merge.map(_.outRecords).sum.toDouble / (inserted + updated)
         else 0.0),
      "merge.files_added" -> added.toDouble,
      "merge.files_removed" -> removed.toDouble,
      "merge.files_skip_ratio" ->
        (if (untouched + removed > 0) untouched.toDouble / (untouched + removed) else 0.0),
      "merge.rows_inserted" -> inserted.toDouble,
      "merge.rows_updated" -> updated.toDouble)
  }

  /** End-to-end metrics of the run's timed writes; per-layer metrics are
    * the median over operations. `ingestedBytes` is every CSV drop the
    * final table has taken in, init included. */
  def report(finalTable: String, ingestedBytes: Long): Unit = {
    val clean = ops.filter(_.clean).toSeq
    val timed = if (clean.size >= minClean) clean else ops.toSeq
    val walls = timed.map(_.wallS)
    ctx.metrics("batch_p50_s") = Stats.median(walls)
    ctx.metrics("rows_per_s") = timed.map(_.inputRows).sum / walls.sum
    ctx.metrics("write_amp") = ops.map(_.addedBytes).sum.toDouble / ops.map(_.csvBytes).sum
    ctx.metrics("space_amp") = ctx.snapshotBytes(finalTable).toDouble / ingestedBytes
    ops.flatMap(_.layers.keys).distinct.foreach { k =>
      ctx.metrics(k) = Stats.median(ops.flatMap(_.layers.get(k)).toSeq)
    }
    ctx.record("op_wall_s") = ops.map(_.wallS)
    ctx.record("op_cpu_s") = ops.map(_.cpuS)
    ctx.record("op_clean") = ops.map(_.clean)
    ctx.record("noisy_run") = clean.size < minClean
  }
}

