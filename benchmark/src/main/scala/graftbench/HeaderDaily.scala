package graftbench

import java.io.File
import java.nio.file.Paths

import scala.collection.mutable

import graft.jobs.HeaderEtlJob
import graft.tables.VersionedTable
import org.apache.spark.sql.functions.{col, count, countDistinct, lit}

/** `header_daily`: daily header drops through `HeaderEtlJob.run` into a
  * growing table, in date order.
  *
  * Set-up writes the init drop and the daily drops and loads the init drop.
  * The timed part runs cycles: each copies the loaded table and runs the
  * daily drops on it in date order, until `--seconds` have passed. Every
  * cycle sees the same drops against the same table, so its per-drop
  * counts repeat exactly and are checked against the model's. One untimed
  * drop on a throwaway copy warms the drop path first. On traced runs the
  * [[Reads]] probe then reads the first cycle's table. */
object HeaderDaily {
  val InitRows = 12000L
  val DropRows = 2400L
  val Drops = 4

  /** Run one drop through the header job and check its run metrics
    * against the model's expectation. */
  def runDrop(ctx: Ctx, ops: WriteOps, drop: HeaderDrops.Drop, cycleDir: String): Unit = {
    val op = ctx.checks.begin()
    val table = s"$cycleDir/table"
    try ops.timed(table, drop.expect.total, drop.bytes) {
      val m = HeaderEtlJob.run(ctx.spark, drop.path, table,
        s"$cycleDir/discarded", s"$cycleDir/metrics")
      val e = drop.expect
      val c = ctx.checks
      c.expect(op, "dq_total", m.dq_total, e.total)
      c.expect(op, "dq_batch_date_mismatch", m.dq_batch_date_mismatch, e.mismatch)
      c.expect(op, "dq_duplicates_older", m.dq_duplicates_older, e.duplicates)
      c.expect(op, "dq_kept", m.dq_kept, e.kept)
      c.expect(op, "staged_count", m.staged_count, e.kept)
      c.expect(op, "inserted_count", m.inserted_count, e.kept)
      c.expect(op, "closed_count", m.closed_count, e.closed)
      Map("jobs.extract_s" -> m.duration_s_extract,
        "jobs.validation_s" -> m.duration_s_validation,
        "jobs.dedup_s" -> 0.0,
        "jobs.transform_s" -> m.duration_s_transform,
        "jobs.merge_s" -> m.duration_s_merge)
    } catch {
      case e: Exception => ctx.checks.fail(op, s"drop ${drop.date}: $e")
    }
  }

  /** Check that the table's current rows after `drop` match the model's:
    * one per key (more only where the model kept an unchanged re-send
    * open too). */
  def checkCurrent(ctx: Ctx, op: Long, table: String, drop: HeaderDrops.Drop): Unit = {
    val r = VersionedTable.forPath(ctx.spark, table).read.filter(col("is_current"))
      .agg(count(lit(1)), countDistinct("contratto_cod"))
      .collect()(0)
    ctx.checks.expect(op, "is_current rows", r.getLong(0), drop.expect.currentRows)
    ctx.checks.expect(op, "keys with an is_current row", r.getLong(1), drop.expect.keys)
  }

  private def version(ctx: Ctx, table: String): Long =
    VersionedTable.forPath(ctx.spark, table).currentVersion

  final case class Setup(drops: Seq[HeaderDrops.Drop], model: HeaderModel, base: String)

  def run(ctx: Ctx): Unit = {
    val s = ctx.setup() { dir =>
      val t0 = System.nanoTime()
      val (drops, model) = HeaderDrops.generate(ctx.spark, s"$dir/crm", ctx.seed,
        InitRows, DropRows, Drops, partitions = 1)
      val gen = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      HeaderEtlJob.run(ctx.spark, drops.head.path, s"$dir/table",
        s"$dir/discarded", s"$dir/metrics")
      (Setup(drops, model, s"$dir/table"), gen, (System.nanoTime() - t1) / 1e9)
    }
    val warm = ctx.dir("warm")
    Fs.copyRec(Paths.get(s.base), Paths.get(s"$warm/table"))
    HeaderEtlJob.run(ctx.spark, s.drops(1).path, s"$warm/table", s"$warm/discarded",
      s"$warm/metrics")
    Fs.deleteRec(new File(warm))

    val ops = new WriteOps(ctx, minClean = Drops)
    val start = System.nanoTime()
    def timeLeft = (System.nanoTime() - start) / 1e9 < ctx.seconds
    // the first cycle always runs every drop; its table is the one whose
    // shape and size are reported, so those repeat run over run
    val full = s"${ctx.dir("cycle0")}/table"
    val rowsAt = mutable.ArrayBuffer[(Long, Long)]()
    var cycle = 0
    while (cycle == 0 || timeLeft) {
      val cycleDir = ctx.dir(s"cycle$cycle")
      val table = s"$cycleDir/table"
      Fs.copyRec(Paths.get(s.base), Paths.get(table))
      if (cycle == 0) rowsAt += ((version(ctx, table), s.drops.head.expect.kept))
      val ran = s.drops.tail.takeWhile { d =>
        (cycle == 0 || timeLeft) && {
          runDrop(ctx, ops, d, cycleDir)
          if (cycle == 0) rowsAt += ((version(ctx, table), rowsAt.last._2 + d.expect.kept))
          true
        }
      }
      ran.lastOption.foreach(d => checkCurrent(ctx, ctx.checks.attemptedOps, table, d))
      if (cycle > 0) Fs.deleteRec(new File(cycleDir))
      cycle += 1
    }
    ops.report(full, s.drops.map(_.bytes).sum)
    ctx.tableShape(full)
    if (ctx.trace.isDefined) Reads.probe(ctx, full, s.model, s.drops, rowsAt.toSeq)
    ctx.record("cycles") = cycle
    ctx.record("drop_expect") = s.drops.map(d => d.expect.productElementNames
      .zip(d.expect.productIterator).toMap)
  }
}
