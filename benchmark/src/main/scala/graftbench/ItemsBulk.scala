package graftbench

import java.io.File
import java.nio.file.Paths

import graft.jobs.ItemsEtlJob
import graft.tables.VersionedTable
import graft.tools.ItemsDataGen
import org.apache.spark.sql.functions.{col, lit, sum, when}

/** `items_bulk`: one bulk items drop merged through
  * `ItemsEtlJob.runWithMetrics` into a loaded items table.
  *
  * Set-up writes batch1 and batch2 and loads batch1. After [[WarmReps]]
  * untimed reps, each timed rep copies the loaded table and merges batch2 into it;
  * reps repeat until `--seconds` have passed, at least [[MinReps]] times
  * (see [[WriteOps]] for reps the host trampled). `ItemsDataGen` plants the drop so that the
  * merge's accounting is exact integer arithmetic (see its scaladoc):
  * half the rows are new contracts, half re-send batch1 items with one
  * tracked field changed. */
object ItemsBulk {
  val Batch1Rows = 40000L
  val Batch2Rows = 40000L
  val MinReps = 5
  /** Untimed reps first: rep times fall for the first few reps while the
    * JIT compiles the merge path. */
  val WarmReps = 1
  private val DupEvery = 1000L

  private def countIds(n: Long)(p: Long => Boolean): Long = (0L until n).count(p).toLong

  /** Planted accounting of the batch2 merge (ItemsDataGenSpec's formula). */
  final case class Expect(newCount: Long, closed: Long, inserted: Long)
  def expect: Expect = {
    val newCount = math.round(Batch2Rows * 0.5)
    val upd = Batch2Rows - newCount
    val quirk = (id: Long) => id % 97 == 31
    val dup = (id: Long) => id % DupEvery == 7
    val closed = upd - countIds(upd)(quirk) - countIds(upd)(dup) +
      countIds(upd)(id => quirk(id) && dup(id))
    Expect(newCount, closed, newCount + closed + countIds(upd)(dup))
  }

  final case class Setup(batch2: String, batch2Bytes: Long, batch1Bytes: Long,
                         base: String, baseRows: Long)

  def run(ctx: Ctx): Unit = {
    val e = expect
    val s = ctx.setup() { dir =>
      val t0 = System.nanoTime()
      val b1 = ItemsDataGen.writeBatch1(ctx.spark, Batch1Rows, "20230123", s"$dir/crm",
        1, ctx.seed, DupEvery)
      val b2 = ItemsDataGen.writeBatch2(ctx.spark, Batch2Rows, "20230125", s"$dir/crm",
        1, ctx.seed)
      val gen = (System.nanoTime() - t0) / 1e9
      val t1 = System.nanoTime()
      val m1 = ItemsEtlJob.runWithMetrics(ctx.spark, b1, s"$dir/table")
      val build = (System.nanoTime() - t1) / 1e9
      val dupKeys = countIds(Batch1Rows)(_ % DupEvery == 7)
      if (m1.inserted_count != Batch1Rows - dupKeys || m1.duplicated_count != 2 * dupKeys)
        throw new IllegalStateException(s"items batch1 load: $m1")
      (Setup(b2, Fs.bytes(new File(b2)), Fs.bytes(new File(b1)), s"$dir/table",
        m1.inserted_count), gen, build)
    }
    (0 until WarmReps).foreach { i =>
      val warm = ctx.dir(s"warm$i")
      Fs.copyRec(Paths.get(s.base), Paths.get(s"$warm/table"))
      ItemsEtlJob.runWithMetrics(ctx.spark, s.batch2, s"$warm/table")
      Fs.deleteRec(new File(warm))
    }

    val ops = new WriteOps(ctx, minClean = MinReps)
    val start = System.nanoTime()
    var rep = 0
    var lastTable = ""
    while (rep < MinReps || (System.nanoTime() - start) / 1e9 < ctx.seconds) {
      val repDir = ctx.dir(s"rep$rep")
      val table = s"$repDir/table"
      Fs.copyRec(Paths.get(s.base), Paths.get(table))
      val op = ctx.checks.begin()
      try {
        ops.timed(table, Batch2Rows, s.batch2Bytes) {
          val m = ItemsEtlJob.runWithMetrics(ctx.spark, s.batch2, table)
          ctx.checks.expect(op, "staged_count", m.staged_count, Batch2Rows)
          ctx.checks.expect(op, "duplicated_count", m.duplicated_count, 0L)
          ctx.checks.expect(op, "closed_count", m.closed_count, e.closed)
          ctx.checks.expect(op, "inserted_count", m.inserted_count, e.inserted)
          Map("jobs.extract_s" -> m.duration_s_extract,
            "jobs.validation_s" -> 0.0,
            "jobs.dedup_s" -> m.duration_s_dedup,
            "jobs.transform_s" -> m.duration_s_transform,
            "jobs.merge_s" -> m.duration_s_merge)
        }
        // the table's rows, and its open rows (one per item key)
        val r = VersionedTable.forPath(ctx.spark, table).read
          .agg(sum(lit(1L)), sum(when(col("valid_to") === lit("9999-12-31").cast("date"), 1L)
            .otherwise(0L))).collect()(0)
        ctx.checks.expect(op, "table rows", r.getLong(0), s.baseRows + e.inserted)
        ctx.checks.expect(op, "open rows", r.getLong(1), s.baseRows + e.inserted - e.closed)
      } catch {
        case ex: Exception => ctx.checks.fail(op, s"items merge: $ex")
      }
      if (rep > 0) Fs.deleteRec(new File(ctx.dir(s"rep${rep - 1}")))
      lastTable = table
      rep += 1
    }
    ops.report(lastTable, s.batch1Bytes + s.batch2Bytes)
    ctx.tableShape(lastTable)
    ctx.record("reps") = rep
    ctx.record("expect") = Map("closed" -> e.closed, "inserted" -> e.inserted)
  }
}
