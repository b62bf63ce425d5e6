package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.tables.VersionedTable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Read probe of the table layer, run on traced `header_daily` runs
  * against the table the first cycle built (init plus every daily drop:
  * two commits per drop and a snapshot checkpoint). Each read opens a
  * fresh `VersionedTable.forPath`, does one of five reads and counts it:
  *  - `current`: a current-snapshot y/m/d + `is_current` count, the
  *    reference's partitioning query;
  *  - `as_of`: `readVersion(v)` for a random v;
  *  - `changes`: `readChanges(a, Some(a + 2), includeRewrites = true)`;
  *  - `key_history`: `readWhereEquals("contratto_cod", k)`;
  *  - `history`: `history()`.
  * Every count is checked: row totals and per-key histories against
  * [[HeaderModel]], change-read totals against the row counts the commit
  * log records for the added files, and the history length against the
  * number of commit files. */
object Reads {
  val Kinds: Seq[String] = Seq("current", "as_of", "changes", "key_history", "history")
  val PerKind = 8

  /** Rows added by the commits in (from, to], from the log files. */
  private def addedRows(table: String, from: Long, to: Long): Long = {
    implicit val fmts: Formats = DefaultFormats
    (from + 1 to to).map { v =>
      val f = new File(table, f"_graft_log/$v%020d.json")
      val j = JsonMethods.parse(new String(Files.readAllBytes(f.toPath), StandardCharsets.UTF_8))
      (j \ "add").children.map(a =>
        (a \ "rows").extract[Long] - (a \ "dvRows").extractOrElse[Long](0L)).sum
    }.sum
  }

  /** @param rowsAt (last version of a drop, table rows after it), init first */
  def probe(ctx: Ctx, table: String, model: HeaderModel,
            drops: Seq[HeaderDrops.Drop], rowsAt: Seq[(Long, Long)]): Unit = {
    val keys = model.keys.toIndexedSeq
    val lastVersion = rowsAt.last._1
    // rows at version v: those of the last drop committed by v (the init
    // drop's first commit already holds all of its rows)
    def rowsAtVersion(v: Long): Long =
      rowsAt.filter(_._1 <= v).lastOption.fold(rowsAt.head._2)(_._2)
    val commits = Fs.files(new File(table, "_graft_log"))
      .count(_.getName.matches("""\d{20}\.json""")).toLong

    /** One read of kind `k`: @return (the read, rows it should count). */
    def read(k: String, rng: scala.util.Random): (DataFrame, Long) = {
      val t = VersionedTable.forPath(ctx.spark, table)
      k match {
        case "current" =>
          val d = drops(rng.nextInt(drops.size)).date
          (t.read.filter(col("valid_from_year") === d.getYear &&
            col("valid_from_month") === d.getMonthValue &&
            col("valid_from_day") === d.getDayOfMonth && col("is_current") === true),
            model.currentOn(d))
        case "as_of" =>
          val v = rng.nextInt((lastVersion + 1).toInt).toLong
          (t.readVersion(v), rowsAtVersion(v))
        case "changes" =>
          val a = rng.nextInt((lastVersion - 1).toInt).toLong
          (t.readChanges(a, Some(a + 2), includeRewrites = true), addedRows(table, a, a + 2))
        case "key_history" =>
          val key = keys(rng.nextInt(keys.size))
          (t.readWhereEquals("contratto_cod", key), model.versionsOf(key).toLong)
        case "history" =>
          (t.history(), commits)
      }
    }

    val rng = new scala.util.Random(ctx.seed)
    // one untimed read of each kind first, then the probe in seeded order
    Kinds.foreach(k => read(k, rng)._1.count())
    val lat = mutable.Map[String, mutable.ArrayBuffer[Double]]()
    val scanned = mutable.ArrayBuffer[(Double, Double)]()
    rng.shuffle(Kinds.flatMap(Seq.fill(PerKind)(_))).foreach { k =>
      val op = ctx.checks.begin()
      try {
        val t0Ms = System.currentTimeMillis()
        val t0 = System.nanoTime()
        val (df, want) = read(k, rng)
        val got = df.count()
        lat.getOrElseUpdate(k, mutable.ArrayBuffer[Double]()) += (System.nanoTime() - t0) / 1e6
        ctx.checks.expect(op, s"$k count", got, want)
        ctx.trace.foreach { tr =>
          val in = tr.window(t0Ms, System.currentTimeMillis()).jobs.map(_.inRecords).sum
          scanned += ((df.inputFiles.length.toDouble, if (got > 0) in.toDouble / got else 0.0))
        }
      } catch {
        case e: Exception => ctx.checks.fail(op, s"$k read: $e")
      }
    }
    Kinds.foreach(k => ctx.metrics(s"read.${k}_ms") = Stats.medianOr0(lat.getOrElse(k, Nil).toSeq))
    ctx.metrics("read.files_scanned") = Stats.medianOr0(scanned.map(_._1).toSeq)
    ctx.metrics("read.rows_scanned_per_row_returned") = Stats.medianOr0(scanned.map(_._2).toSeq)
  }
}
