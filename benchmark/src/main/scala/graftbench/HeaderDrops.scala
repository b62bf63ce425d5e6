package graftbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.{LocalDate, OffsetDateTime, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import graft.tools.HeaderDataGen
import org.apache.spark.sql.SparkSession

/** Expected outcome of one header drop, derived from the generated CSV by
  * [[HeaderModel]] without running the engine. */
final case class DropExpect(total: Long, mismatch: Long, duplicates: Long,
                            kept: Long, closed: Long, currentRows: Long, keys: Long)

/** Header CSV drops for the benchmark, made with the program's own
  * generator ([[HeaderDataGen]]).
  *
  * `HeaderDataGen.writeBatch2` names the new keys of every drop
  * `N<8 digits>`, so in a sequence of drops the second drop's "new" keys
  * would collide with the first's and silently become updates. Each drop's
  * new-key prefix is therefore rewritten to `D<index>` here, and the count
  * of new keys per drop is asserted. */
object HeaderDrops {
  private val Basic = DateTimeFormatter.BASIC_ISO_DATE
  private val FirstDate = LocalDate.of(2023, 1, 27)

  final case class Drop(path: String, date: LocalDate, bytes: Long, expect: DropExpect)

  private def dateOf(i: Int): LocalDate = FirstDate.plusDays(i.toLong)

  /** Write the init drop (index 0) and `nDrops` daily drops, and replay
    * them through a fresh [[HeaderModel]]. */
  def generate(spark: SparkSession, dir: String, seed: Long, initRows: Long,
               dropRows: Long, nDrops: Int, partitions: Int): (Seq[Drop], HeaderModel) = {
    val model = new HeaderModel
    val init = HeaderDataGen.writeBatch1(spark, initRows, dateOf(0).format(Basic),
      dir, partitions, seed * 1000)
    val drops = (init, dateOf(0)) +: (1 to nDrops).map { i =>
      val p = HeaderDataGen.writeBatch2(spark, dropRows, dateOf(i).format(Basic), dir,
        partitions, seed * 1000 + 100L * i, existingCount = initRows)
      (p, dateOf(i))
    }
    val out = drops.zipWithIndex.map { case ((path, date), i) =>
      val rows = readDrop(path, if (i == 0) None else Some(s"D$i"))
      val newKeys = rows.count(_.key.startsWith(s"D$i"))
      if (i > 0 && newKeys != math.round(dropRows * 0.5))
        throw new IllegalStateException(s"drop $i has $newKeys new keys, expected ${dropRows / 2}")
      Drop(path, date, Fs.bytes(new File(path)), model.apply(rows, date))
    }
    (out, model)
  }

  final case class Row(key: String, sap: String, agent: String, status: String,
                       ts: Long, rawTs: String)

  /** Read a drop's part files. With `newPrefix`, rewrite the `N` prefix of
    * its new keys in place first (and drop the stale checksum files). */
  private def readDrop(path: String, newPrefix: Option[String]): Seq[Row] = {
    val dir = new File(path)
    val parts = Fs.files(dir).filter(_.getName.startsWith("part-")).sortBy(_.getName)
    newPrefix.foreach { pre =>
      Option(dir.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.endsWith(".crc")).foreach(_.delete())
      parts.foreach { f =>
        val lines = Files.readAllLines(f.toPath, StandardCharsets.UTF_8)
        val out = new java.util.ArrayList[String](lines.size)
        lines.forEach(l => out.add(if (l.startsWith("N")) pre + l.substring(1) else l))
        Files.write(f.toPath, out, StandardCharsets.UTF_8)
      }
    }
    parts.flatMap { f =>
      val lines = Files.readAllLines(f.toPath, StandardCharsets.UTF_8)
      (1 until lines.size).map { i =>
        // contratto_cod|codice_ordine_sap|…|codice_agente|status_quote|creazione_dta|event_time
        val c = lines.get(i).split("\\|", -1)
        val ts = OffsetDateTime.parse(c(11)).toInstant
        Row(c(0), c(1), c(8), c(9), ts.getEpochSecond * 1000000L + ts.getNano / 1000, c(11))
      }
    }
  }
}

/** In-memory model of the header table's SCD2 state, replayed from the
  * CSV drops alone. It follows the pipeline's documented rules: a row is
  * discarded when its event's UTC date is not the batch date, or when an
  * equal (key, event_time) row was kept; every kept row is inserted as a
  * version; an open row is closed when a kept event of its key differs on
  * {status_quote, codice_agente, codice_ordine_sap} and the first such
  * event is later than the open row's start. */
final class HeaderModel {
  import HeaderDrops.Row
  import HeaderModel.Open

  private val open = mutable.HashMap[String, List[Open]]()
  private val rowsPerKey = mutable.HashMap[String, Int]()

  def apply(rows: Seq[Row], date: LocalDate): DropExpect = {
    val (ok, bad) = rows.partition(r =>
      java.time.Instant.ofEpochSecond(r.ts / 1000000L).atZone(ZoneOffset.UTC).toLocalDate == date)
    val kept = ok.groupBy(r => (r.key, r.rawTs)).values.map(_.head).toSeq
    var closed = 0L
    kept.groupBy(_.key).foreach { case (k, evs0) =>
      val evs = evs0.sortBy(_.ts)
      val cur = open.getOrElse(k, Nil)
      val changed = for (e <- evs; o <- cur
                         if e.sap != o.sap || e.agent != o.agent || e.status != o.status) yield e.ts
      val stillOpen =
        if (changed.isEmpty) cur
        else {
          val first = changed.min
          val (shut, keep) = cur.partition(o => first > o.from)
          closed += shut.size
          keep
        }
      val last = evs.last
      open(k) = stillOpen :+ Open(last.sap, last.agent, last.status, last.ts)
      rowsPerKey(k) = rowsPerKey.getOrElse(k, 0) + evs.size
    }
    DropExpect(rows.size.toLong, bad.size.toLong, (ok.size - kept.size).toLong,
      kept.size.toLong, closed, currentRows, open.size.toLong)
  }

  def keys: Seq[String] = open.keys.toSeq.sorted
  def currentRows: Long = open.valuesIterator.map(_.size.toLong).sum
  def versionsOf(key: String): Int = rowsPerKey.getOrElse(key, 0)

  /** Open rows whose version starts on `date` (UTC). */
  def currentOn(date: LocalDate): Long = open.valuesIterator.flatten.count(o =>
    java.time.Instant.ofEpochSecond(o.from / 1000000L).atZone(ZoneOffset.UTC).toLocalDate == date)
    .toLong
}

object HeaderModel {
  private final case class Open(sap: String, agent: String, status: String, from: Long)
}
