package graft.jobs

import java.nio.file.{Files, Paths}
import java.time.format.DateTimeFormatter
import java.time.{Instant, ZoneOffset}

import graft.tables.VersionedTable

/** Scaffolding shared by the header and items ETL jobs. */
private[jobs] object EtlSupport {

  private val BatchTs = DateTimeFormatter.ofPattern("yyyyMMddHHmmss").withZone(ZoneOffset.UTC)

  /** Driver-side batch id, `<UTC yyyyMMddHHmmss>_<file name>` (the
    * reference computes the same value through the cluster:
    * src/header_etl.py:70-73). */
  def batchId(filename: String): String =
    BatchTs.format(Instant.now()) + "_" + filename

  def secondsSince(nanos: Long): Double =
    (System.nanoTime() - nanos) / 1e9

  /** One operation metric as a number, -1 when it was not recorded. */
  def metric(metrics: Map[String, String], key: String): Long =
    metrics.get(key).map(_.toLong).getOrElse(-1L)

  /** One operationMetrics value from the table's latest commit — only for
    * the init write, whose `create` returns no metrics. */
  def lastMetric(table: VersionedTable, key: String): Long =
    table.history(1).select("operationMetrics")
      .collect().headOption
      .map(r => metric(r.getAs[Map[String, String]](0), key)).getOrElse(-1L)

  /** Run-metrics CSV sink, one dir per batch, append semantics with
    * header (reference: src/header_etl.py:338-340). Written DRIVER-SIDE:
    * a `Seq(m).toDF().coalesce(1).write.csv` would pay a full Spark job
    * (plan + schedule + task + commit protocol) for ONE row inside every
    * batch (guide §5: the driver should do no data work, and
    * symmetrically one row is driver work, not a cluster job). Same
    * on-disk layout as that write: a per-batch dir holding one headered
    * part file; none of the values need CSV quoting (no separators or
    * newlines in batch ids / app ids / numbers). */
  def writeRunMetrics(m: Product, dir: String): Unit = {
    val d = Paths.get(dir)
    Files.createDirectories(d)
    Files.writeString(
      d.resolve(s"part-00000-${java.util.UUID.randomUUID()}.csv"),
      m.productElementNames.mkString(",") + "\n" +
        m.productIterator.mkString(",") + "\n")
  }
}
