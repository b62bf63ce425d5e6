package graft.jobs

import java.nio.file.Files
import java.sql.Date

import graft.SharedSpark
import graft.tables.VersionedTable
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** SCD2 history + SQL-surface assertions for the items pipeline
  * (reference: test/items_etl_test.py:84-161). Shares one table across
  * tests, mirroring the reference's sequential daily batches. */
class ItemsEtlJobSpec extends AnyFunSuite {
  private lazy val spark = SharedSpark.spark

  private val header = Seq("contratto_cod", "numero_annuncio", "list_total",
    "contracted_price", "total_discount", "data_attivazione",
    "data_fine_prestazione", "product_code", "quantity",
    "causale_annullamento", "data_annullamento", "status_item",
    "creazione_dta")

  private lazy val root = Files.createTempDirectory("graft-items-etl").toString
  private lazy val crmDir = s"$root/crm/items"
  private lazy val tablePath = s"$root/landing/items"

  private def item(cod: String, ann: String, price: String,
                   discount: String = "0.00", fine: String = "2023-12-31"): Seq[String] =
    Seq(cod, ann, "1000.00", price, discount, "2023-01-01", fine,
      "PROD1", "1", "", "", "L", "2023-01-01")

  private def runBatch(file: String, rows: Seq[Seq[String]]): Long = {
    val path = s"$crmDir/$file"
    TestCsv.write(path, header, rows)
    ItemsEtlJob.run(spark, path, tablePath)
  }

  test("initial load creates open versions with file-name valid_from") {
    runBatch("items_20230123.txt", Seq(
      item("Y1", "10", "300.00"),
      item("Y1", "11", "450.00"),
      item("Y2", "10", "120.00")))
    val df = VersionedTable.forPath(spark, tablePath).read
    assert(df.count() == 3)
    val r = df.filter(col("contratto_cod") === "Y1" && col("numero_annuncio") === "10")
      .collect()(0)
    assert(r.getAs[Date]("valid_from") == Date.valueOf("2023-01-23"))
    assert(r.getAs[Date]("valid_to") == Date.valueOf("9999-12-31"))
  }

  test("price change closes the open version and inserts a new one") {
    runBatch("items_20230125.txt", Seq(
      item("Y1", "10", "500.00"), // changed price → new version
      item("Y1", "11", "450.00"), // unchanged → no-op
      item("Y3", "10", "90.00"))) // brand new item → plain insert
    val df = VersionedTable.forPath(spark, tablePath).read
    val y1a10 = df
      .filter(col("contratto_cod") === "Y1" && col("numero_annuncio") === "10")
      .orderBy(col("valid_from").asc).collect()
    assert(y1a10.length == 2, s"expected 2 versions, got ${y1a10.length}")
    // old version closed AT the new valid_from (inclusive boundary overlap
    // — reference semantics, items_etl.py:118-120)
    assert(y1a10(0).getAs[Date]("valid_to") == Date.valueOf("2023-01-25"))
    assert(y1a10(1).getAs[Date]("valid_to") == Date.valueOf("9999-12-31"))
    assert(y1a10(1).getAs[java.math.BigDecimal]("contracted_price")
      .compareTo(new java.math.BigDecimal("500.00")) == 0)
    // unchanged item kept exactly one open version
    assert(df.filter(col("contratto_cod") === "Y1" && col("numero_annuncio") === "11")
      .count() == 1)
    assert(df.filter(col("contratto_cod") === "Y3").count() == 1)
  }

  test("SQL surface: variation-count query over a temp view") {
    // reference: test/items_etl_test.py:148-161
    VersionedTable.forPath(spark, tablePath).read
      .createOrReplaceTempView("items")
    val n = spark.sql(
      """SELECT count(*) AS numero_variazioni FROM items
        |WHERE contratto_cod = 'Y1' AND numero_annuncio = 10
        |  AND valid_to <> date('9999-12-31')""".stripMargin)
      .collect()(0).getLong(0)
    assert(n == 1, s"unexpected number of variations: $n")
    // point-in-time version lookup (reference: test/items_etl_test.py:135-141)
    val pit = spark.sql(
      """SELECT * FROM items
        |WHERE valid_from = date('2023-01-23') AND valid_to = date('2023-01-25')""".stripMargin)
      .collect()
    assert(pit.length == 1 && pit(0).getAs[String]("contratto_cod") == "Y1")
  }

  test("dedup quirk: ALL copies of a duplicated key are dropped") {
    // reference: src/items_etl.py:57-64 keeps only groups of exactly 1
    val dupCount = runBatch("items_20230126.txt", Seq(
      item("Y4", "10", "100.00"),
      item("Y4", "10", "100.00"), // duplicate pair → both dropped
      item("Y5", "10", "200.00")))
    assert(dupCount == 2)
    val df = VersionedTable.forPath(spark, tablePath).read
    assert(df.filter(col("contratto_cod") === "Y4").count() == 0,
      "duplicated key must be dropped entirely (reference quirk)")
    assert(df.filter(col("contratto_cod") === "Y5").count() == 1)
  }

  test("SQL surface: header-without-items LEFT JOIN + IS NULL anti query") {
    // reference: test/items_etl_test.py:164-187 — headers whose partition
    // day has no matching item rows, via the 4-col composite left join
    val headerCols = Seq("contratto_cod", "codice_ordine_sap",
      "tipo_contratto", "codice_opec", "data_firma", "net_amount",
      "causale_annullamento", "data_annullamento", "codice_agente",
      "status_quote", "creazione_dta", "event_time")
    def headerRow(cod: String): Seq[String] =
      Seq(cod, "3000000001", "365", "OPEC0001", "2023-01-01", "1500.00",
        "", "", "10001", "Accepted", "2023-01-01", "2023-01-23 10:00:00")
    val hPath = s"$root/crm/header/header_20230123.csv"
    TestCsv.write(hPath, headerCols, Seq(headerRow("Y1"), headerRow("ZZ9")))
    HeaderEtlJob.run(spark, hPath, s"$root/landing/header",
      s"$root/discarded/header", s"$root/metrics/header")

    VersionedTable.forPath(spark, tablePath).read.createOrReplaceTempView("items")
    VersionedTable.forPath(spark, s"$root/landing/header").read
      .createOrReplaceTempView("header")
    val orphans = spark.sql(
      """SELECT h.* FROM header h
        |LEFT JOIN items i
        |  ON h.contratto_cod = i.contratto_cod
        |  AND h.valid_from_year = i.valid_from_year
        |  AND h.valid_from_month = i.valid_from_month
        |  AND h.valid_from_day = i.valid_from_day
        |WHERE i.numero_annuncio IS NULL""".stripMargin).collect()
    // Y1 has items on 2023-01-23; ZZ9 has none → only ZZ9 is an orphan
    assert(orphans.map(_.getAs[String]("contratto_cod")).toSeq == Seq("ZZ9"))
  }

  test("non-null-safe <> change detection ignores NULL-valued changes") {
    // a NULL contracted_price never satisfies `<>` — known reference
    // defect preserved for parity (reference: notes.md:3-20)
    runBatch("items_20230127.txt", Seq(
      Seq("Y5", "10", "1000.00", "", "0.00", "2023-01-01", "2023-12-31",
        "PROD1", "1", "", "", "L", "2023-01-01")))
    val df = VersionedTable.forPath(spark, tablePath).read
    // NULL <> 200.00 is NULL → not a change → still a single open version
    assert(df.filter(col("contratto_cod") === "Y5").count() == 1)
  }

  test("merge decisions: the staged-union source is persisted and rewritten full-outer") {
    import spark.implicits._
    val merges = VersionedTable.forPath(spark, tablePath).history()
      .filter(col("operation") === "MERGE").select("operationMetrics")
      .as[Map[String, String]].collect().toSeq
    assert(merges.nonEmpty)
    merges.foreach { m =>
      assert(m("sourcePersisted") == "true")
      assert(m("cardinalityCheck") == "measured")
      assert(m("rewriteJoinType") == "full_outer")
    }
  }
}
