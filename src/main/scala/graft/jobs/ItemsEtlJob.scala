package graft.jobs

import graft.core.Schemas
import graft.jobs.EtlSupport.{lastMetric, metric, secondsSince}
import graft.tables.VersionedTable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DateType

/** Per-run metrics of one items batch — the OP-A counterpart of
  * [[HeaderRunMetrics]], so the bench can publish an items volume curve
  * with the same phase breakdown the header job reports. Phase
  * boundaries mirror the reference's logged steps
  * (reference: src/items_etl.py:49-143): extract (plan + dedup-count
  * action), transform (plan), merge (init write or SCD2 merge).
  * inserted/closed come from the table's COMMIT METRICS, never a table
  * rescan (the same no-rescan accounting rule as the header job). */
case class ItemsRunMetrics(batch_id: String,
                           duration_s: Double,
                           duration_s_extract: Double,
                           duration_s_dedup: Double,
                           duration_s_transform: Double,
                           duration_s_merge: Double,
                           staged_count: Long,
                           duplicated_count: Long,
                           inserted_count: Long,
                           closed_count: Long,
                           spark_app_id: String)

/** OP-A: date-grained SCD2 for contract items
  * (reference: src/items_etl.py:46-143).
  *
  * Pipeline: pipe-CSV scan with `valid_from` extracted from the file name
  * via `regexp_extract(input_file_name(), ...)`; whole-partition
  * count-window dedup that — deliberately, matching the reference — drops
  * ALL copies of any key occurring more than once (not keep-one; see
  * SURVEY.md §2.6 W3); date transform with the 9999-12-31 open sentinel;
  * then either an init partitioned write or the staged-union SCD2 merge:
  * changed open rows are closed (`valid_to = new valid_from`) and their
  * new versions inserted through never-matching NULL mergeKey rows.
  *
  * The change predicate uses non-null-safe `<>` on {contracted_price,
  * total_discount, data_fine_prestazione} — a known reference defect
  * (reference: notes.md:3-20) preserved for parity.
  */
object ItemsEtlJob {

  /** All table columns, for the whenNotMatchedInsert values map
    * (reference: src/items_etl.py:121-141). */
  private[jobs] val InsertColumns: Seq[String] = Seq(
    "contratto_cod", "numero_annuncio", "list_total", "contracted_price",
    "total_discount", "data_attivazione", "data_fine_prestazione",
    "product_code", "quantity", "causale_annullamento", "data_annullamento",
    "status_item", "creazione_dta", "valid_from", "valid_from_year",
    "valid_from_month", "valid_from_day", "valid_to")

  /** @return number of duplicated rows dropped by the dedup step (the
    *         reference logs this count — src/items_etl.py:57-61). */
  def run(spark: SparkSession, readPath: String, writePath: String): Long =
    runWithMetrics(spark, readPath, writePath,
      collectCounts = false).duplicated_count

  /** [[run]] with the full phase-timing/count breakdown; when
    * `metricsPath` is given, appends the row as a one-line header CSV
    * under `metricsPath/<batch_id>` (the header job's metrics-sink
    * shape — reference logs these values, src/items_etl.py:57-61).
    * `collectCounts = false` skips the staged-count action and the init
    * write's commit-metrics read (those fields read -1; a merge returns
    * its counts for free) — the plain [[run]] entry point uses it so
    * correctness replays and tests don't pay accounting-only driver
    * jobs per batch. */
  def runWithMetrics(spark: SparkSession, readPath: String, writePath: String,
                     metricsPath: Option[String] = None,
                     collectCounts: Boolean = true): ItemsRunMetrics = {
    val t0 = System.nanoTime()
    val filename = readPath.split("/").last
    val batchId = EtlSupport.batchId(filename)

    // ---- EXTRACT (reference: src/items_etl.py:49-52) -------------------
    val tExtract0 = System.nanoTime()
    val dfExtracted = spark.read
      .option("header", "true").option("sep", "|")
      .schema(Schemas.Items)
      .csv(readPath)
      .withColumn("valid_from",
        regexp_extract(input_file_name(), Schemas.ItemsDateRegex, 1))
    val durExtract = secondsSince(tExtract0)

    // ---- DEDUP: drop ALL copies of keys occurring >1 time --------------
    // (reference quirk, preserved: src/items_etl.py:57-64 keeps flag==1
    // and logs flag==2 — keys with 3+ copies are dropped but not counted)
    // The flagged frame is the batch's ONE expensive lineage (CSV scan +
    // the whole-partition count window) and has two consumers: the
    // duplicated-count action here and everything downstream of the
    // transform. Persisting it makes the count() the action that fills
    // the cache, so the scan+window run ONCE per batch instead of twice
    // (guide §1.2: don't repeat passes; previously the downstream
    // transform cache re-ran both). Downstream re-derives transform
    // columns from this cache — narrow, no shuffle.
    val tDedup0 = System.nanoTime()
    val wDup = Window.partitionBy(Schemas.ItemsDedupKeys.map(col): _*)
    val flagged = dfExtracted.withColumn("flag", count(lit(1)).over(wDup))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the try/finally that releases the cache starts HERE, immediately
    // after the persist: the dedup count() below is the action that
    // materializes it and can throw on bad input — thrown OUTSIDE the
    // guard it would leak the pinned cache into a long-lived session
    // (ADVICE r13)
    try {
    val duplicatedCount = flagged.filter(col("flag") === 2).count()
    val deduped = flagged.filter(col("flag") === 1)
    val durDedup = secondsSince(tDedup0)

    // ---- TRANSFORM (reference: src/items_etl.py:68-73) -----------------
    val tTransform0 = System.nanoTime()
    val dfTransformed = deduped
      .withColumn("valid_from", to_date(col("valid_from"), "yyyyMMdd").cast(DateType))
      .withColumn("valid_to", to_date(lit(Schemas.MaxDate), "yyyyMMdd").cast(DateType))
      .withColumn("valid_from_year", year(col("valid_from")))
      .withColumn("valid_from_month", month(col("valid_from")))
      .withColumn("valid_from_day", dayofmonth(col("valid_from")))
      .drop("flag")
    val durTransform = secondsSince(tTransform0)

    // ---- MERGE / INIT (reference: src/items_etl.py:79-143) -------------
    // No second persist here: dfTransformed is a narrow projection over
    // the already-cached flagged frame (the dedup phase materialized it),
    // so its consumers — the staged count and both arms of the merge's
    // staged union — each replay only cheap column expressions over the
    // cache. A second full-width copy of the batch in storage memory
    // bought nothing and competed with the merge join for memory
    // (guide §5: caching competes with execution memory).
    val tMerge0 = System.nanoTime()
    val stagedCount = if (collectCounts) dfTransformed.count() else -1L
    val (insertedCount, closedCount) =
      if (!VersionedTable.isTable(spark, writePath)) {
      // ---- INIT (reference: src/items_etl.py:79-81) --------------------
      VersionedTable.create(spark, dfTransformed, writePath, Schemas.PartitionColumns)
      if (collectCounts)
        (lastMetric(VersionedTable.forPath(spark, writePath), "numOutputRows"), 0L)
      else (-1L, -1L)
    } else {
      // ---- SCD2 MERGE (reference: src/items_etl.py:86-143) -------------
      val table = VersionedTable.forPath(spark, writePath)

      // open rows whose tracked values differ from this batch's updates
      // — `<>` non-null-safe, as in the reference
      val newItemsToInsert = dfTransformed.alias("updates")
        .join(table.read.alias("existing"), Schemas.ItemsDedupKeys)
        .where("existing.valid_to = date('9999-12-31') AND (" +
          "updates.contracted_price <> existing.contracted_price OR " +
          "updates.total_discount <> existing.total_discount OR " +
          "updates.data_fine_prestazione <> existing.data_fine_prestazione)")

      // staged union: NULL-mergeKey rows can never match → always inserted
      // (the new open versions); keyed rows close their open predecessor
      // (reference: src/items_etl.py:106-110)
      val stagedUpdates = newItemsToInsert
        .selectExpr("NULL as mergeKey", "NULL as mergeKey2", "updates.*")
        .union(dfTransformed.selectExpr(
          "contratto_cod as mergeKey", "numero_annuncio as mergeKey2", "*"))

      val merged = table.alias("existing")
        .merge(stagedUpdates.alias("staged_updates"),
          "existing.contratto_cod = mergeKey AND existing.numero_annuncio = mergeKey2")
        .whenMatchedUpdate(
          condition = "existing.valid_to = date('9999-12-31') AND (" +
            "staged_updates.contracted_price <> existing.contracted_price OR " +
            "staged_updates.total_discount <> existing.total_discount OR " +
            "staged_updates.data_fine_prestazione <> existing.data_fine_prestazione)",
          set = Map("valid_to" -> "staged_updates.valid_from"))
        .whenNotMatchedInsert(values =
          InsertColumns.map(c => c -> s"staged_updates.$c").toMap)
        .execute()
      (metric(merged, "numTargetRowsInserted"), metric(merged, "numTargetRowsUpdated"))
    }
    val durMerge = secondsSince(tMerge0)

    val metrics = ItemsRunMetrics(
      batch_id = batchId,
      duration_s = secondsSince(t0),
      duration_s_extract = durExtract,
      duration_s_dedup = durDedup,
      duration_s_transform = durTransform,
      duration_s_merge = durMerge,
      staged_count = stagedCount,
      duplicated_count = duplicatedCount,
      inserted_count = insertedCount,
      closed_count = closedCount,
      spark_app_id = spark.sparkContext.applicationId)
    metricsPath.foreach(p => EtlSupport.writeRunMetrics(metrics, s"$p/$batchId"))
    metrics
    } finally flagged.unpersist(false)
  }
}
