package graft.tables

import java.net.URLDecoder
import java.nio.charset.StandardCharsets
import java.sql.Timestamp
import java.util.UUID

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.storage.StorageLevel
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization

/** Per-file column statistics harvested from the parquet FOOTER at
  * commit time (metadata-only — no data re-scan): min/max as parquet's
  * canonical string form, plus null accounting. The same role Delta's
  * per-file stats play for data skipping. */
case class FileColStats(min: String, max: String,
                        nullCount: Long, hasMinMax: Boolean)

/** One data file of a table version. `path` is relative to `<root>/data`.
  * `rows` comes free from the parquet footer at commit time (-1 on
  * legacy entries written before it was recorded). `dv` lists deletion-
  * vector sidecar files (relative to `<root>/data`, under `_dv/`) whose
  * (file, row_idx) pairs mark rows of THIS file as deleted; `dvRows` is
  * how many of this file's physical rows they mark (for accounting —
  * live rows = rows - dvRows). Both default empty for pre-DV entries. */
case class FileEntry(path: String,
                     partitionValues: Map[String, String],
                     sizeBytes: Long,
                     stats: Option[Map[String, FileColStats]] = None,
                     rows: Long = -1L,
                     dv: Seq[String] = Seq.empty,
                     dvRows: Long = 0L)

/** One commit in the version log — Delta-shaped (add/remove actions +
  * commitInfo fields), modeled on the commit files observed in the
  * reference's committed table
  * (reference: landing_test/header/_delta_log/00000000000000000003.json).
  */
case class LogEntry(version: Long,
                    timestampMs: Long,
                    operation: String,
                    schemaJson: String,
                    partitionColumns: Seq[String],
                    add: Seq[FileEntry],
                    remove: Seq[String],
                    operationMetrics: Map[String, String])

/** Materialized snapshot of the live file set at `version`, written every
  * [[VersionedTable.CheckpointInterval]] commits so that computing a
  * snapshot replays O(interval) JSON files instead of O(versions) — the
  * same role Delta's parquet checkpoints play. `txns` carries the
  * per-appId transaction watermark (max committed txnBatchId) as of
  * `version` — the analog of Delta folding SetTransaction actions into
  * its checkpoints — so [[VersionedTable.lastTxnBatchId]]'s backward scan
  * stops at the newest checkpoint instead of walking the whole log for an
  * appId with no commits. `Option` for back-compat: checkpoints written
  * before the field existed deserialize as None and simply don't bound
  * the scan. */
case class Checkpoint(version: Long,
                      schemaJson: String,
                      partitionColumns: Seq[String],
                      files: Seq[FileEntry],
                      txns: Option[Map[String, Long]] = None)

/** A versioned Parquet table with ACID-ish single-writer semantics:
  * Hive-partitioned parquet files under `<root>/data/` plus a JSON commit
  * log under `<root>/_graft_log/`. Replaces everything the reference
  * delegates to delta-spark (absent in this environment — SURVEY.md §7.1):
  * MERGE, time travel (`versionAsOf`), `history`, `isDeltaTable`,
  * `mergeSchema` append.
  *
  * Scale design notes:
  *  - Snapshots are computed by replaying add/remove actions on the
  *    driver — O(versions × files) of pure metadata, no data read.
  *  - MERGE prunes to *touched files* first (inner join source×target on
  *    the merge condition, collecting only distinct file names), then
  *    rewrites just those files plus new-row files — the same bounded-work
  *    strategy Delta's MERGE uses; untouched files are carried by
  *    reference in the log.
  *  - Commits are atomic via write-temp + rename on the Hadoop
  *    FileSystem API (atomic on HDFS/local; on object stores a real
  *    deployment would put the log on a store with atomic rename or a
  *    coordination service).
  */
class VersionedTable private (val spark: SparkSession,
                              val root: String,
                              private var aliasName: Option[String]) {
  import VersionedTable._

  private val rootPath = new Path(root)
  private def fs: FileSystem =
    rootPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
  private def logDir = new Path(rootPath, LogDirName)
  private def dataDir = new Path(rootPath, "data")
  private def propsPath = new Path(logDir, "_table_properties.json")

  /** Immutable table properties written once at [[VersionedTable.create]]
    * (e.g. bloom-filter columns). Missing/unreadable ⇒ empty: properties
    * only ever enable optimizations, never correctness. */
  private lazy val tableProps: Map[String, String] =
    try {
      val f = fs
      if (f.exists(propsPath))
        Serialization.read[Map[String, String]](readFully(f, propsPath))
      else Map.empty
    } catch { case scala.util.control.NonFatal(_) => Map.empty }

  /** Columns carrying parquet bloom filters (property
    * `bloom.filter.columns`, comma-separated), written by every file this
    * table writes and probed by [[readWhereEquals]]. */
  private def bloomColumns: Seq[String] =
    tableProps.get(BloomColsProp).toSeq
      .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)

  def as(name: String): VersionedTable = alias(name)
  def alias(name: String): VersionedTable = {
    val t = new VersionedTable(spark, root, Some(name))
    t
  }

  /** Label the Spark jobs `f` submits (guide §1.5 — the merge path runs
    * several internal jobs per call and unlabeled they are
    * indistinguishable in the UI/any listener-based breakdown). Saves and
    * restores the caller's description; thread-local, so concurrent
    * writers don't clobber each other. */
  private def labeled[T](desc: String)(f: => T): T = {
    val sc = spark.sparkContext
    val prev = sc.getLocalProperty("spark.job.description")
    sc.setJobDescription(s"graft.$desc")
    try f finally sc.setJobDescription(prev)
  }

  // ---------------------------------------------------------------- log --

  /** Log-dir listing split into (commit files, checkpoint files), each as
    * (version, path) sorted by version. One filesystem LIST; versions come
    * from file names, so no JSON is parsed here. */
  private def listLog(): (Seq[(Long, Path)], Seq[(Long, Path)]) = {
    val f = fs
    if (!f.exists(logDir)) return (Seq.empty, Seq.empty)
    val paths = f.listStatus(logDir).map(_.getPath)
    val commits = paths.toSeq
      .filter(_.getName.matches("""\d{20}\.json"""))
      .map(p => (p.getName.stripSuffix(".json").toLong, p)).sortBy(_._1)
    val cps = paths.toSeq
      .filter(_.getName.matches("""\d{20}\.checkpoint\.json"""))
      .map(p => (p.getName.stripSuffix(".checkpoint.json").toLong, p)).sortBy(_._1)
    (commits, cps)
  }

  private[tables] def entries: Seq[LogEntry] = {
    val f = fs
    val commits = listLog()._1
    // same tolerance as snapshot(): a torn NEWEST commit is aborted-
    // publish debris, not history — history()/readChanges() keep working
    // on the parsable prefix; torn anywhere else is corruption and throws
    commits.flatMap { case (v, p) =>
      try Some(parseEntry(readFully(f, p)))
      catch {
        case scala.util.control.NonFatal(_) if v == commits.last._1 => None
      }
    }
  }

  def currentVersion: Long = {
    val (commits, _) = listLog()
    if (commits.isEmpty) -1L else commits.last._1
  }

  /** Current state together with the version it reflects, for mutations
    * that REMOVE files (merge/DML/compact): their commit must be pinned
    * to this version + 1 so any commit landing after this read loses the
    * CAS and [[withCommitRetry]] re-runs the operation on fresh state.
    * An unpinned `currentVersion + 1` evaluated at COMMIT time would
    * publish a rewrite of a STALE file set as the next free version — a
    * silent lost update: two concurrent disjoint-key merges that each
    * rewrite the same base file would BOTH land, duplicating every row
    * of that file (caught by the q92 oracle). Reading the version first
    * and the state AT that version is safe in the only racy direction: a
    * commit between the two reads makes the pinned CAS fail spuriously
    * (retry), never succeed wrongly. Add-only appends stay unpinned by
    * design — see [[append]]. */
  private def pinnedSnapshot(): (Long, Seq[FileEntry], StructType, Seq[String]) = {
    val v = currentVersion
    val (files, schema, partCols) = snapshot(Some(v))
    (v, files, schema, partCols)
  }

  /** Live file set at `asOf` (inclusive), with the schema of that version.
    * Starts from the newest checkpoint ≤ target and replays only the
    * commits after it — O(CheckpointInterval) JSON reads, not O(versions). */
  private def snapshot(asOf: Option[Long]): (Seq[FileEntry], StructType, Seq[String]) = {
    val f = fs
    val (commits, cps) = listLog()
    require(commits.nonEmpty, s"$root is not a graft table (empty log)")
    val target = asOf match {
      case Some(v) =>
        require(commits.exists(_._1 == v),
          s"version $v not found in $root (latest=${commits.last._1})")
        v
      case None => commits.last._1
    }
    val cp = cps.filter(_._1 <= target).lastOption
      .map { case (_, p) => parseCheckpoint(readFully(f, p)) }
    val files = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    cp.foreach(_.files.foreach(fe => files(fe.path) = fe))
    val fromV = cp.map(_.version).getOrElse(-1L)
    // An unparsable NEWEST commit on an implicit (latest) read is treated
    // as an aborted publish and skipped — the reader sees the previous
    // version instead of failing every query until recovery. Possible only
    // through store-level corruption or a crashed writer on a store
    // without an atomic publish; anywhere else in the log an unparsable
    // commit is real corruption and still throws, as does a time-travel
    // read that targets the torn version EXPLICITLY (silently answering
    // with different-version data would be worse than failing).
    val replayed = commits
      .filter { case (v, _) => v > fromV && v <= target }
      .flatMap { case (v, p) =>
        try Some(parseEntry(readFully(f, p)))
        catch {
          case scala.util.control.NonFatal(_)
            if asOf.isEmpty && v == commits.last._1 => None
        }
      }
    if (replayed.isEmpty && cp.isEmpty)
      throw new IllegalStateException(
        s"$root has no parsable commit (newest is torn/corrupt and no " +
          "checkpoint exists) — recoverAbortedCommit() after inspection")
    replayed.foreach { e =>
      e.remove.foreach(files.remove)
      e.add.foreach(a => files(a.path) = a)
    }
    val (schemaJson, partCols) = replayed.lastOption
      .map(e => (e.schemaJson, e.partitionColumns))
      .getOrElse((cp.get.schemaJson, cp.get.partitionColumns))
    (files.values.toSeq,
      DataType.fromJson(schemaJson).asInstanceOf[StructType],
      partCols)
  }

  // private[tables] (not private) so the log-stress spec can drive
  // metadata-only commits without paying a parquet write per version
  private[tables] def commit(entry: LogEntry): Unit = {
    val f = fs
    f.mkdirs(logDir)
    val target = new Path(logDir, f"${entry.version}%020d.json")
    // cheap pre-check; the real guard is the atomic publish below (two
    // writers can both pass an exists() probe in the race window)
    if (f.exists(target)) throw conflict(entry.version)
    // never build version N+1 on an unparsable newest commit N: with the
    // rename/link publish a torn target file "cannot happen", so one IS
    // evidence of corruption or a crashed legacy writer — committing past
    // it would bake the hole into the log forever. Readers tolerate it
    // (snapshot treats it as aborted); writers stop and point at the
    // explicit recovery path.
    newestUnparsable().foreach { case (v, _) =>
      throw new IllegalStateException(
        s"newest commit $v at $root is unparsable (torn or corrupt); " +
          "refusing to commit past it — inspect it, then recoverAbortedCommit() " +
          "to discard it if it is aborted-publish debris")
    }
    casPublish(f, target, renderEntry(entry), entry.version)
    maybeCheckpoint(entry.version)
  }

  /** The newest commit's (version, path) if its JSON does not parse. */
  private def newestUnparsable(): Option[(Long, Path)] = {
    val (commits, _) = listLog()
    commits.lastOption.flatMap { case (v, p) =>
      try { parseEntry(readFully(fs, p)); None }
      catch { case scala.util.control.NonFatal(_) => Some((v, p)) }
    }
  }

  /** Explicit recovery from a torn/corrupt NEWEST commit file (possible
    * only via store-level corruption or a writer on a store without an
    * atomic publish dying mid-copy): deletes it so the version can be
    * re-claimed, returning true. A parsable newest commit is never
    * touched (returns false) — this is an operator action, never called
    * implicitly, because on a store with a non-atomic publish the
    * "corrupt" file could be a concurrent writer's in-flight copy. */
  def recoverAbortedCommit(): Boolean =
    newestUnparsable() match {
      case Some((_, p)) => fs.delete(p, false)
      case None => false
    }

  private def conflict(version: Long) =
    new ConcurrentCommitException(
      s"concurrent commit detected: version $version already exists at $root — " +
        "another writer won this version; re-read the table and retry the operation")

  /** Delta-style optimistic-concurrency loop around a whole write
    * operation: the body re-reads the snapshot at its start and CAS-
    * publishes at its end, so on a [[ConcurrentCommitException]] the
    * operation is simply re-run against the winner's new table state —
    * re-snapshot, re-rewrite, re-CAS — up to
    * `spark.graft.commit.maxRetries` times (default 10, 0 disables).
    * Physically-conflicting writers (same keys, same files) stay correct
    * under this loop because each retry rewrites from the committed
    * state; it is the CONCURRENCY discipline that is optimistic, not the
    * correctness. The loser's orphaned data files are deleted before each
    * retry (see the commit call sites), so retries don't accumulate
    * garbage. */
  private def withCommitRetry[T](body: => T): T = {
    // 10 retries (was 3): txn-pinned appends turn EVERY intervening
    // commit into a CAS loss by design (the pin is what makes replays
    // exactly-once), so the budget must absorb a burst of interleaved
    // writers, not just a rare collision. Linear backoff staggers the
    // herd; each retry re-reads table state, so waiting is cheap and
    // correct.
    val maxRetries =
      spark.conf.get("spark.graft.commit.maxRetries", "10").trim.toInt
    var attempt = 0
    while (true) {
      try return body
      catch {
        case e: ConcurrentCommitException =>
          attempt += 1
          if (attempt > maxRetries) throw e
          // linear backoff + uniform jitter: symmetric writers that
          // collide on attempt N would otherwise sleep identical
          // durations and re-collide in lockstep, burning the whole
          // retry budget under contention
          Thread.sleep(13L * attempt +
            java.util.concurrent.ThreadLocalRandom.current().nextLong(25L * attempt + 1))
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Commit, deleting this attempt's freshly-written data files when the
    * commit LOSES a CAS race — they are referenced by no log version, and
    * a retry writes its own — before rethrowing for the retry loop. */
  private def commitOrClean(entry: LogEntry, wrote: Seq[FileEntry]): Unit =
    try commit(entry)
    catch {
      case e: ConcurrentCommitException =>
        val f = fs
        wrote.foreach { fe =>
          try f.delete(new Path(dataDir, fe.path), false)
          catch { case scala.util.control.NonFatal(_) => }
        }
        throw e
    }

  /** Publish a commit file via compare-and-swap: the version file is
    * created if and ONLY if it does not exist, atomically, AND appears to
    * readers all-or-nothing — of two interleaved writers exactly one wins,
    * the loser fails cleanly instead of silently clobbering the winner,
    * and no reader can ever list or replay a half-written commit. Both
    * branches stage the full payload under a dot-prefixed tmp name (which
    * the `\d{20}.json` log listing never matches) and make it visible in
    * one metadata operation. On a local filesystem that operation is a
    * hard link (link(2) fails EEXIST atomically — a bare rename would
    * overwrite); elsewhere it is rename-no-overwrite of the staged file
    * (atomic in the HDFS namenode, returns false when the target exists —
    * unlike the previous create-then-copy, a writer crash can never leave
    * a torn target). An object-store deployment (S3-style rename =
    * non-atomic copy) would put the log on a store with conditional puts
    * or a coordination service — documented contract, not handled here. */
  private def casPublish(f: FileSystem, target: Path, content: String,
                         version: Long): Unit = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
    val scheme = Option(target.toUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      val localTmp = java.nio.file.Paths.get(tmp.toUri.getPath)
      val localTarget = java.nio.file.Paths.get(target.toUri.getPath)
      try java.nio.file.Files.createLink(localTarget, localTmp)
      catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          f.delete(tmp, false)
          throw conflict(version)
      }
      f.delete(tmp, false)
    } else {
      // non-local: rename the fully-written staged payload onto the
      // target; rename-no-overwrite is the CAS and the payload is
      // complete before it becomes visible
      val renamed =
        try f.rename(tmp, target)
        catch { case _: java.io.IOException => false }
      if (!renamed) {
        f.delete(tmp, false)
        throw conflict(version)
      }
    }
  }

  /** Every CheckpointInterval commits, materialize the live file set so
    * later snapshots replay a bounded number of commit files. Failure here
    * never fails the commit — a checkpoint is an optimization, not state. */
  private def maybeCheckpoint(version: Long): Unit =
    if (version > 0 && version % CheckpointInterval == 0) {
      try {
        val cpPath = new Path(logDir, f"$version%020d.checkpoint.json")
        atomicWrite(fs, cpPath, renderCheckpoint(buildCheckpoint(version)))
      } catch { case scala.util.control.NonFatal(_) => }
    }

  /** ONE replay pass building the checkpoint at `target`: the previous
    * checkpoint (file set + txn-watermark base) plus the interval's
    * commits, each parsed once, accumulating files, schema, partitioning
    * AND per-app txn watermarks together (a snapshot() + separate
    * txn-map pass would read the same prev checkpoint and the same
    * ~interval commits twice per checkpoint).
    *
    * An unparsable commit THROWS — never skipped: folding a checkpoint
    * past a corrupt commit would silently freeze an app's watermark
    * below its true value and let a replayed batch commit twice (the
    * exact failure [[lastTxnBatchId]]'s fail-loud contract exists to
    * prevent). [[maybeCheckpoint]]'s catch then skips this checkpoint;
    * the log's ground truth stays intact and readers keep working.
    *
    * A previous checkpoint that predates the `txns` field rebuilds the
    * watermark map from the WHOLE log prefix once (the self-heal
    * moment): folding only the interval would publish an INCOMPLETE map
    * that later truncation/bounded probes would treat as authoritative.
    * The rebuild only publishes `Some(txns)` when the physical prefix is
    * actually complete (the commit log reaches version 0): after a
    * cleanLog truncation, a legacy (pre-txns) checkpoint can sit above
    * physically-deleted commits, and folding the surviving suffix would
    * publish a map silently missing any app whose only record was below
    * the truncation point — a replayed batch would then commit twice.
    * Emitting txns=None instead keeps probes on their fallback scan and
    * keeps cleanLog refusing to anchor, exactly the legacy behavior. */
  private def buildCheckpoint(target: Long): Checkpoint = {
    val f = fs
    val (commits, cps) = listLog()
    val prev = cps.filter(_._1 < target).lastOption
      .map { case (_, p) => parseCheckpoint(readFully(f, p)) }
    val files = scala.collection.mutable.LinkedHashMap[String, FileEntry]()
    prev.foreach(_.files.foreach(fe => files(fe.path) = fe))
    val txns = scala.collection.mutable.Map[String, Long]()
    prev.flatMap(_.txns).foreach(txns ++= _)
    val fromV = prev.map(_.version).getOrElse(-1L)
    // last-write-wins BY VERSION (folds run in ascending commit order),
    // matching lastTxnBatchId's live scan, which answers with the NEWEST
    // commit's batchId for the app — a max() here would diverge from the
    // scan if an appId were ever reused with reset batchIds (a deleted-
    // and-recreated streaming checkpoint), making the answer depend on
    // whether a checkpoint had folded since
    def foldTxn(e: LogEntry): Unit =
      for (app <- e.operationMetrics.get("txnAppId");
           b <- e.operationMetrics.get("txnBatchId"))
        txns(app) = b.toLong
    val prefixComplete = commits.headOption.exists(_._1 == 0L)
    val txnsComplete = prev.exists(_.txns.isDefined) || prefixComplete
    if (prev.isDefined && prev.get.txns.isEmpty && prefixComplete)
      commits.filter(_._1 <= fromV)
        .foreach { case (_, p) => foldTxn(parseEntry(readFully(f, p))) }
    val replayed = commits
      .filter { case (v, _) => v > fromV && v <= target }
      .map { case (_, p) => parseEntry(readFully(f, p)) }
    require(replayed.nonEmpty, s"no commits to replay for checkpoint $target")
    replayed.foreach { e =>
      e.remove.foreach(files.remove)
      e.add.foreach(a => files(a.path) = a)
      foldTxn(e)
    }
    Checkpoint(target, replayed.last.schemaJson, replayed.last.partitionColumns,
      files.values.toSeq, if (txnsComplete) Some(txns.toMap) else None)
  }

  private def atomicWrite(f: FileSystem, target: Path, content: String): Unit = {
    val tmp = new Path(target.getParent, s".tmp-${UUID.randomUUID()}.json")
    val out = f.create(tmp, false)
    out.write(content.getBytes(StandardCharsets.UTF_8))
    out.close()
    if (!f.rename(tmp, target)) {
      f.delete(tmp, false)
      throw new IllegalStateException(s"atomic write failed for $target")
    }
  }

  // --------------------------------------------------------------- read --

  def toDF: DataFrame = read
  def read: DataFrame = readAt(None)
  /** Time-travel read (reference: schema_evolution_step1.py:139,166,182). */
  def readVersion(v: Long): DataFrame = readAt(Some(v))

  private def readAt(asOf: Option[Long]): DataFrame = {
    val (files, schema, _) = snapshot(asOf)
    val df = readFileEntries(files, schema)
    aliasName.fold(df)(df.alias)
  }

  /** Incremental change read: the rows ADDED between `fromVersion`
    * (exclusive) and `toVersion` (inclusive) — how a downstream consumer
    * (a training-data refresh, an index builder) picks up "what's new
    * since I last looked" without rescanning the table.
    *
    * Exact row-level semantics hold for append-style commits — CREATE /
    * WRITE / insert-only MERGE (the volume path of the SCD2 pipelines'
    * Phase B) — whose added files contain precisely the new rows.
    * OPTIMIZE commits are skipped (layout-only, no logical change). A
    * rewriting MERGE's added files mix updated, inserted AND copied rows;
    * such commits throw unless `includeRewrites = true`, which returns
    * the added files with that documented coarseness.
    * @param fromVersion last version the consumer has seen (exclusive) */
  def readChanges(fromVersion: Long,
                  toVersion: Option[Long] = None,
                  includeRewrites: Boolean = false): DataFrame = {
    val to = toVersion.getOrElse(currentVersion)
    require(to >= fromVersion, s"toVersion $to < fromVersion $fromVersion")
    val range = entries.filter(e => e.version > fromVersion && e.version <= to)
    val changeFiles = range.flatMap { e =>
      e.operation match {
        case "OPTIMIZE" => Seq.empty // bin-packing: no logical change
        case "DELETE" =>
          // removes rows, adds none — its add actions are survivor
          // rewrites or DV re-commits of OLD rows, never new data
          if (includeRewrites) Seq.empty
          else throw new IllegalArgumentException(
            s"version ${e.version} is a DELETE: rows disappeared, which " +
              "added-rows semantics cannot express; pass includeRewrites=true " +
              "to skip it, or consume from operation metrics instead")
        case "MERGE" | "UPDATE" if e.remove.nonEmpty &&
          !e.operationMetrics.get("insertOnly").contains("true") =>
          if (includeRewrites) e.add
          else throw new IllegalArgumentException(
            s"version ${e.version} is a rewriting ${e.operation}: its added " +
              "files mix updated/copied/inserted rows; pass includeRewrites=true " +
              "to read them coarsely, or consume from operation metrics instead")
        case _ => e.add
      }
    }
    // schema of the target version (mergeSchema may have widened it)
    val (_, schema, _) = snapshot(Some(to))
    readFileEntries(changeFiles, schema)
  }

  /** Commit history, newest first (reference: DeltaTable.history —
    * schema_evolution_step1.py:129-136). */
  def history(limit: Int = Int.MaxValue): DataFrame = {
    import spark.implicits._
    entries.sortBy(-_.version).take(limit)
      .map(e => (e.version, new Timestamp(e.timestampMs), e.operation,
        e.operationMetrics, e.add.size.toLong, e.remove.size.toLong))
      .toDF("version", "timestamp", "operation", "operationMetrics",
        "numAddedFiles", "numRemovedFiles")
  }

  def schema: StructType = snapshot(None)._2
  def partitionColumns: Seq[String] = snapshot(None)._3
  private[tables] def liveEntries: Seq[FileEntry] = snapshot(None)._1

  /** RESTORE: make the table's CURRENT state equal its state at `version`,
    * as a NEW commit — history is preserved, so a restore is itself
    * undoable by another restore (Delta's RESTORE TABLE ... VERSION AS OF).
    * Pure metadata: the commit re-adds the files live at `version` that
    * are no longer live and removes the files live now that weren't —
    * no data is read, rewritten, or copied, so restoring a 100 TB table
    * is a driver-side log operation. Files from the target version that
    * [[vacuum]] has physically deleted make the restore impossible; that
    * is detected up front (one existence probe per re-added file) and
    * fails before anything is committed. A consumer of [[readChanges]]
    * sees the restore's re-added files as new data — their rows are
    * newly live, which is exactly what an incremental reader must apply.
    * @return (filesReAdded, filesRemoved) as recorded by the commit */
  def restoreToVersion(version: Long): (Int, Int) = withCommitRetry {
    val (targetFiles, targetSchema, targetPartCols) = snapshot(Some(version))
    val cur = currentVersion
    val (curFiles, _, _) = snapshot(None)
    // compare full entries, not just paths: a deletion-vector DELETE
    // changes an entry's dv refs while the data file path stays the same —
    // restoring past it must re-commit the old entry (replay's add
    // overwrites by path)
    val curByPath = curFiles.map(fe => fe.path -> fe).toMap
    val tgtSet = targetFiles.map(_.path).toSet
    val toAdd = targetFiles.filterNot(fe => curByPath.get(fe.path).contains(fe))
    val toRemove = curFiles.map(_.path).filterNot(tgtSet.contains)
    val f = fs
    val missing = toAdd.filterNot(fe =>
      (fe.path +: fe.dv).forall(p => f.exists(new Path(dataDir, p))))
    if (missing.nonEmpty) throw new IllegalStateException(
      s"cannot restore $root to version $version: ${missing.size} data " +
        s"file(s) of that version were vacuumed (e.g. ${missing.head.path})")
    commit(LogEntry(cur + 1, now(), "RESTORE", targetSchema.json,
      targetPartCols, toAdd, toRemove,
      Map("restoredVersion" -> version.toString,
        "numRestoredFiles" -> toAdd.size.toString,
        "numRemovedFiles" -> toRemove.size.toString)))
    (toAdd.size, toRemove.size)
  }

  /** Zero-copy SHALLOW CLONE (Delta's `CLONE ... SHALLOW`): create a new
    * table at `destPath` whose first commit REFERENCES this table's
    * current data files by fully-qualified URI — no data is read or
    * copied, so cloning a 100 TB table is one driver-side metadata
    * write. The clone is fully functional: reads mix referenced and own
    * files transparently, writes (append/merge/DML/compact) land in the
    * clone's OWN data dir and only drop references, and the clone's
    * vacuum walks only its own dir — the source is never mutated by any
    * clone operation. File stats ride along, so pruning on the clone is
    * as sharp as on the source.
    *
    * Caveats (both Delta-shaped): vacuuming the SOURCE can delete files
    * a shallow clone still references (document retention accordingly);
    * and a table with LIVE deletion vectors refuses to clone — compact()
    * first to materialize the deletes. */
  def shallowCloneTo(destPath: String): VersionedTable = {
    val (files, tableSchema, partCols) = snapshot(None)
    val withDv = files.count(_.dv.nonEmpty)
    require(withDv == 0,
      s"cannot shallow-clone: $withDv file(s) carry live deletion vectors; " +
        "compact() the source first to materialize them")
    require(!VersionedTable.isTable(spark, destPath),
      s"$destPath is already a graft table")
    val dst = new VersionedTable(spark, destPath, None)
    val referenced = files.map(fe =>
      fe.copy(path = fs.makeQualified(new Path(dataDir, fe.path)).toString))
    dst.commit(LogEntry(0L, now(), "CLONE", tableSchema.json, partCols,
      referenced, Seq.empty,
      Map("sourceTable" -> fs.makeQualified(new Path(root)).toString,
        "sourceVersion" -> currentVersion.toString,
        "numReferencedFiles" -> referenced.size.toString,
        "numCopiedFiles" -> "0")))
    dst
  }

  // -------------------------------------------------------------- write --

  /** Append `df`. With `mergeSchema=true`, new nullable columns widen the
    * table schema (reference: schema_evolution_step1.py:139-144).
    *
    * `txn = Some((appId, batchId))` makes the append IDEMPOTENT per
    * writer application (Delta's SetTransaction shape, used by the
    * streaming sink for exactly-once): the commit records the pair, and
    * an append whose batchId is ≤ the last recorded one for the same
    * appId is silently skipped.
    *
    * Concurrency (Delta's blind-append protocol): the commit is PINNED
    * to the version the snapshot/watermark was read at, so a concurrent
    * commit always surfaces as a CAS loss — then, because an append
    * only ADDS files, the loss is resolved by a LOGICAL conflict check
    * over the intervening commits instead of a full re-run: if none of
    * them changed the table schema or partitioning (and, for txn
    * appends, none landed this very (appId, batchId) — a zombie replay,
    * which makes this append a silent skip), the already-written data
    * files are re-committed at the next version, metadata-only. Only a
    * genuine logical conflict (concurrent schema evolution) pays the
    * data rewrite, via the outer retry loop re-running the body against
    * the new schema. */
  def append(df: DataFrame, mergeSchema: Boolean = false,
             txn: Option[(String, Long)] = None): Unit = withCommitRetry {
    // The pin reads the log listing BEFORE the watermark check (a torn
    // newest file still claims its slot — committing past it must keep
    // refusing with the recovery guidance); the data snapshot stays the
    // tolerant default. Any commit landing after this read loses the
    // pinned CAS; slideAppendCommit then re-checks the watermark and
    // the schema against the actual intervening commits.
    val v0 = currentVersion
    val alreadyCommitted = txn.exists { case (app, b) =>
      lastTxnBatchId(app).exists(_ >= b)
    }
    if (!alreadyCommitted) {
      val (_, cur, partCols) = snapshot(None)
      val newSchema =
        if (mergeSchema) widenSchema(cur, df.schema)
        else {
          val missing = cur.fieldNames.toSet -- df.schema.fieldNames.toSet
          val extra = df.schema.fieldNames.toSet -- cur.fieldNames.toSet
          require(extra.isEmpty, s"append schema has extra columns $extra (use mergeSchema)")
          require(missing.isEmpty, s"append schema is missing columns $missing")
          cur
        }
      val aligned = df.select(newSchema.fieldNames.toSeq.map { n =>
        if (df.schema.fieldNames.contains(n))
          col(n).cast(newSchema(n).dataType).as(n)
        else lit(null).cast(newSchema(n).dataType).as(n)
      }: _*)
      val added = writeFiles(aligned, partCols)
      slideAppendCommit(LogEntry(v0 + 1, now(), "WRITE",
        newSchema.json, partCols, added, Seq.empty,
        Map("numFiles" -> added.size.toString, "mode" -> "Append",
          "mergeSchema" -> mergeSchema.toString) ++
          txn.map { case (app, b) =>
            Map("txnAppId" -> app, "txnBatchId" -> b.toString)
          }.getOrElse(Map.empty)), added, baseSchemaJson = cur.json, txn)
    }
  }

  /** Commit an append entry, resolving CAS losses with Delta's
    * blind-append logic: an append removes nothing, so a concurrent
    * commit only LOGICALLY conflicts when it changed the schema (to
    * something other than this append's base or target schema) or the
    * partition columns — anything else (another append, a merge, DML,
    * OPTIMIZE) commutes, and the entry is simply re-attempted at the
    * next version with the SAME data files: no rewrite, no re-read.
    * Txn appends re-check the watermark on every slide — if the
    * intervening commit landed this (appId, batchId) (a zombie replay
    * racing this writer), the append becomes a silent skip and this
    * attempt's files are deleted: exactly-once holds because the CAS
    * serializes the zombies and every loser re-reads the log before
    * deciding. A genuine conflict (or slide-budget exhaustion under
    * pathological contention) deletes this attempt's files and rethrows
    * for [[withCommitRetry]]'s full-body re-run. */
  private def slideAppendCommit(entry: LogEntry, wrote: Seq[FileEntry],
                                baseSchemaJson: String,
                                txn: Option[(String, Long)]): Unit = {
    val f = fs
    def cleanup(): Unit = wrote.foreach { fe =>
      try f.delete(new Path(dataDir, fe.path), false)
      catch { case scala.util.control.NonFatal(_) => }
    }
    var e = entry
    var slides = 0
    val maxSlides = 20
    while (true) {
      try { commit(e); return }
      catch {
        case ex: ConcurrentCommitException =>
          slides += 1
          if (slides > maxSlides) { cleanup(); throw ex }
          if (txn.exists { case (app, b) =>
            lastTxnBatchId(app).exists(_ >= b) }) {
            // a racing zombie landed this very batch first: this append
            // is a replay — drop its files, commit nothing
            cleanup(); return
          }
          val (commits, _) = listLog()
          val intervening = commits.filter(_._1 >= e.version).map { case (_, p) =>
            try Some(parseEntry(readFully(f, p)))
            catch { case scala.util.control.NonFatal(_) => None }
          }
          val conflicting = intervening.exists {
            case None => true // unparsable newest: let commit() diagnose
            case Some(le) =>
              (le.schemaJson != baseSchemaJson && le.schemaJson != e.schemaJson) ||
                le.partitionColumns != e.partitionColumns
          }
          if (conflicting) { cleanup(); throw ex }
          e = e.copy(version = commits.last._1 + 1)
      }
    }
  }

  /** BatchId of the NEWEST commit carrying [[append]]'s `txn` for
    * `appId`, or None — the idempotence watermark a restarted writer
    * consults. Both answer sources agree on that semantic: the live
    * scan stops at the newest matching commit, and the checkpoint's
    * folded map is last-write-wins by version ([[buildCheckpoint]]) —
    * under the streaming contract (batchIds monotone per appId) this is
    * also the highest batchId.
    * Scans commit files NEWEST-FIRST and stops at the first match, so
    * for a live streaming sink (whose own previous batch is usually the
    * newest commit) the steady-state cost is one or two JSON reads, not
    * the whole log; an appId with NO commits stops at the newest
    * checkpoint's folded `txns` watermark map (Delta's SetTransaction-in-
    * checkpoint shape), so even the miss path is O(CheckpointInterval)
    * reads — a full backward scan only ever happens on a legacy table
    * whose newest checkpoint predates the `txns` field (and self-heals at
    * its next checkpoint). */
  def lastTxnBatchId(appId: String): Option[Long] = {
    val f = fs
    val (commits, cps) = listLog()
    val newest = commits.lastOption.map(_._1)
    def scan(range: Iterator[(Long, Path)]): Option[Long] = range
      .flatMap { case (v, p) =>
        // a torn NEWEST commit is aborted-publish debris (same tolerance
        // as entries/snapshot); an unparsable OLDER file is corruption —
        // skipping it could hide this app's true watermark and let a
        // replayed batch commit twice, so fail loudly instead
        try Some(parseEntry(readFully(f, p)))
        catch {
          case scala.util.control.NonFatal(_) if newest.contains(v) => None
        }
      }
      .find(_.operationMetrics.get("txnAppId").contains(appId))
      .flatMap(_.operationMetrics.get("txnBatchId")).map(_.toLong)
    // the newest checkpoint's VERSION comes free from its filename; its
    // BODY (the full live file set — large) is only parsed when the
    // backward scan above it misses, so a live sink's steady state (own
    // previous batch = the newest commit) stays 1-2 small commit reads
    val floor = cps.lastOption.map(_._1).getOrElse(-1L)
    scan(commits.reverseIterator.takeWhile(_._1 > floor)).orElse {
      val cp = cps.lastOption.map { case (_, p) => parseCheckpoint(readFully(f, p)) }
      cp.flatMap(_.txns) match {
        case Some(txns) => txns.get(appId) // folded watermark (may miss)
        case None =>
          // legacy checkpoint without txns can't bound the scan: keep
          // walking the rest of the log (self-heals at the next
          // checkpoint, which folds the map)
          scan(commits.reverseIterator.filter(_._1 <= floor))
      }
    }
  }

  /** Physically write `df` partitioned by `partCols` into the data dir via
    * a staging dir + per-file rename; returns the added FileEntries. */
  private def writeFiles(df: DataFrame, partCols: Seq[String]): Seq[FileEntry] = {
    val f = fs
    val stage = new Path(rootPath, s".stage-${UUID.randomUUID()}")
    // Table files are written as TIMESTAMP_MICROS, never the INT96
    // default: INT96 is deprecated and parquet suppresses its min/max
    // footer stats, which would silently disable file-level data skipping
    // on every timestamp column. Scoped to table writes only so
    // query-result dumps keep the session's default — the scope is
    // REFERENCE-COUNTED per session (VersionedTable.enterMicrosTsScope)
    // because concurrent same-session table writes are a supported path
    // (streaming sinks, CAS-retried appends): a naive set/restore pair
    // interleaving across two writers would restore the OVERRIDE as the
    // "previous" value and leak it into the session permanently.
    VersionedTable.enterMicrosTsScope(spark)
    try {
      var writer = df.write.mode("overwrite")
      // per-column parquet bloom filters (table property): written into
      // the file footer region by parquet-mr itself — no extra data pass,
      // nothing stored in the commit log. Probed by readWhereEquals.
      bloomColumns.filter(df.schema.fieldNames.contains).foreach { c =>
        writer = writer
          .option(s"parquet.bloom.filter.enabled#$c", "true")
          .option(s"parquet.bloom.filter.expected.ndv#$c",
            tableProps.getOrElse(BloomNdvProp, "1000000"))
      }
      (if (partCols.nonEmpty) writer.partitionBy(partCols: _*) else writer)
        .parquet(stage.toString)
    } finally VersionedTable.exitMicrosTsScope(spark)
    val moved = scala.collection.mutable.ArrayBuffer[(String, Path, Long)]()
    def walk(dir: Path, rel: String): Unit =
      f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory) walk(st.getPath, if (rel.isEmpty) name else s"$rel/$name")
        else if (name.endsWith(".parquet")) {
          val relPath = if (rel.isEmpty) name else s"$rel/$name"
          val dest = new Path(dataDir, relPath)
          f.mkdirs(dest.getParent)
          if (!f.rename(st.getPath, dest))
            throw new IllegalStateException(s"failed to move $relPath into $dataDir")
          moved += ((relPath, dest, st.getLen))
        }
      }
    walk(stage, "")
    f.delete(stage, true)
    statsForMoved(moved.toSeq)
  }

  /** Footer stats for a commit's written files, Delta-style: metadata-
    * only footer fetches, parallelized two ways by file count.
    *  - Small commits: a driver parallel collection — O(files /
    *    driver-cores), no job-scheduling overhead.
    *  - Past [[VersionedTable.ExecutorStatsFileThreshold]] files: ONE
    *    Spark job over the paths, so a 100 TB commit writing tens of
    *    thousands of files reads footers at CLUSTER parallelism instead
    *    of serializing (even in parallel) on the driver — driver state
    *    stays one small FileEntry per file, exactly what the commit log
    *    stores anyway.
    * Output order matches the walk order either way, keeping commit-log
    * file order deterministic. */
  private[tables] def statsForMoved(moved: Seq[(String, Path, Long)],
      executorThreshold: Int = VersionedTable.ExecutorStatsFileThreshold): Seq[FileEntry] =
    if (moved.size < executorThreshold) {
      import scala.collection.parallel.CollectionConverters._
      moved.par.map { case (relPath, dest, len) =>
        val (stats, rowCount) = footerInfo(dest)
        FileEntry(relPath, partitionValuesOf(relPath), len, stats, rowCount)
      }.seq
    } else {
      val confThunk = org.apache.spark.GraftSparkBridge
        .confFactory(spark.sparkContext.hadoopConfiguration)
      val byPath = spark.sparkContext
        .parallelize(moved.map(_._2.toString),
          math.min(moved.size, spark.sparkContext.defaultParallelism * 2))
        .map { p =>
          val (stats, rowCount) =
            VersionedTable.footerInfoAt(new Path(p), confThunk())
          (p, (stats, rowCount))
        }
        .collect().toMap
      moved.map { case (relPath, dest, len) =>
        val (stats, rowCount) = byPath(dest.toString)
        FileEntry(relPath, partitionValuesOf(relPath), len, stats, rowCount)
      }
    }

  /** Column min/max/null stats AND row count from the parquet footer of
    * one written file — metadata-only, no data read. Delegates to the
    * static [[VersionedTable.footerInfoAt]] (shared with the
    * executor-side stats job). */
  private def footerInfo(file: Path): (Option[Map[String, FileColStats]], Long) =
    VersionedTable.footerInfoAt(file, spark.sparkContext.hadoopConfiguration)

  /** "a ≤ b" under numeric comparison when both sides parse as numbers,
    * lexical otherwise — only for merging SAME-column parquet stat
    * strings across row groups (same stringifier on both sides; ISO
    * date/timestamp forms are fixed-width, so lexical order is value
    * order there). NOT safe between a stat string and a caller bound —
    * that comparison must be type-aware ([[cmpTyped]]). */
  private def ordered(a: String, b: String): Boolean =
    VersionedTable.statOrdered(a, b)
  private def toNum(s: String): Option[BigDecimal] =
    VersionedTable.statNum(s)

  /** Parquet's stat stringifier writes timestamps as ISO 'T' forms with
    * micros and an optional zone suffix; normalize to epoch micros. */
  private def tsMicros(raw: String): Long = {
    var s = raw.trim
    if (s.endsWith("Z")) s = s.dropRight(1)
    // strip a numeric UTC offset like +05:00 / -0800 (never before index
    // 10: the date part is exactly 10 chars and the time part has no +/-)
    val cut = math.max(s.lastIndexOf('+'), s.lastIndexOf('-'))
    if (cut > 10) s = s.substring(0, cut)
    val t = java.sql.Timestamp.valueOf(s.replace('T', ' '))
    math.floorDiv(t.getTime, 1000L) * 1000000L + (t.getNanos / 1000L) % 1000000L
  }
  private def boundMicros(b: Any): Long = b match {
    case t: Timestamp =>
      math.floorDiv(t.getTime, 1000L) * 1000000L + (t.getNanos / 1000L) % 1000000L
    case i: java.time.Instant => i.getEpochSecond * 1000000L + i.getNano / 1000L
    case other => tsMicros(other.toString)
  }
  private def boundDate(b: Any): java.time.LocalDate = b match {
    case d: java.sql.Date => d.toLocalDate
    case d: java.time.LocalDate => d
    case other => java.time.LocalDate.parse(other.toString.trim.take(10))
  }

  /** Type-aware comparison of a parquet footer stat string against a
    * caller-supplied bound, under the column's DECLARED table type.
    * None ⇒ not comparable (unparseable form, unsupported type) — the
    * caller must conservatively keep the file. Fixes the lexical-compare
    * hazard where e.g. a timestamp stat "2023-01-27T10:00:00.000000"
    * compared against the bound string "2023-01-27 10:00:00" ('T' > ' ')
    * silently skipped files that contained matching rows. */
  private def cmpTyped(statStr: String, bound: Any, dt: DataType): Option[Int] =
    try {
      import org.apache.spark.sql.types._
      dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType =>
          Some(BigDecimal(statStr.trim).compare(BigDecimal(bound.toString.trim)))
        case StringType => Some(statStr.compareTo(bound.toString))
        case DateType =>
          Some(java.time.LocalDate.parse(statStr.trim).compareTo(boundDate(bound)))
        case TimestampType | TimestampNTZType =>
          Some(java.lang.Long.compare(tsMicros(statStr), boundMicros(bound)))
        case _ => None
      }
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Can `fe` contain rows with `colName` ∈ [lo, hi]? Conservative:
    * missing/unparseable stats keep the file; all-null files are skipped
    * (a range predicate never matches NULL). */
  private def fileOverlaps(fe: FileEntry, colName: String, lo: Any, hi: Any,
                           dt: Option[DataType]): Boolean =
    fe.stats.flatMap(_.get(colName)) match {
      case Some(s) if !s.hasMinMax => false // all NULL
      case Some(s) =>
        dt match {
          case None => true // column not in schema — never skip
          case Some(t) =>
            // overlap: min <= hi AND lo <= max; keep on any None
            cmpTyped(s.min, hi, t).forall(_ <= 0) &&
              cmpTyped(s.max, lo, t).forall(_ >= 0)
        }
      case None => true
    }

  /** Which live files can contain rows with `colName` ∈ [lo, hi]?
    * @return (candidate files, total live files) */
  private[tables] def candidateFiles(colName: String, lo: Any, hi: Any): (Seq[FileEntry], Int) = {
    val (files, tableSchema, _) = snapshot(None)
    val dt = tableSchema.fields.find(_.name == colName).map(_.dataType)
    (files.filter(fe => fileOverlaps(fe, colName, lo, hi, dt)), files.size)
  }

  /** Data-skipping read: scan only files whose footer stats overlap
    * [lo, hi] on `colName`, then apply the exact filter. Equivalent to
    * `read.filter(col between (lo, hi))` but bounded by the candidate
    * file set — the per-file analogue of partition pruning, for columns
    * the table is NOT partitioned by. */
  def readWhereBetween(colName: String, lo: Any, hi: Any): DataFrame = {
    val (_, schema, _) = snapshot(None)
    val (cand, _) = candidateFiles(colName, lo, hi)
    val df = readFileEntries(cand, schema)
    val pruned = aliasName.fold(df)(df.alias)
    pruned.filter(col(colName).between(lit(lo), lit(hi)))
  }

  /** Multi-column data-skipping read: the candidate set is the
    * INTERSECTION of each predicate's stats-candidate files, then every
    * exact filter is applied. With a [[compact]] `zOrderBy` layout this
    * prunes on all z dimensions at once — the point of the z-curve. */
  def readWhereBetweenAll(preds: (String, Any, Any)*): DataFrame = {
    require(preds.nonEmpty, "readWhereBetweenAll needs at least one predicate")
    val (files, schema, _) = snapshot(None)
    val dts = preds.map { case (c, _, _) =>
      c -> schema.fields.find(_.name == c).map(_.dataType)
    }.toMap
    val cand = files.filter(fe => preds.forall { case (c, lo, hi) =>
      fileOverlaps(fe, c, lo, hi, dts(c))
    })
    val df = readFileEntries(cand, schema)
    val base = aliasName.fold(df)(df.alias)
    preds.foldLeft(base) { case (acc, (c, lo, hi)) =>
      acc.filter(col(c).between(lit(lo), lit(hi)))
    }
  }

  /** Point-lookup read: min/max stats pruning first, then each surviving
    * file's parquet BLOOM filter is probed for the literal (when the
    * table declares `bloom.filter.columns` covering `colName`). Stats
    * can't prune a point lookup on a uniformly-spread key — every file's
    * [min,max] covers it — which is exactly where the bloom bites: only
    * files that (probably) contain the value are scanned. The probe is a
    * footer-region metadata read per candidate, driver-side here; a
    * deployment with millions of candidates would run the same probe as
    * an executor-parallel job over the file list (Hudi's bloom-index tag
    * step) — the per-file work is identical. */
  def readWhereEquals(colName: String, value: Any): DataFrame = {
    val (cand, _, _) = candidateFilesEquals(colName, value)
    val (_, schema, _) = snapshot(None)
    val df = readFileEntries(cand, schema)
    val pruned = aliasName.fold(df)(df.alias)
    pruned.filter(col(colName) === lit(value))
  }

  /** Candidate files for `colName == value`.
    * @return (candidates after stats+bloom, count after stats only,
    *         total live files) — the two counts let callers (and specs)
    *         attribute pruning to stats vs bloom. */
  private[tables] def candidateFilesEquals(colName: String,
                                           value: Any): (Seq[FileEntry], Int, Int) = {
    val (files, tableSchema, _) = snapshot(None)
    val dt = tableSchema.fields.find(_.name == colName).map(_.dataType)
    val statsCand = files.filter(fe => fileOverlaps(fe, colName, value, value, dt))
    val cand = dt match {
      case Some(t) if bloomColumns.contains(colName) =>
        statsCand.filter(fe => bloomMightContain(fe, colName, value, t).getOrElse(true))
      case _ => statsCand
    }
    (cand, statsCand.size, files.size)
  }

  /** Probe one file's parquet bloom filter(s) for `value`. Some(false) ⇒
    * provably absent (every row group has a bloom and none matches);
    * Some(true) ⇒ possibly present; None ⇒ undecidable (no bloom on some
    * row group, unsupported type, IO failure) — caller must keep the
    * file. The hash must match the column's parquet PHYSICAL type, so the
    * value is converted under the declared table type (timestamps are
    * written TIMESTAMP_MICROS by [[writeFiles]] ⇒ int64 micros). */
  private def bloomMightContain(fe: FileEntry, colName: String, value: Any,
                                dt: DataType): Option[Boolean] =
    try {
      import scala.jdk.CollectionConverters._
      import org.apache.spark.sql.types._
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new Path(dataDir, fe.path), spark.sparkContext.hadoopConfiguration)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var any = false
        for (block <- reader.getFooter.getBlocks.asScala) {
          val chunk = block.getColumns.asScala
            .find(c => c.getPath.size == 1 && c.getPath.toDotString == colName)
            .getOrElse(return None)
          val bf = reader.getBloomFilterDataReader(block).readBloomFilter(chunk)
          if (bf == null) return None
          val hash = dt match {
            case ByteType | ShortType | IntegerType =>
              bf.hash(value.toString.trim.toDouble.toInt)
            case LongType => bf.hash(value.toString.trim.toDouble.toLong)
            case FloatType => bf.hash(value.toString.trim.toFloat)
            case DoubleType => bf.hash(value.toString.trim.toDouble)
            case StringType =>
              bf.hash(org.apache.parquet.io.api.Binary.fromString(value.toString))
            case DateType => bf.hash(boundDate(value).toEpochDay.toInt)
            case TimestampType | TimestampNTZType => bf.hash(boundMicros(value))
            case _ => return None
          }
          if (bf.findHash(hash)) any = true
        }
        Some(any)
      } finally reader.close()
    } catch { case scala.util.control.NonFatal(_) => None }

  // -------------------------------------------------------- maintenance --

  /** Bin-pack small files (OPTIMIZE): partitions accumulating many
    * sub-`targetBytes` files — the natural debris of per-batch MERGEs —
    * are rewritten into ~targetBytes files and committed as one
    * remove+add version. Data is byte-identical; only layout changes.
    * Essential at scale: a daily-merged 100 TB table otherwise degrades
    * into millions of tiny scans.
    *
    * With `clusterBy`, rewritten data is range-partitioned and sorted on
    * those columns: each output file then covers a TIGHT min/max range on
    * the LEADING column, which is what makes footer-stats skipping
    * ([[readWhereBetween]]) and merge-target pruning bite on non-partition
    * columns. A linear sort leaves trailing columns' per-file ranges wide.
    *
    * With `zOrderBy` (mutually exclusive), files are laid out along a
    * Z-order space-filling curve over ALL the given columns (Delta's
    * OPTIMIZE ZORDER): each file covers a hypercube-ish tile, so stats
    * pruning bites on EVERY z column, not just the first. Equal-width
    * bucketing (one bounded min/max agg, then bit interleaving — all
    * codegen'd expressions); heavy value skew degrades tiles toward the
    * linear layout but never affects correctness.
    * @return number of files compacted away (0 = nothing to do) */
  def compact(targetBytes: Long = 128L * 1024 * 1024,
              clusterBy: Seq[String] = Seq.empty,
              zOrderBy: Seq[String] = Seq.empty): Int = withCommitRetry {
    require(clusterBy.isEmpty || zOrderBy.isEmpty,
      "clusterBy and zOrderBy are mutually exclusive")
    val (pinnedV, files, tableSchema, partCols) = pinnedSnapshot()
    // only partitions with 2+ small files benefit — unless clustering was
    // requested, which re-sorts every small file even alone in its partition
    val reSort = clusterBy.nonEmpty || zOrderBy.nonEmpty
    val byPartition = files.groupBy(_.partitionValues)
    // bin-packing selects only small files (rewriting a full-size file to
    // produce another full-size file is wasted IO); a clustering rewrite
    // selects EVERY file — the point is the global layout, and a large
    // unsorted file left in place would keep its wide per-file ranges
    // (Delta's OPTIMIZE ZORDER rewrites all selected partitions too)
    val toCompact = byPartition.values
      .map(fs => if (reSort) fs else fs.filter(_.sizeBytes < targetBytes))
      .filter(fs => fs.size >= 2 || (reSort && fs.nonEmpty))
      .flatten.toSeq
    if (toCompact.isEmpty) return 0
    val totalBytes = toCompact.map(_.sizeBytes).sum
    val nOut = math.max(1, math.ceil(totalBytes.toDouble / targetBytes).toInt)
    val df = readFileEntries(toCompact, tableSchema)
    val packed =
      if (zOrderBy.nonEmpty) {
        val ZKey = "__graft_zkey"
        val keyed = df.withColumn(ZKey, zOrderKey(df, zOrderBy, tableSchema))
        keyed.repartitionByRange(nOut, (partCols.map(col) :+ col(ZKey)): _*)
          .sortWithinPartitions((partCols.map(col) :+ col(ZKey)): _*)
          .drop(ZKey) // projection after the sort — order survives, schema doesn't change
      } else if (clusterBy.nonEmpty)
        df.repartitionByRange(nOut, (partCols ++ clusterBy).map(col): _*)
          .sortWithinPartitions((partCols ++ clusterBy).map(col): _*)
      else if (partCols.nonEmpty) df.repartition(nOut, partCols.map(col): _*)
      else df.repartition(nOut)
    val added = writeFiles(packed, partCols)
    commitOrClean(LogEntry(pinnedV + 1, now(), "OPTIMIZE",
      tableSchema.json, partCols, added, toCompact.map(_.path),
      Map("numFilesRemoved" -> toCompact.size.toString,
        "numFilesAdded" -> added.size.toString,
        "bytesCompacted" -> totalBytes.toString,
        "clusterBy" -> clusterBy.mkString(","),
        "zOrderBy" -> zOrderBy.mkString(","))), added)
    toCompact.size
  }

  /** Z-value column for [[compact]]'s `zOrderBy` layout: each column is
    * mapped to a `bits`-wide equal-width bucket between its global min and
    * max (ONE bounded agg — 2·n driver-side scalars, never row data), and
    * the bucket bits are interleaved into one long. Range-partitioning on
    * the interleaved key then yields hypercube-ish file tiles, tight on
    * every z dimension at once. NULLs and all-NULL/constant columns fold
    * to bucket 0. Numeric, date and timestamp columns only — a string
    * prefix has no fixed-width order-preserving integer form. */
  private def zOrderKey(df: DataFrame, zCols: Seq[String],
                        schema: StructType): Column = {
    import org.apache.spark.sql.types._
    val numeric: Seq[(String, Column)] = zCols.map { c =>
      val dt = schema.fields.find(_.name == c).getOrElse(throw new IllegalArgumentException(
        s"zOrderBy column $c is not in the table schema")).dataType
      val d = dt match {
        case ByteType | ShortType | IntegerType | LongType |
             FloatType | DoubleType | _: DecimalType => col(c).cast(DoubleType)
        case DateType => unix_date(col(c)).cast(DoubleType)
        case TimestampType | TimestampNTZType => unix_micros(col(c)).cast(DoubleType)
        case other => throw new IllegalArgumentException(
          s"zOrderBy supports numeric/date/timestamp columns; $c is $other")
      }
      c -> d
    }
    val aggs = numeric.flatMap { case (_, d) => Seq(min(d), max(d)) }
    val bounds = df.agg(aggs.head, aggs.tail: _*).head()
    val bits = math.min(20, 62 / zCols.size)
    val buckets = 1L << bits
    val bucketCols = numeric.zipWithIndex.map { case ((_, d), i) =>
      if (bounds.isNullAt(2 * i) || bounds.getDouble(2 * i) == bounds.getDouble(2 * i + 1))
        lit(0L) // all-NULL or constant column carries no information
      else {
        val (lo, hi) = (bounds.getDouble(2 * i), bounds.getDouble(2 * i + 1))
        // width_bucket: [lo,hi) → 1..buckets, hi itself → buckets+1; shift
        // to 0-based and clamp the max-value row into the top bucket
        least(lit(buckets - 1), greatest(lit(0L),
          coalesce(width_bucket(d, lit(lo), lit(hi), lit(buckets)), lit(1L)) - 1))
      }
    }
    val terms = for {
      b <- 0 until bits
      (bc, i) <- bucketCols.zipWithIndex
    } yield shiftleft(shiftright(bc, b).bitwiseAND(lit(1L)), b * zCols.size + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Delete data files no longer referenced by any of the last
    * `retainVersions` snapshots (VACUUM): merge/compaction leave removed
    * files on disk for time travel; vacuum reclaims them. Time travel to
    * versions older than the retained window stops working afterwards —
    * the same contract as Delta's VACUUM retention.
    * @return number of files deleted */
  def vacuum(retainVersions: Int = 2): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val (commits, _) = listLog()
    if (commits.isEmpty) return 0
    val retained = commits.map(_._1).takeRight(retainVersions)
    // dv sidecars live under data/_dv/ — referenced ones are as live as
    // the data files themselves; unreferenced ones get reclaimed here
    val live: Set[String] = retained
      .flatMap(v => snapshot(Some(v))._1.flatMap(fe => fe.path +: fe.dv)).toSet
    val f = fs
    if (!f.exists(dataDir)) return 0
    var deleted = 0
    def walk(dir: Path, rel: String): Unit =
      f.listStatus(dir).foreach { st =>
        val name = st.getPath.getName
        val relPath = if (rel.isEmpty) name else s"$rel/$name"
        if (st.isDirectory) {
          walk(st.getPath, relPath)
          if (f.listStatus(st.getPath).isEmpty) f.delete(st.getPath, false)
        } else if (name.endsWith(".parquet") && !live.contains(relPath)) {
          if (f.delete(st.getPath, false)) deleted += 1
        }
      }
    walk(dataDir, "")
    deleted
  }

  /** Truncate the commit log: delete commit JSONs and checkpoints older
    * than the newest checkpoint that still covers `retainVersions` of
    * history — Delta's metadata-cleanup analog (`delta.logRetention`),
    * so a long-lived table (streaming sink, frequent small merges) keeps
    * a BOUNDED log dir instead of growing one JSON per commit forever.
    * The anchor checkpoint and everything after it are untouched, so
    * reads, time travel at/above the truncation point, txn watermarks
    * and CDC over the surviving range all keep working; time travel
    * BELOW it stops (as in Delta after metadata cleanup). Returns the
    * number of files deleted; 0 when no checkpoint old enough exists. */
  def cleanLog(retainVersions: Int = 2 * CheckpointInterval.toInt): Int = {
    require(retainVersions >= 1, "must retain at least the current version")
    val f = fs
    val (commits, cps) = listLog()
    if (commits.isEmpty) return 0
    val floor = commits.last._1 - retainVersions + 1
    // The anchor must PROVE it can replace the commits being deleted:
    // parse it now (deleting history below an unreadable checkpoint
    // bricks the table) and require the folded txns map (a legacy
    // pre-txns checkpoint would permanently destroy every watermark
    // whose only record is a commit below it — wait one more checkpoint,
    // which self-heals the map, then truncate).
    val base = cps.filter(_._1 <= floor).lastOption
      .filter { case (_, p) =>
        try parseCheckpoint(readFully(f, p)).txns.isDefined
        catch { case scala.util.control.NonFatal(_) => false }
      }
      .map(_._1) match {
      case None => return 0 // no safe anchor below the floor — drop nothing
      case Some(v) => v
    }
    var deleted = 0
    commits.filter(_._1 < base).foreach { case (_, p) =>
      if (f.delete(p, false)) deleted += 1
    }
    cps.filter(_._1 < base).foreach { case (_, p) =>
      if (f.delete(p, false)) deleted += 1
    }
    deleted
  }

  /** Conservative per-column bounds implied by a DML predicate's
    * top-level conjuncts, for stats-based file skipping: `c = 5` ⇒ [5,5],
    * `c > 5 AND c <= 9` ⇒ [5,9] (inequality edges kept inclusive — stats
    * pruning may only over-approximate), `c IN (…literals)` ⇒ [min,max].
    * Any shape it doesn't recognize (OR at the top, casts, functions,
    * non-literal operands) contributes nothing; a parse failure returns
    * no bounds at all — pruning is an optimization, never a guess. */
  private def predicateBounds(condition: String): Seq[(String, Any, Any)] = {
    import org.apache.spark.sql.catalyst.CatalystTypeConverters
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo,
      Expression => CExpr, GreaterThan, GreaterThanOrEqual, In, LessThan,
      LessThanOrEqual, Literal => CLit}
    def conjunctsOf(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
      case other => Seq(other)
    }
    def colOf(e: CExpr): Option[String] = e match {
      case UnresolvedAttribute(Seq(c)) => Some(c)
      case _ => None
    }
    def valOf(e: CExpr): Option[Any] = e match {
      case CLit(v, dt) if v != null =>
        Some(CatalystTypeConverters.convertToScala(v, dt))
      case _ => None
    }
    try {
      conjunctsOf(spark.sessionState.sqlParser.parseExpression(condition))
        .flatMap {
          case EqualTo(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, v, v) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, v, v) }
          case GreaterThan(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, v, null) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, null, v) }
          case GreaterThanOrEqual(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, v, null) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, null, v) }
          case LessThan(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, null, v) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, v, null) }
          case LessThanOrEqual(a, b) =>
            colOf(a).zip(valOf(b)).map { case (c, v) => (c, null, v) } ++
              colOf(b).zip(valOf(a)).map { case (c, v) => (c, v, null) }
          case In(a, list) if list.nonEmpty =>
            val vs = list.map(valOf)
            colOf(a).filter(_ => vs.forall(_.isDefined)).map { c =>
              val sorted = vs.flatten
              (c, sorted.reduceLeft((x, y) => if (ordered(x.toString, y.toString)) x else y),
                sorted.reduceLeft((x, y) => if (ordered(x.toString, y.toString)) y else x))
            }
          case _ => Seq.empty
        }
    } catch { case scala.util.control.NonFatal(_) => Seq.empty }
  }

  /** Stats+bloom candidate files for a DML predicate: a file survives
    * only if EVERY recognized conjunct bound overlaps its footer stats
    * (an open-ended bound checks one edge), and — for equality bounds on
    * a declared bloom column — its bloom filter might contain the value.
    * Files skipped here provably contain no matching row, so DELETE /
    * UPDATE never read them. */
  private def dmlCandidates(files: Seq[FileEntry], tableSchema: StructType,
                            condition: String): Seq[FileEntry] = {
    val bounds = predicateBounds(condition)
    if (bounds.isEmpty) files
    else files.filter { fe =>
      bounds.forall { case (c, lo, hi) =>
        val dt = tableSchema.fields.find(_.name == c).map(_.dataType)
        val statsOk = (lo, hi) match {
          case (null, null) => true
          case (l, null) => fileOverlapsAbove(fe, c, l, dt)
          case (null, h) => fileOverlapsBelow(fe, c, h, dt)
          case (l, h) => fileOverlaps(fe, c, l, h, dt)
        }
        statsOk && ((lo, hi, dt) match {
          case (l, h, Some(t)) if l != null && l == h && bloomColumns.contains(c) =>
            bloomMightContain(fe, c, l, t).getOrElse(true)
          case _ => true
        })
      }
    }
  }

  /** Can `fe` contain rows with `colName >= lo`? (max >= lo, conservative) */
  private def fileOverlapsAbove(fe: FileEntry, colName: String, lo: Any,
                                dt: Option[DataType]): Boolean =
    fe.stats.flatMap(_.get(colName)) match {
      case Some(s) if !s.hasMinMax => false // all NULL never matches
      case Some(s) => dt.forall(t => cmpTyped(s.max, lo, t).forall(_ >= 0))
      case None => true
    }

  /** Can `fe` contain rows with `colName <= hi`? (min <= hi, conservative) */
  private def fileOverlapsBelow(fe: FileEntry, colName: String, hi: Any,
                                dt: Option[DataType]): Boolean =
    fe.stats.flatMap(_.get(colName)) match {
      case Some(s) if !s.hasMinMax => false
      case Some(s) => dt.forall(t => cmpTyped(s.min, hi, t).forall(_ <= 0))
      case None => true
    }

  // ------------------------------------------------------------- delete --

  /** DELETE rows matching `condition` (bare column names — the predicate
    * is evaluated on the table's own schema, no alias).
    *
    * Two physical strategies, same logical result:
    *  - `deletionVectors = false` (default): files containing matched rows
    *    are rewritten without them — Delta's classic DELETE. Cost scales
    *    with the SIZE of the touched files, even when the match is 1 row.
    *  - `deletionVectors = true`: matched (file, row-index) pairs are
    *    written to a tiny parquet sidecar under `data/_dv/` and the
    *    touched entries re-committed pointing at it — no data file is
    *    read-rewritten, so cost scales with the NUMBER of deleted rows.
    *    On a 100 TB table, deleting a user's rows for a takedown request
    *    becomes a sidecar write instead of a multi-TB rewrite. Readers
    *    apply the sidecar as a broadcast anti-join (see
    *    [[readFileEntries]]); the next merge/compact touching a file
    *    rewrites it clean and drops its vector, and [[vacuum]] reclaims
    *    unreferenced sidecars. DVs are for SMALL deletions by contract —
    *    a delete matching most of the table should rewrite instead.
    *
    * Either way the probe is ONE job over the predicate's stats/bloom
    * candidate files — recognized conjunct bounds (`=`, `<`, `<=`, `>`,
    * `>=`, `IN`) skip files whose footer stats (and bloom filters, for
    * equality on a declared bloom column) prove no match, so a point
    * delete on a clustered table reads candidates, not the table. The
    * scan is DV-applied (re-deleting an already-dead row is a no-op) and
    * yields exact per-file counts; files without matches are never read
    * again. A delete matching nothing commits nothing.
    * @return number of rows deleted */
  def delete(condition: String, deletionVectors: Boolean = false): Long =
    withCommitRetry {
      val (pinnedV, files, tableSchema, partCols) = pinnedSnapshot()
      if (files.isEmpty) return 0L
      // stats/bloom skipping bounds the probe itself: a point delete on a
      // clustered or bloomed table reads candidate files, not the table
      val cand = dmlCandidates(files, tableSchema, condition)
      val statsSkipped = files.size - cand.size
      val matched = readFileEntries(cand, tableSchema, keepMeta = true)
        .filter(expr(condition))
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val perFile = matched.groupBy(col(FileCol))
          .agg(count(lit(1)).as("__graft_n")).collect()
        if (perFile.isEmpty) return 0L
        val qualify = files.map(fe =>
          fs.makeQualified(new Path(dataDir, fe.path)).toString -> fe.path).toMap
        val known = files.map(_.path).toSet
        val relCounts: Map[String, Long] = perFile.map(r =>
          relativize(r.getString(0), qualify, known) -> r.getLong(1)).toMap
        val deleted = relCounts.values.sum
        val touched = files.filter(fe => relCounts.contains(fe.path))
        val metrics = Map(
          "numDeletedRows" -> deleted.toString,
          "numTouchedFiles" -> touched.size.toString,
          "numFilesUntouched" -> (files.size - touched.size).toString,
          "numFilesSkippedByStats" -> statsSkipped.toString,
          "deletionVectors" -> deletionVectors.toString)
        if (deletionVectors) {
          // remap the scan's qualified paths to log-relative ones through
          // a broadcast of the probe's OWN validated keys — the join can
          // never miss, the strings come from the same scan
          val lookup = spark.createDataFrame(
            java.util.Arrays.asList(perFile.map(r => org.apache.spark.sql.Row(
              r.getString(0),
              relativize(r.getString(0), qualify, known))): _*),
            StructType(Seq(StructField(FileCol, StringType),
              StructField("file", StringType))))
          val dvName = s"_dv/${UUID.randomUUID()}"
          val dvDir = new Path(dataDir, dvName)
          matched.select(col(FileCol), col(RowIdxCol))
            .join(broadcast(lookup), FileCol)
            .select(col("file"), col(RowIdxCol).as("row_idx"))
            .write.parquet(dvDir.toString)
          val f = fs
          val sidecars = f.listStatus(dvDir).map(_.getPath.getName)
            .filter(_.endsWith(".parquet")).sorted
            .map(n => s"$dvName/$n").toSeq
          val updated = touched.map(fe => fe.copy(
            dv = fe.dv ++ sidecars, dvRows = fe.dvRows + relCounts(fe.path)))
          // add-with-same-path REPLACES the entry on replay — the data
          // file stays live, only its DV reference set changes
          try commit(LogEntry(pinnedV + 1, now(), "DELETE",
            tableSchema.json, partCols, updated, Seq.empty, metrics))
          catch {
            case e: ConcurrentCommitException =>
              f.delete(dvDir, true); throw e
          }
        } else {
          // NULL-condition rows are kept — exactly the rows the probe's
          // filter(condition) did not match
          val keep = readFileEntries(touched, tableSchema)
            .filter(!coalesce(expr(condition), lit(false)))
          val added = writeFiles(keep, partCols)
          commitOrClean(LogEntry(pinnedV + 1, now(), "DELETE",
            tableSchema.json, partCols, added, touched.map(_.path),
            metrics ++ Map(
              "numTargetFilesAdded" -> added.size.toString,
              "numTargetFilesRemoved" -> touched.size.toString)), added)
        }
        deleted
      } finally matched.unpersist(false)
    }

  // ------------------------------------------------------------- update --

  /** UPDATE rows matching `condition`: `set` maps column name → SQL
    * expression (bare column names on both — evaluated on the table's own
    * schema). Same bounded-work shape as [[delete]]: ONE DV-applied probe
    * job over the predicate's stats/bloom candidate files finds the files
    * containing matched rows and their exact per-file counts; only those
    * files are rewritten (matched rows transformed, neighbors copied),
    * everything else is carried by reference. Rows
    * whose condition evaluates NULL are not matched — same as the probe's
    * filter. A rewrite of a DV'd file applies the vector first and drops
    * it. An update matching nothing commits nothing.
    * @return number of rows updated */
  def update(condition: String, set: Map[String, String]): Long =
    withCommitRetry {
      val (pinnedV, files, tableSchema, partCols) = pinnedSnapshot()
      if (files.isEmpty) return 0L
      val unknown = set.keySet.filterNot(tableSchema.fieldNames.contains)
      require(unknown.isEmpty, s"update sets unknown column(s): ${unknown.mkString(", ")}")
      val cand = dmlCandidates(files, tableSchema, condition)
      val statsSkipped = files.size - cand.size
      val perFile = readFileEntries(cand, tableSchema, keepMeta = true)
        .filter(expr(condition))
        .groupBy(col(FileCol)).agg(count(lit(1)).as("__graft_n")).collect()
      if (perFile.isEmpty) return 0L
      val qualify = files.map(fe =>
        fs.makeQualified(new Path(dataDir, fe.path)).toString -> fe.path).toMap
      val known = files.map(_.path).toSet
      val relCounts: Map[String, Long] = perFile.map(r =>
        relativize(r.getString(0), qualify, known) -> r.getLong(1)).toMap
      val updatedRows = relCounts.values.sum
      val touched = files.filter(fe => relCounts.contains(fe.path))
      val cond = coalesce(expr(condition), lit(false))
      val out = tableSchema.fields.toSeq.map { f =>
        set.get(f.name)
          .map(e => when(cond, expr(e).cast(f.dataType)).otherwise(col(f.name)))
          .getOrElse(col(f.name)).as(f.name)
      }
      val rewritten = readFileEntries(touched, tableSchema).select(out: _*)
      val added = writeFiles(rewritten, partCols)
      commitOrClean(LogEntry(pinnedV + 1, now(), "UPDATE",
        tableSchema.json, partCols, added, touched.map(_.path),
        Map(
          "numUpdatedRows" -> updatedRows.toString,
          "numTouchedFiles" -> touched.size.toString,
          "numFilesUntouched" -> (files.size - touched.size).toString,
          "numFilesSkippedByStats" -> statsSkipped.toString,
          "numTargetFilesAdded" -> added.size.toString,
          "numTargetFilesRemoved" -> touched.size.toString)), added)
      updatedRows
    }

  // -------------------------------------------------------------- merge --

  /** Delta-style MERGE builder (reference API usage:
    * src/header_etl.py:205-215,253-280; src/items_etl.py:114-143). */
  def merge(source: DataFrame, condition: String): MergeBuilder =
    new MergeBuilder(this, aliasName.getOrElse("existing"), source, condition)

  /** Runs one MERGE and returns the `operationMetrics` its commit
    * recorded: the row/file counts plus the strategy decisions
    * (`sourcePersisted`, `sourceBroadcast`, `cardinalityCheck`, and
    * `rewriteJoinType` on rewriting merges), so `history()` is the audit
    * trail of every merge's plan choices. */
  private[tables] def executeMerge(targetAlias: String,
                                   source: DataFrame,
                                   condition: String,
                                   matchedUpdate: Option[(Option[String], Map[String, String])],
                                   notMatchedInsert: Option[(Option[String], Map[String, String])],
                                   matchedDelete: Option[Option[String]] = None,
                                   deleteFirst: Boolean = false,
                                   schemaEvolution: Boolean = false): Map[String, String] = {
    // The source is consumed 2-3 times (stats/cardinality agg, file-prune
    // join, then the rewrite or anti join) — persist it so the lineage
    // runs once. This is the merge's ONE persist decision, taken on the
    // plan ABOVE the caller's caches (guide §5: caching competes with
    // execution memory): only a join/aggregate/window/generate there is
    // worth a second materialization (Distinct, Deduplicate, Intersect and
    // Except are the pre-optimizer forms of aggregates and joins, so they
    // count too). SCD2 merge sources typically are
    // one — a join/aggregate over the target table itself (the header
    // job's Phase-A first-change frame, the items job's staged union).
    // A projection over the caller's already-cached batch (the header
    // job's Phase-B staging) is replayed instead of copied: its analyzed
    // plan still shows the Window under the cache, its cached-data plan
    // does not. Non-deterministic sources are persisted regardless of
    // shape: re-evaluating one across the probe/rewrite passes would let
    // the probe and the rewrite see DIFFERENT rows. The retry loop sits
    // INSIDE the persist scope (a CAS-losing merge re-runs on the cached
    // source), and try/finally releases the cache on every exit path.
    val persist = source.storageLevel == StorageLevel.NONE && {
      import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Deduplicate, Distinct,
        Generate, Join, SetOperation, Window => LWindow}
      source.queryExecution.withCachedData.exists {
        case _: Join | _: Aggregate | _: LWindow | _: Generate |
             _: Distinct | _: Deduplicate | _: SetOperation => true
        case other => !other.deterministic
      }
    }
    val src = if (persist) source.persist(StorageLevel.MEMORY_AND_DISK) else source
    try withCommitRetry {
      mergeBody(targetAlias, src, persist, condition, matchedUpdate, notMatchedInsert,
        matchedDelete, deleteFirst, schemaEvolution)
    } finally if (persist) src.unpersist(false)
  }

  /** Simple conjunctive equi-predicates `targetAlias.col = <srcExpr>`
    * (either side) extracted from a merge condition, for stats-based
    * target pruning and the merge-cardinality fast path. Implemented as a
    * walk over the PARSED Catalyst expression tree (not string surgery):
    * the condition is split on `And` nodes, and each `EqualTo` conjunct
    * qualifies when exactly one side is a plain `targetAlias.col`
    * attribute and the other side references no target attribute at all —
    * so parenthesization, function-wrapped source expressions, and
    * whitespace never change the answer. Conservative on every other
    * shape (Or, inequalities, null-safe `<=>`, unparseable input):
    * pruning is an optimization and must never guess.
    * @return (pairs, pure) — `pure` is true iff EVERY conjunct parsed as
    *         such an equi-predicate, i.e. the pairs fully characterize
    *         the join condition */
  private[tables] def equiPairs(condition: String, targetAlias: String): (Seq[(String, String)], Boolean) = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.expressions.{And => CAnd, EqualTo, Expression => CExpr}
    def conjunctsOf(e: CExpr): Seq[CExpr] = e match {
      case CAnd(l, r) => conjunctsOf(l) ++ conjunctsOf(r)
      case other => Seq(other)
    }
    def targetCol(e: CExpr): Option[String] = e match {
      case UnresolvedAttribute(Seq(q, c)) if q.equalsIgnoreCase(targetAlias) => Some(c)
      case _ => None
    }
    def referencesTarget(e: CExpr): Boolean = e.exists {
      case UnresolvedAttribute(parts) =>
        parts.length >= 2 && parts.head.equalsIgnoreCase(targetAlias)
      case _ => false
    }
    try {
      val tree = spark.sessionState.sqlParser.parseExpression(condition)
      val parsed = conjunctsOf(tree).map {
        case EqualTo(l, r) =>
          (targetCol(l), targetCol(r)) match {
            case (Some(c), None) if !referencesTarget(r) => Some(c -> r.sql)
            case (None, Some(c)) if !referencesTarget(l) => Some(c -> l.sql)
            case _ => None
          }
        case _ => None
      }
      (parsed.flatten, parsed.forall(_.isDefined) && parsed.nonEmpty)
    } catch { case scala.util.control.NonFatal(_) => (Seq.empty, false) }
  }

  /** Read a specific live-file subset with the table schema, applying any
    * deletion vectors the entries carry. `keepMeta=true` additionally
    * exposes [[VersionedTable.FileCol]] (the file's `_metadata.file_path`)
    * and [[VersionedTable.RowIdxCol]] (`_metadata.row_index`) as regular
    * columns — callers that need row identity (the merge probe) must take
    * them from here, because once the DV anti-join has run, `_metadata`
    * itself no longer resolves on the returned plan.
    *
    * DV application is a LEFT ANTI join against the union of the scanned
    * entries' sidecars on (relative path, row index), with the sidecar
    * side broadcast — deletion vectors are tiny by contract (a delete
    * touching most rows should rewrite instead). Entries without DVs pay
    * nothing: the fast path is byte-identical to a plain parquet scan, so
    * existing plans (pushdown, pruning, codegen) are unchanged. The
    * relative path on the scan side is `file_path` minus the qualified
    * data-dir prefix — the same invariant [[relativize]] (and thus MERGE
    * correctness) already rests on. */
  private def readFileEntries(entries: Seq[FileEntry], tableSchema: StructType,
                              keepMeta: Boolean = false): DataFrame = {
    if (entries.isEmpty) {
      // keepMeta callers (DML probes) group on the file-identity columns
      // even when pruning left zero candidates — the empty frame must
      // still carry them
      val sch = if (!keepMeta) tableSchema
        else StructType(tableSchema.fields ++ Seq(
          StructField(FileCol, StringType, nullable = true),
          StructField(RowIdxCol, LongType, nullable = true)))
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
    }
    // A shallow clone's entries reference files OUTSIDE this table's data
    // dir by qualified URI. Each scan's basePath must be an ancestor of
    // every file it lists (and anchor hive partition-dir inference even
    // when all listed files share one partition value), so entries are
    // grouped by their owning data root — recovered for absolute paths by
    // stripping the filename plus one component per partition level — and
    // scanned per group, unioned. Local tables stay a single scan.
    def ownerBase(fe: FileEntry): String = {
      val p = new Path(fe.path)
      if (p.toUri.getScheme == null && !p.isAbsolute) dataDir.toString
      else (0 to fe.partitionValues.size).foldLeft(p)((q, _) => q.getParent).toString
    }
    val dvPaths = entries.flatMap(_.dv).distinct
    // _metadata does not propagate through a Union — project the file
    // identity columns inside each per-base scan when they're needed
    val needMeta = keepMeta || dvPaths.nonEmpty
    val base = entries.groupBy(ownerBase).toSeq.sortBy(_._1)
      .map { case (b, es) =>
        val scan = spark.read.schema(tableSchema)
          .option("basePath", b)
          .parquet(es.map(fe => new Path(dataDir, fe.path).toString): _*)
        if (!needMeta) scan
        else scan
          .withColumn(FileCol, col("_metadata.file_path"))
          .withColumn(RowIdxCol, col("_metadata.row_index"))
          .drop("_metadata")
      }.reduce(_ unionByName _)
    if (dvPaths.isEmpty && !keepMeta) base
    else {
      val withMeta = base
      val applied =
        if (dvPaths.isEmpty) withMeta
        else {
          val prefix = fs.makeQualified(dataDir).toString + "/"
          val dv = spark.read.schema(DvSchema)
            .parquet(dvPaths.map(p => new Path(dataDir, p).toString): _*)
          // log-relative for files under this table's data dir; for
          // entries referencing files OUTSIDE it (a shallow clone), the
          // log path IS the qualified URI, so the raw scan path matches
          val rel = when(col(FileCol).startsWith(prefix),
            substring(col(FileCol), prefix.length + 1, Int.MaxValue))
            .otherwise(col(FileCol))
          withMeta.join(broadcast(dv),
            rel === dv("file") && col(RowIdxCol) === dv("row_idx"),
            "left_anti")
        }
      if (keepMeta) applied else applied.drop(FileCol, RowIdxCol)
    }
  }

  private def mergeBody(targetAlias: String,
                        src: DataFrame,
                        sourcePersisted: Boolean,
                        condition: String,
                        matchedUpdate: Option[(Option[String], Map[String, String])],
                        notMatchedInsert: Option[(Option[String], Map[String, String])],
                        matchedDelete: Option[Option[String]],
                        deleteFirst: Boolean,
                        schemaEvolution: Boolean): Map[String, String] = {
    val (pinnedV, files, baseSchema, partCols) = pinnedSnapshot()
    // Merge-time schema evolution (the reference's autoMerge case,
    // notes.md:102-105; Delta's spark.databricks.delta.schema.autoMerge):
    // columns ASSIGNED by an update/insert clause but absent from the
    // target become new nullable columns. Their type is resolved against
    // the SOURCE frame (the documented contract — a new column's value
    // comes from the batch that introduces it). The evolved schema rides
    // this commit; untouched files are carried by reference and read the
    // new column as NULL — evolving a 100 TB table rewrites nothing extra.
    val evolvedCols: Seq[StructField] =
      if (!schemaEvolution) Seq.empty
      else {
        val assigned = (matchedUpdate.map(_._2).getOrElse(Map.empty) ++
          notMatchedInsert.map(_._2).getOrElse(Map.empty)).toSeq
        assigned
          .filterNot { case (n, _) => baseSchema.fieldNames.exists(_.equalsIgnoreCase(n)) }
          .map { case (n, e) =>
            val dt = try src.select(expr(e)).schema.head.dataType
            catch {
              case scala.util.control.NonFatal(ex) => throw new IllegalArgumentException(
                s"schema evolution: the assignment for new column '$n' ($e) " +
                  "must resolve against the source frame", ex)
            }
            StructField(n, dt, nullable = true)
          }
      }
    val tableSchema =
      if (evolvedCols.isEmpty) baseSchema
      else StructType(baseSchema.fields ++ evolvedCols)
    val dataCols = tableSchema.fields.toSeq

    // --- stats pruning + cardinality fast path: ONE source-side agg -----
    // For each conjunctive equi-key, the agg computes its min/max — files
    // whose footer stats don't overlap EVERY key range cannot contain
    // matched rows and are skipped by both the insert-only anti-join and
    // the touched-file probe (the same role Delta's file stats play in
    // MERGE). When the condition is a PURE equi-conjunction, the same agg
    // also checks whether the source keys are unique: if they are, no
    // target row can possibly be matched by two source rows, so the
    // per-target-row cardinality grouping in the probe is provably
    // unnecessary (the common case — e.g. a deduped batch). Conservative
    // on every failure path: unknown shapes prune nothing and keep the
    // exact check.
    val (pairs, pureEqui) = equiPairs(condition, targetAlias)
    // no matched-update/delete clause (e.g. the header job's Phase B):
    // the insert-only fast path below
    val anyMatchedClause = matchedUpdate.isDefined || matchedDelete.isDefined
    val insertOnly = !anyMatchedClause && notMatchedInsert.isDefined
    // ≤2 files: the min/max agg costs more than scanning them
    val wantStats = pairs.nonEmpty && files.size > 2
    // Key uniqueness FROM THE PLAN, before paying any job for it: a source
    // whose optimized plan is an Aggregate grouped exactly by (a subset
    // of) the join-key attributes is unique on those keys by construction
    // (groupBy output has one row per grouping-key tuple; if every
    // grouping column is a join key, two source rows can never share the
    // full key). The canonical SCD2 close source — groupBy(key).agg(min)
    // — hits this, which previously paid a countDistinct whose partial-
    // distinct plan adds two exchanges to the stats agg. Conservative:
    // any other plan shape (projections that could duplicate, unions,
    // joins) falls through to the measured check.
    def keysUniqueByPlan: Boolean =
      pureEqui && pairs.nonEmpty && {
        import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
        import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeSet}
        import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, Project, SubqueryAlias}
        try {
          // walk through alias/key-preserving-projection wrappers down to
          // an Aggregate; only identity column mappings are followed
          def dig(p: LogicalPlan, keys: AttributeSet): Boolean = p match {
            case SubqueryAlias(_, child) => dig(child, keys)
            case Project(projList, child) =>
              val mapped = projList.collect {
                case a: Attribute if keys.contains(a) => a
                case al @ Alias(c: Attribute, _) if keys.contains(al.toAttribute) => c
              }
              mapped.size == keys.size && dig(child, AttributeSet(mapped))
            case agg: Aggregate =>
              val groupAttrs = agg.groupingExpressions.flatMap {
                case a: Attribute => Some(a)
                case _ => None
              }
              // every grouping expression must be a plain attribute AND a
              // join key: then key tuples are exactly the grouping tuples
              agg.groupingExpressions.nonEmpty &&
                groupAttrs.size == agg.groupingExpressions.size &&
                groupAttrs.forall(keys.contains)
            case _ => false
          }
          val analyzed = src.queryExecution.analyzed
          // source-side key column names: parse each pair's source sql
          // (possibly alias-qualified / backquoted) back to its last part
          val keyNames = pairs.flatMap { case (_, sexpr) =>
            spark.sessionState.sqlParser.parseExpression(sexpr) match {
              case UnresolvedAttribute(parts) => Some(parts.last)
              case _ => None // non-attribute source expr: no inference
            }
          }
          val keyAttrs = keyNames.flatMap(n =>
            analyzed.output.find(_.name.equalsIgnoreCase(n)))
          keyNames.size == pairs.size && keyAttrs.size == pairs.size &&
            dig(analyzed, AttributeSet(keyAttrs))
        } catch { case scala.util.control.NonFatal(_) => false }
      }
    // cardinality only matters on the rewrite path (insert-only merges
    // return before the probe and never rewrite matched rows). The path
    // taken is recorded as `cardinalityCheck`: `none` (insert-only),
    // `plan` (keys unique by plan), `measured` (the stats agg counted the
    // distinct keys; duplicates fall through to the probe's exact check)
    // or `probe` (exact per-target-row grouping in the probe only).
    val uniqueByPlan = !insertOnly && keysUniqueByPlan
    val wantDupCheck = anyMatchedClause && !uniqueByPlan && pureEqui && pairs.nonEmpty
    var cardinalityCheck = if (insertOnly) "none" else if (uniqueByPlan) "plan" else "probe"
    var srcKeysUnique = uniqueByPlan
    val matchCandidates: Seq[FileEntry] =
      try {
        if (!wantStats && !wantDupCheck) files
        else {
          val statAggs = if (!wantStats) Seq.empty else
            pairs.zipWithIndex.flatMap { case ((_, sexpr), i) =>
              Seq(min(expr(sexpr)).as(s"__graft_lo$i"),
                max(expr(sexpr)).as(s"__graft_hi$i"))
            }
          val keyExprs = pairs.map(p => expr(p._2))
          val dupAggs = if (!wantDupCheck) Seq.empty else Seq(
            sum(when(keyExprs.map(_.isNotNull).reduce(_ && _), 1L).otherwise(0L))
              .as("__graft_nn"),
            countDistinct(keyExprs.head, keyExprs.tail: _*).as("__graft_nd"))
          val aggs = statAggs ++ dupAggs
          val row = labeled("merge: source stats/cardinality agg") {
            src.agg(aggs.head, aggs.tail: _*).collect()(0)
          }
          if (wantDupCheck) {
            // rows with a NULL key can never equi-match a target row;
            // countDistinct skips them too, so compare against the
            // non-null-key row count
            val nn = if (row.isNullAt(statAggs.size)) 0L else row.getLong(statAggs.size)
            val nd = row.getLong(statAggs.size + 1)
            srcKeysUnique = nn == nd
            cardinalityCheck = "measured"
          }
          if (!wantStats) files
          else pairs.zipWithIndex.foldLeft(files) { case (cand, ((tcol, _), i)) =>
            val lo = row.get(i * 2)
            val hi = row.get(i * 2 + 1)
            if (lo == null || hi == null) cand
            else {
              val dt = tableSchema.fields.find(_.name == tcol).map(_.dataType)
              cand.filter(fe => fileOverlaps(fe, tcol, lo, hi, dt))
            }
          }
        }
      } catch { case scala.util.control.NonFatal(_) => files }
    val statsSkipped = files.size - matchCandidates.size

    // --- broadcast the source side of the probe/rewrite joins when its
    // MATERIALIZED (cached) size is provably small: the other side is the
    // table — at 100 TB the only sane plan ships the source to the data,
    // never the reverse (guide §3.1). The size comes from the cache's own
    // stats (exact once the stats agg above materialized it), never from
    // a pre-execution estimate; an unpersisted or unmaterialized source
    // conservatively stays un-hinted and Catalyst/AQE decides. Full-outer
    // rewrites (update+insert merges) are excluded below — broadcast hash
    // join does not support full-outer and the hint would be dead weight.
    // The cached state is read off the frame itself (a caller-persisted
    // source qualifies too). LAZY: forced only inside maybeBroadcast,
    // i.e. strictly after the stats/cardinality agg above ran its collect
    // and filled the cache, so the InMemoryRelation stats read here are
    // the exact materialized bytes (on the no-stats ≤2-file path the
    // cache may be cold and this reads the estimate — a ≤2-file table is
    // fixture scale, where either join strategy is fine). The stats come
    // from a FRESH plan of the source: its own QueryExecution may have
    // resolved its cached-data plan before the persist (executeMerge's
    // guard does exactly that) and would never show the cache.
    lazy val srcSmall = src.storageLevel != StorageLevel.NONE && (try {
      spark.sessionState.executePlan(src.queryExecution.logical)
        .optimizedPlan.stats.sizeInBytes <= MergeBroadcastBytes
    } catch { case scala.util.control.NonFatal(_) => false })
    var sourceBroadcast = false
    def maybeBroadcast(df: DataFrame): DataFrame =
      if (srcSmall) { sourceBroadcast = true; broadcast(df) } else df
    def decisions = Map(
      "sourcePersisted" -> sourcePersisted.toString,
      "sourceBroadcast" -> sourceBroadcast.toString,
      "cardinalityCheck" -> cardinalityCheck)

    // --- fast path: insert-only merge rewrites NOTHING ------------------
    // Matched target rows are untouched by definition, so the merge
    // reduces to appending the source rows that match no target row: one
    // left-anti join + write of new files. No touched-file collect, no
    // full-outer rewrite of files whose rows would only be copied.
    // (At 10M rows this halves the merge phase; Delta special-cases
    // insert-only merges the same way.)
    if (insertOnly) {
      val (insCondOpt, insVals) = notMatchedInsert.get
      // anti-join only against the stats-candidate files: rows in skipped
      // files cannot equal any source key, so they cannot absorb inserts
      val target = readFileEntries(matchCandidates, tableSchema).alias(targetAlias)
      val unmatched = src.join(target, expr(condition), "left_anti")
      val toInsert = insCondOpt.fold(unmatched)(c => unmatched.filter(expr(c)))
      val rows = toInsert.select(dataCols.map { f =>
        insVals.get(f.name).map(expr).getOrElse(lit(null))
          .cast(f.dataType).as(f.name)
      }: _*)
      val added = labeled("merge: insert-only anti-join + write") {
        writeFiles(rows, partCols)
      }
      // inserted rows come free from the written files' footer counts —
      // callers never need a post-merge table scan for accounting
      val inserted =
        if (added.forall(_.rows >= 0)) added.map(_.rows).sum else -1L
      return commitMerge(pinnedV, tableSchema, partCols, added, Seq.empty, Map(
        "numTargetFilesAdded" -> added.size.toString,
        "numTargetFilesRemoved" -> "0",
        "numTargetFilesUntouched" -> files.size.toString,
        "numTargetFilesSkippedByStats" -> statsSkipped.toString,
        "numTargetRowsUpdated" -> "0",
        "numTargetRowsDeleted" -> "0",
        "numTargetRowsInserted" -> inserted.toString,
        "numColumnsEvolved" -> evolvedCols.size.toString,
        "insertOnly" -> "true") ++ decisions)
    }

    // --- 1. prune + cardinality, ONE job: which existing files contain
    // rows matched by source, and does any target row match >1 source
    // rows? The probe joins the candidate files with the source on the
    // merge condition. When the source-key uniqueness fast path did NOT
    // prove cardinality safe, grouping by (file, _metadata.row_index)
    // folds Delta's merge-cardinality check into the SAME job that
    // collects touched file names; on the fast path the probe stays a
    // cheap distinct over file names (the per-row grouping would push
    // every matched row through a wide hash aggregate for nothing). The
    // collect is bounded by file count, never by row count. Catalyst/AQE
    // picks the join strategy — the source side of a batch merge is
    // typically small enough to broadcast.
    val needExactCardinality = !srcKeysUnique
    val qualify = files.map(fe =>
      fs.makeQualified(new Path(dataDir, fe.path)).toString -> fe.path).toMap
    val knownRel = files.map(_.path).toSet
    val touchedRel: Set[String] =
      if (matchCandidates.isEmpty) Set.empty
      else {
        // probe scans only the stats-candidate files — skipped files
        // cannot contain matched rows and are untouched by construction.
        // keepMeta supplies file/row-index identity (readFileEntries owns
        // it now: after a DV anti-join, _metadata no longer resolves)
        val t = readFileEntries(matchCandidates, tableSchema, keepMeta = true)
          .alias(targetAlias)
        val matched = t.join(maybeBroadcast(src), expr(condition), "inner")
        if (needExactCardinality) {
          val perFile = labeled("merge: touched-file probe + cardinality") {
            matched
              .groupBy(col(FileCol), col(RowIdxCol))
              .agg(count(lit(1)).as("__graft_m"))
              .groupBy(col(FileCol))
              .agg(max("__graft_m").as("__graft_maxm"))
              .collect()
          }
          if (perFile.exists(_.getLong(1) > 1))
            throw new IllegalStateException(
              "MERGE: multiple source rows matched the same target row")
          perFile.map(r => relativize(r.getString(0), qualify, knownRel)).toSet
        } else
          labeled("merge: touched-file probe") {
            matched.select(col(FileCol)).distinct()
              .collect().map(_.getString(0))
          }.map(p => relativize(p, qualify, knownRel))
            .toSet
      }
    val untouched = files.filterNot(fe => touchedRel.contains(fe.path))
    val touchedFiles = files.filter(fe => touchedRel.contains(fe.path))

    // --- 2. rewrite touched files + insert unmatched source rows --------
    val touchedDF = readFileEntries(touchedFiles, tableSchema)

    // An update/delete-only merge (no insert clause) preserves every
    // target row and adds none, so a LEFT join is exactly equivalent to
    // the full-outer: the source-only rows full-outer would emit are
    // filtered out below (insCond is lit(false)). The switch matters
    // because Spark can never execute a full-outer as a broadcast hash
    // join — with it, a small source (e.g. the header job's Phase-A
    // first-change keys) rewrites the touched files in one map-only scan
    // instead of shuffling + sorting every touched row through a
    // sort-merge join (guide §2.4/§3.1).
    val rewriteJoinType = if (notMatchedInsert.isEmpty) "left_outer" else "full_outer"
    val t = touchedDF.withColumn(TPresent, lit(true)).alias(targetAlias)
    val s = (if (rewriteJoinType == "left_outer") maybeBroadcast(src) else src)
      .withColumn(SPresent, lit(true))
    val joined = t.join(s, expr(condition), rewriteJoinType)

    val tPresent = col(TPresent) === lit(true)
    val sPresent = col(SPresent) === lit(true)

    val rawUpdCond: Column = matchedUpdate match {
      case Some((Some(c), _)) => expr(c)
      case Some((None, _)) => lit(true)
      case None => lit(false)
    }
    val rawDelCond: Column = matchedDelete match {
      case Some(Some(c)) => expr(c)
      case Some(None) => lit(true)
      case None => lit(false)
    }
    // Delta clause semantics: matched clauses are tried in the order they
    // were added, first satisfied condition wins, and a NULL condition
    // means NOT satisfied. The earlier clause's guard must therefore be
    // coalesced to false before negation — `!NULL` is NULL, and a NULL
    // guard would block the later clause (or, worse, a NULL delete term
    // in the keep filter below would silently DROP unmatched target rows
    // riding the same file, since `tPresent && !NULL` filters as false).
    val updCond =
      if (deleteFirst && matchedDelete.isDefined)
        rawUpdCond && !coalesce(rawDelCond, lit(false))
      else rawUpdCond
    val delCond =
      if (!deleteFirst && matchedUpdate.isDefined)
        rawDelCond && !coalesce(rawUpdCond, lit(false))
      else rawDelCond
    val updSet = matchedUpdate.map(_._2).getOrElse(Map.empty)
    val insCond: Column = notMatchedInsert match {
      case Some((Some(c), _)) => expr(c)
      case Some((None, _)) => lit(true)
      case None => lit(false)
    }
    val insVals = notMatchedInsert.map(_._2).getOrElse(Map.empty)

    // Row-level merge metrics (the numbers Delta reports as
    // numTargetRowsUpdated/Inserted/Deleted) ride the rewrite write as an
    // Observation — no extra job, no persisted join; callers can account
    // for a merge without re-scanning the table afterwards.
    // NB TPresent is NULL (not false) on source-only full-outer rows.
    // Deleted rows are simply NOT in the rewrite (their file is dropped
    // from the log, the survivors copied) — same mechanics as Delta.
    val obs = org.apache.spark.sql.Observation()
    val kept = joined
      .filter((tPresent && !coalesce(sPresent && delCond, lit(false))) ||
        (!coalesce(col(TPresent), lit(false)) && sPresent && insCond))
      .observe(obs,
        sum(when(tPresent && sPresent && updCond, 1L).otherwise(0L)).as("u"),
        sum(when(sPresent && insCond && !coalesce(col(TPresent), lit(false)), 1L)
          .otherwise(0L)).as("i"),
        // surviving target rows — deleted = touched-file row total minus this
        sum(when(tPresent, 1L).otherwise(0L)).as("t"))
    val outCols = dataCols.map { f =>
      val tCol = col(s"$targetAlias.${f.name}")
      val upd = updSet.get(f.name).map(expr).getOrElse(tCol)
      val ins = insVals.get(f.name).map(expr).getOrElse(lit(null))
      when(tPresent && sPresent && updCond, upd.cast(f.dataType))
        .when(tPresent, tCol)
        .otherwise(ins.cast(f.dataType))
        .as(f.name)
    }
    val rewritten = kept.select(outCols: _*)

    val doWrite = touchedFiles.nonEmpty || notMatchedInsert.nonEmpty
    val added =
      if (doWrite) labeled("merge: rewrite + write") {
        writeFiles(rewritten, partCols)
      } else Seq.empty
    // obs.get blocks until its action ran — only consult it after a write
    val (rowsUpdated, rowsInserted, rowsDeleted) =
      if (doWrite) {
        val o = obs.get
        def cnt(k: String) = // sums are NULL when zero rows flowed
          Option(o(k)).map(_.asInstanceOf[Number].longValue).getOrElse(0L)
        val deleted =
          if (matchedDelete.isEmpty) 0L
          else {
            // deleted rows never reach the observed write — derive them
            // from the touched files' LIVE row counts (footer total minus
            // rows already dead under a deletion vector) minus survivors
            val touchedRows =
              if (touchedFiles.forall(_.rows >= 0))
                touchedFiles.map(fe => fe.rows - fe.dvRows).sum
              else -1L
            if (touchedRows >= 0) touchedRows - cnt("t") else -1L
          }
        (cnt("u"), cnt("i"), deleted)
      } else (0L, 0L, 0L)

    commitMerge(pinnedV, tableSchema, partCols, added, touchedFiles.map(_.path), Map(
      "numTargetFilesAdded" -> added.size.toString,
      "numTargetFilesRemoved" -> touchedFiles.size.toString,
      "numTargetFilesUntouched" -> untouched.size.toString,
      "numTargetFilesSkippedByStats" -> statsSkipped.toString,
      "numTargetRowsUpdated" -> rowsUpdated.toString,
      "numTargetRowsInserted" -> rowsInserted.toString,
      "numTargetRowsDeleted" -> rowsDeleted.toString,
      "numColumnsEvolved" -> evolvedCols.size.toString,
      "rewriteJoinType" -> rewriteJoinType) ++ decisions)
  }

  /** Publish one MERGE commit (pinned to `pinnedV + 1`) and hand its
    * operation metrics back to the caller. */
  private def commitMerge(pinnedV: Long, tableSchema: StructType, partCols: Seq[String],
                          added: Seq[FileEntry], removed: Seq[String],
                          metrics: Map[String, String]): Map[String, String] = {
    commitOrClean(LogEntry(pinnedV + 1, now(), "MERGE", tableSchema.json, partCols,
      added, removed, metrics), added)
    metrics
  }

  // ------------------------------------------------------------- helpers --

  private def partitionValuesOf(relPath: String): Map[String, String] =
    relPath.split('/').dropRight(1).flatMap { seg =>
      val i = seg.indexOf('=')
      if (i <= 0) None
      else Some(seg.substring(0, i) ->
        URLDecoder.decode(seg.substring(i + 1), "UTF-8"))
    }.toMap

  /** `_metadata.file_path` yields fully-qualified URIs; log entries store
    * paths relative to the data dir. Strip the qualified data-dir prefix —
    * O(1) per path, no linear scan over the table's file list. The result
    * MUST resolve to a known live file: a silently non-matching relative
    * path (e.g. percent-encoded partition values escaping differently)
    * would classify a matched file as untouched and keep stale rows, so
    * unknown results are an error, after trying a URL-decoded form. */
  private def relativize(qualified: String, map: Map[String, String],
                         known: Set[String]): String =
    map.getOrElse(qualified, {
      val prefix = fs.makeQualified(dataDir).toString + "/"
      if (qualified.startsWith(prefix)) {
        val rel = qualified.stripPrefix(prefix)
        if (known.contains(rel)) rel
        else {
          val dec = URLDecoder.decode(rel, "UTF-8")
          if (known.contains(dec)) dec
          else throw new IllegalStateException(s"unknown file in scan: $qualified")
        }
      } else throw new IllegalStateException(s"unknown file in scan: $qualified")
    })
}

object VersionedTable {
  private val LogDirName = "_graft_log"
  /** Commits between snapshot checkpoints (Delta uses 10 as well). */
  private[tables] val CheckpointInterval = 10L

  /** Reference-counted per-session scope forcing
    * `spark.sql.parquet.outputTimestampType = TIMESTAMP_MICROS` around
    * table writes (see writeFiles). First enter per session saves the
    * user's value; the LAST exit restores it — interleaved concurrent
    * writers can no longer restore the override as the "previous" value
    * and leak it into the session. */
  private val TsConfKey = "spark.sql.parquet.outputTimestampType"
  private val tsScopes =
    scala.collection.mutable.Map[SparkSession, (Int, Option[String])]()
  private[tables] def enterMicrosTsScope(spark: SparkSession): Unit =
    tsScopes.synchronized {
      tsScopes.get(spark) match {
        case Some((depth, saved)) => tsScopes(spark) = (depth + 1, saved)
        case None =>
          tsScopes(spark) = (1, spark.conf.getOption(TsConfKey))
          spark.conf.set(TsConfKey, "TIMESTAMP_MICROS")
      }
    }
  private[tables] def exitMicrosTsScope(spark: SparkSession): Unit =
    tsScopes.synchronized {
      tsScopes(spark) match {
        case (1, saved) =>
          tsScopes.remove(spark)
          saved match {
            case Some(v) => spark.conf.set(TsConfKey, v)
            case None => spark.conf.unset(TsConfKey)
          }
        case (depth, saved) => tsScopes(spark) = (depth - 1, saved)
      }
    }
  /** File count above which commit-time footer stats are computed by a
    * Spark job instead of a driver parallel collection (see
    * [[VersionedTable#statsForMoved]]). */
  private[tables] val ExecutorStatsFileThreshold = 256
  /** Table property: comma-separated columns to write parquet bloom
    * filters on (see [[VersionedTable.create]] / readWhereEquals). */
  val BloomColsProp = "bloom.filter.columns"
  /** Table property: expected distinct values per file for bloom sizing. */
  val BloomNdvProp = "bloom.filter.ndv"
  private val FileCol = "__graft_file"
  private val RowIdxCol = "__graft_row_idx"
  /** Deletion-vector sidecar schema: one row marks one deleted physical
    * row — `file` is the data file's path relative to `<root>/data`,
    * `row_idx` its parquet `_metadata.row_index`. */
  private val DvSchema = StructType(Seq(
    StructField("file", StringType, nullable = false),
    StructField("row_idx", LongType, nullable = false)))
  /** Materialized source size up to which a merge broadcasts its source
    * into the probe and left-outer rewrite joins. */
  private val MergeBroadcastBytes = 128L * 1024 * 1024
  private val TPresent = "__graft_t_present"
  private val SPresent = "__graft_s_present"
  private implicit val fmts: Formats = DefaultFormats

  private def now(): Long = System.currentTimeMillis()

  /** "a ≤ b" under numeric comparison when both sides parse as numbers,
    * lexical otherwise — only for merging SAME-column parquet stat
    * strings (same stringifier on both sides; ISO date/timestamp forms
    * are fixed-width, so lexical order is value order there). */
  private[tables] def statOrdered(a: String, b: String): Boolean =
    (statNum(a), statNum(b)) match {
      case (Some(x), Some(y)) => x <= y
      case _ => a <= b
    }
  private[tables] def statNum(s: String): Option[BigDecimal] =
    try Some(BigDecimal(s)) catch { case _: Throwable => None }

  /** Column min/max/null stats AND row count from the parquet footer of
    * one file — metadata-only, no data read. STATIC (no session state)
    * so the commit path can evaluate it on executors for large commits.
    * Only top-level primitive leaves are recorded; failures degrade to
    * "no stats" (skipping is an optimization, never required for
    * correctness). */
  private[tables] def footerInfoAt(file: Path,
      conf: org.apache.hadoop.conf.Configuration): (Option[Map[String, FileColStats]], Long) =
    try {
      import scala.jdk.CollectionConverters._
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf)
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try {
        var rowCount = 0L
        val acc = scala.collection.mutable.Map[String, FileColStats]()
        // columns with any row group whose rows are NOT fully accounted
        // for (min/max present, or provably all-NULL) must carry NO stats
        // entry at all — e.g. INT96 timestamps, where parquet suppresses
        // min/max but still reports numNulls=0: a naive reading would
        // classify the file as all-NULL and wrongly skip it
        val untracked = scala.collection.mutable.Set[String]()
        reader.getFooter.getBlocks.asScala.foreach(b => rowCount += b.getRowCount)
        for (block <- reader.getFooter.getBlocks.asScala;
             c <- block.getColumns.asScala if c.getPath.size == 1) {
          val name = c.getPath.toDotString
          val st: org.apache.parquet.column.statistics.Statistics[_] = c.getStatistics
          val covered = st != null && !st.isEmpty &&
            (st.hasNonNullValue ||
              (st.isNumNullsSet && st.getNumNulls == block.getRowCount))
          if (!covered) untracked += name
          else {
            val has = st.hasNonNullValue
            // getNumNulls is -1 when the null count wasn't recorded —
            // clamp so a garbage negative never reaches the commit log
            val nulls = math.max(0L, st.getNumNulls)
            val cur = acc.get(name)
            val next = cur match {
              case None =>
                FileColStats(if (has) st.minAsString else "",
                  if (has) st.maxAsString else "", nulls, has)
              case Some(p) =>
                // merge across row groups: widen min/max, add nulls
                val mn = (p.hasMinMax, has) match {
                  case (true, true) => if (statOrdered(st.minAsString, p.min)) st.minAsString else p.min
                  case (true, false) => p.min
                  case (false, _) => if (has) st.minAsString else ""
                }
                val mx = (p.hasMinMax, has) match {
                  case (true, true) => if (statOrdered(p.max, st.maxAsString)) st.maxAsString else p.max
                  case (true, false) => p.max
                  case (false, _) => if (has) st.maxAsString else ""
                }
                FileColStats(mn, mx, p.nullCount + nulls, p.hasMinMax || has)
            }
            acc(name) = next
          }
        }
        val ok = acc.toMap -- untracked
        (if (ok.isEmpty) None else Some(ok), rowCount)
      } finally reader.close()
    } catch { case _: Throwable => (None, -1L) }

  /** Reference: DeltaTable.isDeltaTable (src/header_etl.py:157). */
  def isTable(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path, LogDirName)
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // commit files only — a properties file written just before a crashed
    // CREATE must not make an empty dir read as a live table
    f.exists(p) && f.listStatus(p).exists(_.getPath.getName.matches("""\d{20}\.json"""))
  }

  /** Reference: DeltaTable.forPath (src/header_etl.py:166). */
  def forPath(spark: SparkSession, path: String): VersionedTable = {
    require(isTable(spark, path), s"$path is not a graft table")
    new VersionedTable(spark, path, None)
  }

  /** Initial partitioned write (reference: src/header_etl.py:159-162).
    * `properties` are written once beside the log and are immutable:
    * [[BloomColsProp]] ("bloom.filter.columns", comma-separated) makes
    * every write add parquet bloom filters on those columns, sized by
    * [[BloomNdvProp]] ("bloom.filter.ndv", default 1M distinct values). */
  def create(spark: SparkSession, df: DataFrame, path: String,
             partitionBy: Seq[String] = Seq.empty,
             properties: Map[String, String] = Map.empty): VersionedTable = {
    require(!isTable(spark, path), s"$path is already a graft table")
    val t = new VersionedTable(spark, path, None)
    if (properties.nonEmpty) {
      t.fs.mkdirs(t.logDir)
      t.atomicWrite(t.fs, t.propsPath, Serialization.write(properties))
    }
    val added = t.writeFiles(df, partitionBy)
    val rows =
      if (added.forall(_.rows >= 0)) added.map(_.rows).sum else -1L
    t.commit(LogEntry(0L, now(), "CREATE TABLE AS SELECT",
      df.schema.json, partitionBy, added, Seq.empty,
      Map("numFiles" -> added.size.toString,
        "numOutputRows" -> rows.toString)))
    t
  }

  private[tables] def widenSchema(cur: StructType, incoming: StructType): StructType = {
    val byName = cur.fieldNames.toSet
    val extras = incoming.fields.filterNot(f => byName.contains(f.name))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    incoming.fields.foreach { f =>
      if (byName.contains(f.name))
        require(cur(f.name).dataType == f.dataType,
          s"mergeSchema type conflict on ${f.name}: ${cur(f.name).dataType} vs ${f.dataType}")
    }
    StructType(cur.fields ++ extras)
  }

  private def parseEntry(json: String): LogEntry =
    Serialization.read[LogEntry](json)
  private def renderEntry(e: LogEntry): String =
    Serialization.write(e)
  private def parseCheckpoint(json: String): Checkpoint =
    Serialization.read[Checkpoint](json)
  private def renderCheckpoint(c: Checkpoint): String =
    Serialization.write(c)

  /** Diagnostic counter over the ONE funnel every log/checkpoint JSON
    * read passes through — lets specs assert the O(CheckpointInterval)
    * bound on snapshot/lastTxnBatchId cost empirically (count reads
    * around an operation) instead of trusting the comment. Zero-cost in
    * production paths (one atomic add per metadata file read). */
  private[tables] val logJsonReads = new java.util.concurrent.atomic.AtomicLong(0)

  private def readFully(f: FileSystem, p: Path): String = {
    logJsonReads.incrementAndGet()
    val in = f.open(p)
    try {
      val out = new java.io.ByteArrayOutputStream()
      val buf = new Array[Byte](8192)
      var n = in.read(buf)
      while (n >= 0) { out.write(buf, 0, n); n = in.read(buf) }
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
  }
}

/** A commit lost the version compare-and-swap to a concurrent writer:
  * the table state is untouched by the loser; re-read and retry.
  * Subclasses IllegalStateException so pre-CAS callers keep working. */
class ConcurrentCommitException(msg: String) extends IllegalStateException(msg)

/** Fluent MERGE builder mirroring the subset of the Delta API the
  * reference exercises: at most one whenMatchedUpdate, one
  * whenMatchedDelete and one whenNotMatchedInsert clause, conditions and
  * assignments as SQL expression strings over the target/source aliases.
  * [[execute]] returns the commit's operation metrics. */
class MergeBuilder private[tables] (table: VersionedTable,
                                    targetAlias: String,
                                    source: DataFrame,
                                    condition: String) {
  private var matchedUpdate: Option[(Option[String], Map[String, String])] = None
  private var notMatchedInsert: Option[(Option[String], Map[String, String])] = None
  private var matchedDelete: Option[Option[String]] = None
  private var deleteFirst: Boolean = false
  private var schemaEvolution: Boolean = false

  def whenMatchedUpdate(set: Map[String, String]): MergeBuilder =
    whenMatchedUpdate(null, set)
  def whenMatchedUpdate(condition: String, set: Map[String, String]): MergeBuilder = {
    require(matchedUpdate.isEmpty, "only one whenMatchedUpdate clause is supported")
    matchedUpdate = Some((Option(condition), set)); this
  }
  /** Delta-style matched-DELETE clause: matched target rows satisfying
    * `condition` are removed from the table (their file is rewritten
    * without them). With an update clause also present, the two are tried
    * in the order they were added — first satisfied condition wins, as in
    * Delta. The SCD2 soft-delete/tombstone path (reference notes.md:88-98)
    * instead CLOSES the open row via whenMatchedUpdate; this clause is the
    * "technical deletion" the reference asks about at notes.md:97. */
  def whenMatchedDelete(): MergeBuilder = whenMatchedDelete(null)
  def whenMatchedDelete(condition: String): MergeBuilder = {
    require(matchedDelete.isEmpty, "only one whenMatchedDelete clause is supported")
    matchedDelete = Some(Option(condition))
    deleteFirst = matchedUpdate.isEmpty
    this
  }
  def whenNotMatchedInsert(values: Map[String, String]): MergeBuilder =
    whenNotMatchedInsert(null, values)
  def whenNotMatchedInsert(condition: String, values: Map[String, String]): MergeBuilder = {
    require(notMatchedInsert.isEmpty, "only one whenNotMatchedInsert clause is supported")
    notMatchedInsert = Some((Option(condition), values)); this
  }
  /** Merge-time schema evolution (the reference's autoMerge case,
    * notes.md:102-105): update/insert assignments may name columns the
    * target does not have yet — each becomes a new NULLABLE column whose
    * type is resolved against the source frame, added to the table schema
    * by this merge's commit. Untouched files are never rewritten; readers
    * see NULL for the new column in pre-evolution files. Without this
    * call, assignments to unknown columns are ignored (the target schema
    * is the contract). */
  def withSchemaEvolution(): MergeBuilder = { schemaEvolution = true; this }

  /** Runs the merge; returns the `operationMetrics` its commit recorded
    * (the same map `history()` shows for that version). */
  def execute(): Map[String, String] =
    table.executeMerge(targetAlias, source, condition, matchedUpdate,
      notMatchedInsert, matchedDelete, deleteFirst, schemaEvolution)
}
