package graft.streaming

import java.io.File

import graft.ingest.{CanonicalChain, Canonicalizer, HeaderNormalizer}
import graft.sources.{FileIngest, ManifestTable}
import graft.sources.ManifestTable.TableBatch
import org.apache.spark.sql.{DataFrame, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

/** The reference's operating loop — stage raw client files, COPY the new
  * ones, normalize, MERGE the canonical model (reference
  * sql/01_raw_ingestion.sql:66 → sql/05_merge_canonical.sql:1 →
  * sql/06_anomaly_detection.sql:1) — composed as ONE Structured Streaming
  * job over file sources, landing in multi-table-atomic
  * [[graft.sources.ManifestTable]] targets.
  *
  * Incremental-view-maintenance shape (the part that must hold at 100 TB):
  * a micro-batch can only change the survivorship groups whose
  * (client_id, source_txn_id) keys it carries, so each batch
  *   1. re-reads ONLY the staging buckets the batch touches (manifest-level
  *      pruning — never the whole table), restricts to the touched groups,
  *      and unions the batch's normalized rows in, deduplicated on the
  *      stable (src_file, src_row_number) row identity — so a replay under
  *      a NEW query identity (fresh checkpoint, ids reset) converges to
  *      the same rows instead of double-counting dup_cnt;
  *   2. re-derives survivors → lines → anomalies for exactly the touched
  *      groups;
  *   3. replace-merges the touched groups into the staging table AND the
  *      three canonical tables (delete-by-key + insert: a new survivor can
  *      change a group's canonical id, and staging replacement is what
  *      makes cross-query replays exact no-ops — a pure append/upsert
  *      would strand or duplicate rows);
  *   4. publishes all four tables with ONE atomic manifest swap, so a
  *      crash can never expose a header without its lines, and a replayed
  *      (queryId, batchId) is skipped outright.
  * Per-batch cost scales with the batch's group spread across buckets,
  * never with total table size — the same contract as the event sink.
  *
  * The SAME maintenance core also runs in batch mode ([[ingestIncrement]]):
  * fresh files are discovered against a load-ledger TABLE committed in the
  * same atomic swap as the data (the COPY load-history analogue, but
  * transactional with the merge — no crash window between "data merged"
  * and "files recorded").
  */
object CanonicalStream {

  /** The survivorship group key — the unit of incremental recompute. */
  val GroupKeys: Seq[String] = Seq("client_id", "source_txn_id")

  /** Bucket count for the staging and canonical tables. Tests use the
    * default; a production deployment sizes this so one bucket's staging
    * rows fit an executor's working set (the per-batch recompute reads
    * whole touched buckets).
    */
  val Buckets = 8

  val StagingTable = "staging_hdr"
  val HeaderTable = "can_txn"
  val LineTable = "can_txn_line"
  val AnomalyTable = "can_txn_anomaly"
  val LedgerTable = "load_ledger"

  /** Per-file load telemetry (reference RAW_LOAD_AUDIT,
    * sql/01_raw_ingestion.sql:50) committed in the same atomic swap as the
    * canonical grains, with a change feed: VW_LOAD_AUDIT_SUMMARY runs as a
    * CDF-fed [[IncrementalMart]] over it (see [[OpsMarts]]).
    */
  val AuditTable = "raw_load_audit"

  /** Query identity for the batch-mode incremental path. */
  val IngestQueryId = "ingest"

  // ------------------------------------------------------------------
  // The streaming job
  // ------------------------------------------------------------------

  /** Raw landing-zone stream: one file source per format directory, tagged
    * and unioned. The file source's unit of progress is a whole file, so a
    * micro-batch always carries complete files — which is what makes
    * per-file line numbering in the sink identical to the batch readers'.
    */
  def rawStream(spark: SparkSession, jsonDir: String, xmlDir: String,
      csvDir: String): DataFrame =
    Seq(jsonDir -> "JSON", xmlDir -> "XML", csvDir -> "CSV").map {
      case (dir, fmt) =>
        spark.readStream.text(dir)
          .select(
            col("value").as("payload"),
            col("_metadata.file_name").as("src_file"),
            col("_metadata.file_modification_time").as("ingest_ts"),
            lit(fmt).as("file_type"))
    }.reduce(_.unionByName(_))

  /** One micro-batch of raw lines → normalized staging headers, through the
    * SAME per-format branches as the batch readers (stageRaw numbering +
    * HeaderNormalizer + CanonicalChain union — shared code, no drift).
    */
  def normalize(batch: DataFrame): DataFrame = {
    def slice(fmt: String): DataFrame = FileIngest.stageRaw(
      batch.filter(col("file_type") === fmt)
        .select("payload", "src_file", "ingest_ts"), fmt)
    CanonicalChain.unionHeaders(
      HeaderNormalizer.fromJson(slice("JSON")),
      HeaderNormalizer.fromXml(slice("XML")),
      HeaderNormalizer.fromCsv(FileIngest.csvPayload(slice("CSV"))))
  }

  /** Start the end-to-end canonical pipeline: file sources → normalize →
    * incremental canonicalize → multi-table atomic merge. AvailableNow by
    * default (drain the landed backlog, then stop — the re-runnable COPY
    * loop); pass ProcessingTime for a long-running tailer.
    */
  def start(spark: SparkSession, jsonDir: String, xmlDir: String,
      csvDir: String, tableRoot: String, checkpoint: String,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    rawStream(spark, jsonDir, xmlDir, csvDir)
      .writeStream
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, id: Long) =>
        maintainBatch(new File(tableRoot),
          EventPipeline.currentQueryId(batch.sparkSession), id,
          normalize(batch))
      }
      .start()

  // ------------------------------------------------------------------
  // The shared maintenance core
  // ------------------------------------------------------------------

  /** Fold one batch of normalized staging headers into the stored canonical
    * tables (steps 1-4 above). `extra` rides the same atomic commit — the
    * batch-mode path passes its load-ledger append through it.
    */
  def maintainBatch(root: File, qid: String, batchId: Long, staged: DataFrame,
      extra: Seq[TableBatch] = Nil): Unit = {
    val spark = staged.sparkSession
    ManifestTable.read(root) match {
      case Some(m) if m.queryId == qid && batchId <= m.lastBatch =>
        return // replayed batch: already committed, skip the recompute too
      case _ =>
    }
    val st = staged.persist()
    val pinned = scala.collection.mutable.ListBuffer[DataFrame](st)
    try {
      // the staging buckets the batch touches; none means an empty batch
      // (one job answers both)
      val touched = st.select(
        pmod(xxhash64(GroupKeys.map(col).toIndexedSeq: _*), lit(Buckets)))
        .distinct().collect().map(_.getLong(0)).toSet
      val canonBatches: Seq[TableBatch] = if (touched.isEmpty) Nil else {
        // prior staging rows of ONLY the touched groups: manifest-pruned
        // bucket read, then a semi join on the group key (null-safe — the
        // hash-fallback groups key on a null source id)
        val touchedGroups = st.select(GroupKeys.map(col).toIndexedSeq: _*)
          .distinct()
        val oldTouched = ManifestTable
          .readTableBuckets(spark, root.toString, touched, StagingTable)
          .map { o =>
            o.join(touchedGroups,
              GroupKeys.map(k => o(k) <=> touchedGroups(k)).reduce(_ && _),
              "left_semi")
          }
        // dedup on the stable row identity: a cross-query replay (fresh
        // checkpoint) re-delivers files the staging table already holds,
        // and without this the group recompute would double dup_cnt
        val allRows = oldTouched
          .fold(st.toDF())(_.unionByName(st, allowMissingColumns = true))
          .dropDuplicates("src_file", "src_row_number")
          .persist()
        pinned += allRows
        val surv = Canonicalizer.survivors(allRows).persist()
        pinned += surv
        val lines = CanonicalChain.linesFrom(surv).persist()
        pinned += lines
        val anoms = CanonicalChain.anomaliesFrom(surv, lines)
        // the ids the touched groups published before (their prior
        // survivors') plus the ids they publish now, so the replace-merge
        // deletes exactly the groups being re-derived. Not every row's id:
        // a (client, NULL source id) group holds one id per document it
        // ever received, but only its survivor's id was published
        val ids = (surv +: oldTouched.map(Canonicalizer.survivors).toSeq)
          .map(_.select("canonical_txn_id"))
        val affected = ids.reduce(_ unionByName _).distinct().persist()
        pinned += affected
        Seq(
          // staging is replace-by-group too: the touched groups' stored
          // rows become exactly the deduped recompute set, which is what
          // makes a same-files replay an exact no-op at the storage layer
          TableBatch(StagingTable, allRows.toDF(), GroupKeys, Buckets,
            deleteKeys = Some(touchedGroups)),
          // per-file audit rows derive from the batch's OWN staged rows
          // (file sources deliver whole files, so each file's counts are
          // complete) keyed by src_file: a replayed file upserts an
          // identical row, a re-parse updates in place — and the feed lets
          // the load-audit summary mart maintain itself downstream
          TableBatch(AuditTable, graft.sources.LoadAudit.audit(st),
            Seq("src_file"), Buckets, changeFeed = true),
          // the three published grains carry a change feed: downstream
          // consumers (ops views, exports) pull per-commit deltas via
          // ManifestTable.readChangeFeed instead of re-diffing snapshots
          TableBatch(HeaderTable, CanonicalChain.headerModel(surv),
            Seq("canonical_txn_id"), Buckets,
            statsCols = Seq("txn_timestamp"), deleteKeys = Some(affected),
            changeFeed = true),
          TableBatch(LineTable, CanonicalChain.lineModel(lines),
            Seq("canonical_txn_id"), Buckets, deleteKeys = Some(affected),
            changeFeed = true),
          TableBatch(AnomalyTable, anoms,
            Seq("canonical_txn_id"), Buckets, deleteKeys = Some(affected),
            changeFeed = true))
      }
      if (canonBatches.nonEmpty || extra.nonEmpty)
        ManifestTable.mergeBatch(root, qid, batchId, canonBatches ++ extra)
    } finally { pinned.foreach(_.unpersist()); () }
  }

  // ------------------------------------------------------------------
  // Batch-mode incremental maintenance over a landing zone
  // ------------------------------------------------------------------

  /** Outcome of one incremental run: per-format file names loaded this run
    * and skipped as already loaded.
    */
  final case class Increment(newFiles: Map[String, Seq[String]],
    skippedFiles: Map[String, Seq[String]])

  /** The committed load ledger as a DataFrame (never collected: at
    * millions of loaded files the ledger is data, not driver state).
    */
  def loadLedger(spark: SparkSession, root: File): Option[DataFrame] =
    ManifestTable.readTableBuckets(spark, root.toString, Set(0L), LedgerTable)

  /** One re-runnable COPY→transform→MERGE increment: read ONLY the files
    * the committed ledger doesn't record, fold them through the shared
    * maintenance core, and commit data + ledger in one atomic swap. A
    * re-run over an unchanged landing zone reads zero data bytes and
    * leaves the manifest untouched; a crash anywhere before the commit
    * re-reads the same fresh files next run (at-least-once, the COPY
    * model) with the merge keeping the outcome identical.
    *
    * Fresh-file discovery is a distributed left-anti join of the landing
    * listing against the ledger TABLE — the ledger is never collected to
    * the driver (at millions of loaded files that set is data). Only the
    * anti-join's survivors (this increment's new files) come back, and
    * they bound the increment's work anyway.
    *
    * `dirs`: format → landing directory, formats ∈ {JSON, XML, CSV}.
    */
  def ingestIncrement(spark: SparkSession, dirs: Map[String, String],
      root: File): Increment = {
    val listed = dirs.map { case (fmt, dir) =>
      fmt -> FileIngest.listDataFiles(dir)
    }
    val listedDf = spark.createDataFrame(
      listed.toSeq.flatMap { case (fmt, names) => names.map((fmt, _)) })
      .toDF("fmt", "src_file")
    // anti join, not a driver set: AQE picks broadcast while the ledger
    // is small and shuffles both sides once it is not
    val freshDf = loadLedger(spark, root).fold(listedDf)(l =>
      listedDf.join(l.select("src_file"), Seq("src_file"), "left_anti"))
    val fresh: Map[String, Seq[String]] = freshDf.collect()
      .map(r => (r.getAs[String]("fmt"), r.getAs[String]("src_file")))
      .groupBy(_._1).map { case (fmt, rs) => fmt -> rs.map(_._2).toSeq.sorted }
    val skipped = listed.map { case (fmt, names) =>
      val f = fresh.getOrElse(fmt, Nil).toSet
      fmt -> names.filterNot(f)
    }
    def branch(fmt: String): DataFrame = {
      val names = fresh.getOrElse(fmt, Nil)
      val raw =
        if (names.isEmpty) FileIngest.emptyLines(spark)
        else FileIngest.textLines(spark,
          names.map(n => new File(dirs(fmt), n).toString), fmt)
      fmt match {
        case "JSON" => HeaderNormalizer.fromJson(raw)
        case "XML" => HeaderNormalizer.fromXml(raw)
        case "CSV" => HeaderNormalizer.fromCsv(FileIngest.csvPayload(raw))
        case other => throw new IllegalArgumentException(
          s"unsupported landing format $other")
      }
    }
    val staged = CanonicalChain.unionHeaders(
      branch("JSON"), branch("XML"), branch("CSV"))
    val freshNames = fresh.values.flatten.toSeq.sorted
    val ledger =
      if (freshNames.isEmpty) Nil
      else Seq(TableBatch(LedgerTable,
        spark.createDataset(freshNames)(Encoders.STRING).toDF("src_file"),
        Seq("src_file"), numBuckets = 1, append = true))
    val batchId = ManifestTable.read(root)
      .filter(_.queryId == IngestQueryId).map(_.lastBatch + 1).getOrElse(0L)
    maintainBatch(root, IngestQueryId, batchId, staged, ledger)
    Increment(fresh.filter(_._2.nonEmpty), skipped.filter(_._2.nonEmpty))
  }

  /** The committed canonical tables, for readers. */
  def canTxn(spark: SparkSession, root: String): DataFrame =
    ManifestTable.readTable(spark, root, table = HeaderTable)
  def canTxnLine(spark: SparkSession, root: String): DataFrame =
    ManifestTable.readTable(spark, root, table = LineTable)
  def canTxnAnomaly(spark: SparkSession, root: String): DataFrame =
    ManifestTable.readTable(spark, root, table = AnomalyTable)
}
