package graft.operators

import graft.{CanTxn, CanTxnAnomaly, CanTxnLine, Q, Tables}
import graft.ingest._
import graft.sources.LoadAudit
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Ingestion & canonical modeling operators (SURVEY §2.A) — the reference's
  * core surface re-expressed Spark-first. The DuckDB oracles rebuild the
  * same synthesized payloads byte-for-byte (OracleFrags) and re-derive the
  * expected canonical output, making every stage (parse → normalize →
  * canonicalize → flatten → audit → ops) hash-checked cross-engine.
  */
object Ingestion {

  // ------------------------------------------------------------------
  // Spark-side composition helpers
  // ------------------------------------------------------------------
  private def jsonHeaders(s: SparkSession, d: String): DataFrame =
    HeaderNormalizer.fromJson(RawSynth.jsonRaw(s, d))

  private def csvHeaders(s: SparkSession, d: String): DataFrame =
    HeaderNormalizer.fromCsv(RawSynth.csvRaw(s, d))

  private def xmlHeaders(s: SparkSession, d: String): DataFrame =
    HeaderNormalizer.fromXml(RawSynth.xmlRaw(s, d))

  /** Materialized staging/canonical tables, one per (session, source dir).
    *
    * The reference MERGEs the canonical model into STORED tables once per
    * batch and every ops view reads the stored table (sql/05 + 07); ten of
    * the queries below consume the staged headers or the survivor set, so
    * re-deriving the synth→parse→canonicalize chain per query would do the
    * batch's work ten times. `persist` is the in-process stand-in for that
    * stored table (a cluster deployment writes parquet/Delta instead).
    */
  private val matCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  graft.Caches.register { app =>
    matCache.filterInPlace { case ((a, _, _), df) =>
      if (a == app) df.unpersist() else (); a != app }
  }

  // partKeys/order: the deterministic-layout pin (see Caches.pinLayout)
  // applied before the persist so every run materializes the stored-table
  // analogue with the identical partition/batch shape
  private def materialize(s: SparkSession, d: String, key: String,
      partKeys: Seq[org.apache.spark.sql.Column],
      order: Seq[org.apache.spark.sql.Column])
      (build: => DataFrame): DataFrame =
    matCache.getOrElseUpdate((s.sparkContext.applicationId, d, key),
      graft.Caches.pinLayout(build, partKeys, order)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The reference's all_hdr: JSON ∪ XML ∪ CSV staging rows
    * (sql/03_transform_headers.sql:26,59) — survivorship and every
    * downstream grain see all three sources.
    *
    * Built via the FUSED single pass (RawSynth.fusedRaw →
    * HeaderNormalizer.fromFused): one orders scan + one orders⋈lineAgg
    * join instead of three per-format scan→join→parse branches unioned
    * (guide §1.2 — the union ran the same join three times and built
    * payload strings per branch). Row/schema equivalence with the union
    * is pinned by IngestionSpec and every canonical-grain oracle; the
    * per-branch readers remain the declared `ing_*` query paths.
    *
    * The layout pin is keyed on the SURVIVORSHIP key (client_id,
    * source_txn_id) rather than payload_hash: survivors' groupBy then
    * reuses the cached partitioning (no exchange before the biggest
    * consumer's aggregation — guide §2.1 shuffle reuse).
    */
  private[graft] def allHeaders(s: SparkSession, d: String): DataFrame =
    materialize(s, d, "headers",
      partKeys = Seq(col("client_id"), col("source_txn_id")),
      // in-partition order = the survivorship GROUP KEYS (then the unique
      // row id for determinism): the cached scan then reports an output
      // ordering that satisfies the survivors SortAggregate's sort, so
      // the biggest consumer runs as a streaming pass over the cache —
      // no exchange (co-partitioned) and no re-sort (pre-sorted)
      order = Seq(col("client_id"), col("source_txn_id"),
        col("ingest_ts"), col("src_row_number"))) {
      HeaderNormalizer.fromFused(RawSynth.fusedRaw(s, d))
    }

  private[graft] def survivors(s: SparkSession, d: String): DataFrame =
    materialize(s, d, "survivors",
      partKeys = Seq(col("canonical_txn_id")),
      order = Seq(col("canonical_txn_id"), col("src_file"),
        col("src_row_number"))) {
      Canonicalizer.survivors(allHeaders(s, d))
    }

  private def linesFrom(surv: DataFrame): DataFrame =
    CanonicalChain.linesFrom(surv)

  // the line grain is read by four queries (canon_lines, anomaly_line,
  // ops_anomaly_counts, smoke_counts) — stored once like the reference's
  // CAN_TXN_LINE table, not re-flattened per query
  private[graft] def allLines(s: SparkSession, d: String): DataFrame =
    materialize(s, d, "lines",
      partKeys = Seq(col("canonical_txn_id")),
      order = Seq(col("canonical_txn_id"), col("line_number"),
        col("src_file"))) {
      linesFrom(survivors(s, d))
    }

  private def anomaliesFrom(surv: DataFrame, lines: DataFrame): DataFrame =
    CanonicalChain.anomaliesFrom(surv, lines)

  // the anomaly grain is the reference's stored CAN_TXN_ANOMALY table —
  // materialized like the header/line grains (it is read by four queries,
  // each of which previously re-derived the explode/filter pass over the
  // wide cached survivor + line frames per execution)
  private def allAnomalies(s: SparkSession, d: String): DataFrame =
    materialize(s, d, "anomalies",
      partKeys = Seq(col("canonical_txn_id")),
      order = Seq(col("canonical_txn_id"), col("anomaly_code"),
        col("line_number"), col("src_file"))) {
      anomaliesFrom(survivors(s, d), allLines(s, d))
    }

  // ------------------------------------------------------------------
  // Typed canonical model (Dataset[T] face of the same plans; SURVEY §3)
  // ------------------------------------------------------------------
  def canTxn(s: SparkSession, d: String): Dataset[CanTxn] = {
    import s.implicits._
    survivors(s, d).select(
      col("canonical_txn_id"), col("client_id"), col("source_system"),
      col("effective_source_txn_id").as("source_txn_id"),
      col("txn_timestamp"), col("currency"), col("total_amount"),
      col("customer_id"), col("account_id"), col("merchant"),
      col("src_file"), col("ingest_ts"), col("dup_cnt"),
      col("anomaly_codes"), col("is_valid"), col("attributes")).as[CanTxn]
  }

  def canTxnLines(s: SparkSession, d: String): Dataset[CanTxnLine] = {
    import s.implicits._
    allLines(s, d).select(
      col("canonical_txn_id"), col("client_id"), col("source_system"),
      col("line_number"), col("line_txn_id"), col("item_id"),
      col("description"), col("quantity"), col("unit_price"),
      col("line_amount"), col("currency"), col("src_file"),
      col("ingest_ts"), col("attributes")).as[CanTxnLine]
  }

  def canTxnAnomalies(s: SparkSession, d: String): Dataset[CanTxnAnomaly] = {
    import s.implicits._
    allAnomalies(s, d).as[CanTxnAnomaly]
  }

  private val headerOutCols = Seq("client_id", "source_system", "source_txn_id",
    "txn_timestamp", "currency", "total_amount", "customer_id", "account_id",
    "merchant", "src_file", "src_row_number", "payload_hash", "parse_ok")

  // measures surface as double both sides (uniform dtype for the driver's
  // sorted-hash compare; the decimal->double conversion is deterministic)
  private def headerOutSpark: Seq[org.apache.spark.sql.Column] =
    headerOutCols.map {
      case "total_amount" => col("total_amount").cast("double").as("total_amount")
      case c => col(c)
    }
  private def headerOutSql: String =
    headerOutCols.map {
      case "total_amount" => "cast(total_amount as double) AS total_amount"
      case c => c
    }.mkString(", ")

  // ------------------------------------------------------------------
  // Query definitions
  // ------------------------------------------------------------------
  /** Per-(session, dir) scratch materialization with a crash-safe
    * "complete" marker and JVM-exit cleanup: the marker is written LAST,
    * so a partially failed write is rebuilt on the next call instead of
    * silently serving half the data; the shutdown hook keeps bench/test
    * JVMs from accreting tmp dirs. The `_`-prefixed marker is invisible
    * to Spark's file listing (same convention as _SUCCESS).
    */
  private def scratchDir(s: SparkSession, d: String, tag: String)(
      write: java.io.File => Unit): java.io.File = {
    val dir = new java.io.File(System.getProperty("java.io.tmpdir"),
      s"graft_${tag}_${s.sparkContext.applicationId}_${math.abs(d.hashCode).toHexString}")
    val ok = new java.io.File(dir, "_GRAFT_OK")
    if (!ok.exists) {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) f.listFiles.foreach(rm)
        f.delete(): Unit
      }
      if (dir.exists) rm(dir)
      write(dir)
      ok.createNewFile()
      Runtime.getRuntime.addShutdownHook(new Thread(() => rm(dir)))
    }
    dir
  }

  val defs: Map[String, Q] = Map(
    "ing_json_normalize" -> Q(
      (s, d) => jsonHeaders(s, d)
        .select(headerOutSpark: _*)
        .orderBy("src_row_number"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT $headerOutSql
FROM jhdr ORDER BY src_row_number"""),

    "ing_csv_positional" -> Q(
      (s, d) => csvHeaders(s, d)
        .select(headerOutSpark: _*)
        .orderBy("src_row_number"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT $headerOutSql
FROM chdr ORDER BY src_row_number"""),

    // Fully oracled despite DuckDB lacking XML: the expected parsed fields
    // derive from `orders` ground truth and the payload (for the sha2 hash)
    // is rebuilt byte-for-byte as a string (OracleFrags.xhdr).
    "ing_xml_normalize" -> Q(
      (s, d) => xmlHeaders(s, d)
        .select(col("client_id"), col("source_system"), col("source_txn_id"),
          col("txn_timestamp"), col("currency"),
          col("total_amount").cast("double").as("total_amount"),
          col("customer_id"), col("account_id"), col("merchant"),
          col("src_file"), col("src_row_number"), col("payload_hash"),
          col("parse_ok"))
        .orderBy("src_row_number"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT client_id, source_system, source_txn_id, txn_timestamp, currency,
  cast(total_amount as double) AS total_amount, customer_id, account_id,
  merchant, src_file, src_row_number, payload_hash, parse_ok
FROM xhdr ORDER BY src_row_number"""),

    "ing_load_audit" -> Q(
      (s, d) => LoadAudit.audit(allHeaders(s, d))
        .orderBy("src_file"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT src_file, file_type, count(*) AS rows_parsed,
  cast(sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) as bigint) AS rows_loaded,
  cast(sum(CASE WHEN parse_ok THEN 0 ELSE 1 END) as bigint) AS errors_seen,
  min(CASE WHEN NOT parse_ok THEN src_row_number END) AS first_error_row,
  min_by(parse_error, src_row_number) FILTER (WHERE NOT parse_ok)
    AS first_error,
  max(ingest_ts) AS load_ts,
  CASE WHEN sum(CASE WHEN parse_ok THEN 0 ELSE 1 END) = 0 THEN 'LOADED'
       WHEN sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) = 0 THEN 'LOAD_FAILED'
       ELSE 'PARTIALLY_LOADED' END AS load_status
FROM hdr GROUP BY src_file, file_type ORDER BY src_file"""),

    "canon_header" -> Q(
      (s, d) => survivors(s, d)
        .select(col("canonical_txn_id"), col("client_id"), col("source_system"),
          col("effective_source_txn_id").as("source_txn_id"),
          col("txn_timestamp"), col("currency"),
          col("total_amount").cast("double").as("total_amount"),
          col("is_valid"),
          array_join(col("anomaly_codes"), ",").as("anomaly_codes"),
          col("dup_cnt"), col("src_file"), col("attributes"))
        .orderBy("canonical_txn_id"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT canonical_txn_id, client_id, source_system,
  eff_txn_id AS source_txn_id, txn_timestamp, currency,
  cast(total_amount as double) AS total_amount,
  is_valid, anomaly_codes, dup_cnt, src_file, attributes
FROM surv ORDER BY canonical_txn_id"""),

    // measures as double BOTH sides: values are exact ≤4-dp decimals (same
    // double bits in either engine) and a uniform sortable dtype keeps the
    // driver's sort-then-compare row alignment stable on tie-breaks.
    "canon_lines" -> Q(
      (s, d) => allLines(s, d)
        .select(col("canonical_txn_id"), col("line_number"), col("line_txn_id"),
          col("item_id"), col("description"),
          col("quantity").cast("double").as("quantity"),
          col("unit_price").cast("double").as("unit_price"),
          col("line_amount").cast("double").as("line_amount"),
          col("currency"), col("src_file"), col("attributes"))
        .orderBy("canonical_txn_id", "line_number"),
      s"""WITH ${OracleFrags.synthCtes}, ${OracleFrags.linesCtes}
SELECT canonical_txn_id, line_number, line_txn_id, item_id, description,
  cast(quantity as double) AS quantity,
  cast(unit_price as double) AS unit_price,
  cast(line_amount as double) AS line_amount, currency, src_file, attributes
FROM lines_all ORDER BY canonical_txn_id, line_number"""),

    "merge_upsert" -> Q(
      (s, d) => {
        val o = Tables.orders(s, d)
        val key = concat(lit("K"), col("o_orderkey").cast("string")).as("merge_key")
        val tgt = o.filter(col("o_orderkey") % 3 === 0)
          .select(key, (col("o_totalprice") * 0.8).cast("decimal(18,2)")
            .as("total_amount"), lit("v1").as("version"))
        val src = o.filter(col("o_orderkey") % 4 === 0)
          .select(key, col("o_totalprice").cast("decimal(18,2)")
            .as("total_amount"), lit("v2").as("version"))
        MergeUpsert.upsert(tgt, src, Seq("merge_key"))
          .withColumn("total_amount", col("total_amount").cast("double"))
          .orderBy("merge_key")
      },
      """WITH tgt AS (
        |  SELECT 'K' || cast(o_orderkey as varchar) AS merge_key,
        |    cast(o_totalprice * 0.8 as decimal(18,2)) AS total_amount,
        |    'v1' AS version FROM orders WHERE o_orderkey % 3 = 0),
        |src AS (
        |  SELECT 'K' || cast(o_orderkey as varchar) AS merge_key,
        |    cast(o_totalprice as decimal(18,2)) AS total_amount,
        |    'v2' AS version FROM orders WHERE o_orderkey % 4 = 0)
        |SELECT coalesce(s.merge_key, t.merge_key) AS merge_key,
        |  cast(coalesce(s.total_amount, t.total_amount) as double) AS total_amount,
        |  coalesce(s.version, t.version) AS version,
        |  CASE WHEN s.merge_key IS NOT NULL AND t.merge_key IS NOT NULL THEN 'updated'
        |       WHEN s.merge_key IS NOT NULL THEN 'inserted'
        |       ELSE 'retained' END AS merge_action
        |FROM tgt t FULL JOIN src s ON t.merge_key = s.merge_key
        |ORDER BY merge_key""".stripMargin),

    "anomaly_header" -> Q(
      (s, d) => AnomalyDetector.headerAnomalies(survivors(s, d))
        .orderBy("canonical_txn_id", "anomaly_code"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT canonical_txn_id, client_id, source_system, anomaly_code,
  cast(NULL as int) AS line_number, src_file,
  '${AnomalyDetector.headerDetail}' AS anomaly_detail
FROM (
  SELECT *, 'DUPLICATE_TXN' AS anomaly_code FROM surv WHERE dup_cnt > 1
  UNION ALL
  SELECT *, 'MISSING_REQUIRED' FROM surv
    WHERE txn_timestamp IS NULL OR total_amount IS NULL
  UNION ALL
  SELECT *, 'NEGATIVE_AMOUNT' FROM surv WHERE total_amount < 0)
ORDER BY canonical_txn_id, anomaly_code"""),

    "anomaly_line" -> Q(
      (s, d) => AnomalyDetector.lineAnomalies(allLines(s, d))
        .orderBy("canonical_txn_id", "line_number"),
      s"""WITH ${OracleFrags.synthCtes}, ${OracleFrags.linesCtes}
SELECT canonical_txn_id, client_id, source_system,
  CASE WHEN quantity < 0 THEN 'NEGATIVE_QTY'
       ELSE 'NEGATIVE_AMOUNT_LINE' END AS anomaly_code,
  line_number, src_file,
  '${AnomalyDetector.lineDetail}' AS anomaly_detail
FROM lines_all WHERE quantity < 0 OR line_amount < 0
ORDER BY canonical_txn_id, line_number"""),

    "ops_audit_summary" -> Q(
      (s, d) => LoadAudit.audit(allHeaders(s, d))
        .groupBy(col("file_type"), col("load_status"))
        .agg(count(lit(1)).as("batch_count"),
          sum(col("rows_parsed")).as("total_rows_parsed"),
          sum(col("rows_loaded")).as("total_rows_loaded"),
          sum(col("errors_seen")).as("total_errors_seen"),
          // VW_LOAD_AUDIT_SUMMARY.latest_load_ts (sql/07_ops_views.sql:12)
          max(col("load_ts")).as("latest_load_ts"))
        .orderBy("file_type", "load_status"),
      s"""WITH ${OracleFrags.synthCtes}, audit AS (
  SELECT src_file, file_type, count(*) AS rows_parsed,
    sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) AS rows_loaded,
    sum(CASE WHEN parse_ok THEN 0 ELSE 1 END) AS errors_seen,
    max(ingest_ts) AS load_ts,
    CASE WHEN sum(CASE WHEN parse_ok THEN 0 ELSE 1 END) = 0 THEN 'LOADED'
         WHEN sum(CASE WHEN parse_ok THEN 1 ELSE 0 END) = 0 THEN 'LOAD_FAILED'
         ELSE 'PARTIALLY_LOADED' END AS load_status
  FROM hdr GROUP BY src_file, file_type)
SELECT file_type, load_status, count(*) AS batch_count,
  cast(sum(rows_parsed) as bigint) AS total_rows_parsed,
  cast(sum(rows_loaded) as bigint) AS total_rows_loaded,
  cast(sum(errors_seen) as bigint) AS total_errors_seen,
  max(load_ts) AS latest_load_ts
FROM audit GROUP BY file_type, load_status
ORDER BY file_type, load_status"""),

    "ops_canon_counts" -> Q(
      (s, d) => survivors(s, d)
        .groupBy(col("client_id"), col("source_system"))
        .agg(count(lit(1)).as("txn_count"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("valid_txn_count"),
          sum(when(col("is_valid"), 0L).otherwise(1L)).as("invalid_txn_count"))
        .orderBy("client_id", "source_system"),
      s"""WITH ${OracleFrags.synthCtes}
SELECT client_id, source_system, count(*) AS txn_count,
  cast(sum(CASE WHEN is_valid THEN 1 ELSE 0 END) as bigint) AS valid_txn_count,
  cast(sum(CASE WHEN is_valid THEN 0 ELSE 1 END) as bigint) AS invalid_txn_count
FROM surv GROUP BY client_id, source_system
ORDER BY client_id, source_system"""),

    "ops_anomaly_counts" -> Q(
      (s, d) => allAnomalies(s, d)
        .groupBy(col("client_id"), col("source_system"), col("anomaly_code"))
        .agg(count(lit(1)).as("anomaly_count"))
        .orderBy("client_id", "source_system", "anomaly_code"),
      s"""WITH ${OracleFrags.synthCtes}, ${OracleFrags.linesCtes},
anoms AS (
  SELECT client_id, source_system, 'DUPLICATE_TXN' AS anomaly_code
    FROM surv WHERE dup_cnt > 1
  UNION ALL
  SELECT client_id, source_system, 'MISSING_REQUIRED' FROM surv
    WHERE txn_timestamp IS NULL OR total_amount IS NULL
  UNION ALL
  SELECT client_id, source_system, 'NEGATIVE_AMOUNT' FROM surv
    WHERE total_amount < 0
  UNION ALL
  SELECT client_id, source_system,
    CASE WHEN quantity < 0 THEN 'NEGATIVE_QTY'
         ELSE 'NEGATIVE_AMOUNT_LINE' END
    FROM lines_all WHERE quantity < 0 OR line_amount < 0)
SELECT client_id, source_system, anomaly_code,
  count(*) AS anomaly_count
FROM anoms GROUP BY client_id, source_system, anomaly_code
ORDER BY client_id, source_system, anomaly_code"""),

    // one lazy plan, one action over the STORED canonical grains: the
    // reference's smoke test counts stored tables, and the header/line
    // materializations play that role here — the three counts union into
    // a single DAG over the cached frames
    "smoke_counts" -> Q(
      (s, d) => {
        def counted(df: DataFrame, name: String): DataFrame =
          df.agg(count(lit(1)).as("row_count"))
            .select(lit(name).as("object_name"), col("row_count"))
        counted(survivors(s, d), "CAN_TXN")
          .unionByName(counted(allAnomalies(s, d), "CAN_TXN_ANOMALY"))
          .unionByName(counted(allLines(s, d), "CAN_TXN_LINE"))
          .orderBy("object_name")
      },
      s"""WITH ${OracleFrags.synthCtes}, ${OracleFrags.linesCtes},
anoms AS (
  SELECT canonical_txn_id FROM surv WHERE dup_cnt > 1
  UNION ALL SELECT canonical_txn_id FROM surv
    WHERE txn_timestamp IS NULL OR total_amount IS NULL
  UNION ALL SELECT canonical_txn_id FROM surv WHERE total_amount < 0
  UNION ALL SELECT canonical_txn_id FROM lines_all
    WHERE quantity < 0 OR line_amount < 0)
SELECT 'CAN_TXN' AS object_name, count(*) AS row_count FROM surv
UNION ALL SELECT 'CAN_TXN_ANOMALY', count(*) FROM anoms
UNION ALL SELECT 'CAN_TXN_LINE', count(*) FROM lines_all
ORDER BY object_name"""),

    // ----------------------------------------------------------------
    // Data-quality profile of the canonical header table — the
    // observability summary an ops dashboard publishes per load: row and
    // key cardinalities, per-column null counts, measure bounds. One
    // aggregate pass over the stored table.
    "canon_dq_profile" -> Q(
      (s, d) => survivors(s, d)
        .agg(count(lit(1)).as("n_rows"),
          countDistinct(col("canonical_txn_id")).as("n_txn_ids"),
          countDistinct(col("client_id")).as("n_clients"),
          countDistinct(col("source_system")).as("n_sources"),
          sum(when(col("txn_timestamp").isNull, 1L).otherwise(0L))
            .as("null_ts"),
          sum(when(col("total_amount").isNull, 1L).otherwise(0L))
            .as("null_amount"),
          countDistinct(col("currency")).as("n_currencies"),
          min(col("total_amount")).cast("double").as("min_amount"),
          max(col("total_amount")).cast("double").as("max_amount"),
          sum(when(col("is_valid"), 1L).otherwise(0L)).as("n_valid")),
      s"""WITH ${OracleFrags.synthCtes}
SELECT count(*) AS n_rows,
  count(DISTINCT canonical_txn_id) AS n_txn_ids,
  count(DISTINCT client_id) AS n_clients,
  count(DISTINCT source_system) AS n_sources,
  cast(sum(CASE WHEN txn_timestamp IS NULL THEN 1 ELSE 0 END) as bigint) AS null_ts,
  cast(sum(CASE WHEN total_amount IS NULL THEN 1 ELSE 0 END) as bigint) AS null_amount,
  count(DISTINCT currency) AS n_currencies,
  cast(min(total_amount) as double) AS min_amount,
  cast(max(total_amount) as double) AS max_amount,
  cast(sum(CASE WHEN is_valid THEN 1 ELSE 0 END) as bigint) AS n_valid
FROM surv"""),

    // ----------------------------------------------------------------
    // ORC round-trip parity: the canonical header table written to ORC
    // and read back must aggregate identically to the parquet-derived
    // pipeline — a lossless decimal/timestamp/array round-trip through the
    // second columnar format (multi-format sink/source surface). Written
    // once per (session, dir); the oracle never sees ORC, which is the
    // point: losslessness means the digest is format-independent.
    "ing_orc_roundtrip" -> Q(
      (s, d) => {
        val dir = scratchDir(s, d, "orc")(f =>
          survivors(s, d).write.mode("overwrite").orc(f.toString))
        s.read.orc(dir.toString)
          .groupBy("client_id", "source_system")
          .agg(count(lit(1)).as("txn_count"),
            countDistinct(col("canonical_txn_id")).as("distinct_txns"),
            sum(col("total_amount").cast("decimal(38,9)"))
              .cast("double").as("total_amount"))
          .orderBy("client_id", "source_system")
      },
      s"""WITH ${OracleFrags.synthCtes}
SELECT client_id, source_system, count(*) AS txn_count,
  count(DISTINCT canonical_txn_id) AS distinct_txns,
  cast(sum(cast(total_amount as decimal(38,9))) as double) AS total_amount
FROM surv GROUP BY client_id, source_system
ORDER BY client_id, source_system"""),

    // ----------------------------------------------------------------
    // Schema evolution across landed batches: an early batch without a
    // later-added column and a new batch with it read together under
    // mergeSchema — the long-lived-pipeline reality (fields appear over
    // time; old files backfill null). The aggregate proves the unified
    // read: LEGACY rows are exactly the old-schema files' rows.
    "ing_schema_evolution" -> Q(
      (s, d) => {
        val base = scratchDir(s, d, "evo") { f =>
          val o = Tables.orders(s, d)
          o.filter(col("o_orderkey") % 2 === 0)
            .select("o_orderkey", "o_custkey", "o_totalprice")
            .write.mode("overwrite")
            .parquet(new java.io.File(f, "v1").toString)
          o.filter(col("o_orderkey") % 2 === 1)
            .select(col("o_orderkey"), col("o_custkey"),
              col("o_totalprice"), col("o_orderpriority"))
            .write.mode("overwrite")
            .parquet(new java.io.File(f, "v2").toString)
        }
        s.read.option("mergeSchema", "true")
          .parquet(new java.io.File(base, "v1").toString,
            new java.io.File(base, "v2").toString)
          .groupBy(coalesce(col("o_orderpriority"), lit("LEGACY"))
            .as("priority"))
          .agg(count(lit(1)).as("n_orders"),
            sum(col("o_totalprice").cast("decimal(38,9)"))
              .cast("double").as("total"))
          .orderBy("priority")
      },
      """SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderpriority
        |            ELSE 'LEGACY' END AS priority,
        |  count(*) AS n_orders,
        |  cast(sum(cast(o_totalprice as decimal(38,9))) as double) AS total
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin)
  )
}
