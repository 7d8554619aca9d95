package graft.perfbench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Compares engine output with the expected-state model. A mismatch is
  * recorded, not thrown: the run goes on to its end and then reports
  * `correct: false` with every mismatch on standard error.
  */
final class Check {
  private val failures = scala.collection.mutable.ArrayBuffer.empty[String]

  def ok: Boolean = failures.isEmpty
  def report(): Unit = failures.take(20).foreach(f => System.err.println(s"MISMATCH $f"))

  /** The rows of `df` rendered as [[Model]] renders them, sorted. */
  def rendered(df: DataFrame, cols: Seq[String]): Vector[String] =
    df.select(concat_ws(Model.Sep, cols.map(c =>
      coalesce(col(c).cast("string"), lit(Model.Null))): _*))
      .collect().map(_.getString(0)).toVector.sorted

  def same(what: String, got: Seq[String], want: Seq[String]): Boolean = {
    val g = got.sorted
    val w = want.sorted
    if (g != w) {
      val missing = w.diff(g).take(2)
      val extra = g.diff(w).take(2)
      failures += s"$what: got ${g.size} rows, want ${w.size}; " +
        s"missing ${missing.mkString(" | ")}; unexpected ${extra.mkString(" | ")}"
      false
    } else true
  }

  def table(what: String, df: DataFrame, cols: Seq[String],
      want: Seq[String]): Boolean =
    same(what, rendered(df, cols), want)

  def expect(what: String, cond: Boolean, detail: => String): Boolean = {
    if (!cond) failures += s"$what: $detail"
    cond
  }
}

/** The sql/07 ops views as aggregates over the canonical frames. */
object Views {
  val canonCountCols = Seq("client_id", "source_system", "txn_count",
    "valid_txn_count", "invalid_txn_count")
  val anomalyCountCols = Seq("client_id", "source_system", "anomaly_code",
    "anomaly_count")
  val auditSummaryCols = Seq("file_type", "load_status", "batch_count",
    "total_rows_parsed", "total_rows_loaded", "total_errors_seen",
    "latest_load_ts")

  def canonCounts(headers: DataFrame): DataFrame = headers
    .groupBy(col("client_id"), col("source_system"))
    .agg(count(lit(1)).as("txn_count"),
      sum(when(col("is_valid"), 1L).otherwise(0L)).as("valid_txn_count"),
      sum(when(col("is_valid"), 0L).otherwise(1L)).as("invalid_txn_count"))

  def anomalyCounts(anoms: DataFrame): DataFrame = anoms
    .groupBy(col("client_id"), col("source_system"), col("anomaly_code"))
    .agg(count(lit(1)).as("anomaly_count"))

  def auditSummary(audit: DataFrame): DataFrame = audit
    .groupBy(col("file_type"), col("load_status"))
    .agg(count(lit(1)).as("batch_count"),
      sum(col("rows_parsed")).as("total_rows_parsed"),
      sum(col("rows_loaded")).as("total_rows_loaded"),
      sum(col("errors_seen")).as("total_errors_seen"),
      max(col("load_ts")).as("latest_load_ts"))
}
