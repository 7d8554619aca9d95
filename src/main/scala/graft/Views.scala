package graft

import org.apache.spark.sql.SparkSession

/** SQL-facing surface: registers the engine's tables as temp views so the
  * whole library is usable from `spark.sql` (the way the reference's users
  * query their warehouse). Base tables and the canonical model register
  * eagerly (view creation is lazy — no job runs until a query reads one);
  * operator results register on demand because several of them force
  * one-time fits (cluster labels, BPE merges) at DataFrame construction
  * time.
  */
object Views {

  // events is NOT in this list: its TIMESTAMP(NANOS) column needs the
  // nanosAsLong conversion Tables.events applies — a raw Tables.table read
  // throws on schema inference in any session that hasn't set the legacy
  // conf yet (exactly the fresh-session case register is for)
  private val baseTables = Seq("region", "nation", "customer", "supplier",
    "part", "orders", "lineitem", "documents")

  /** `graft_<table>` for every base table and `graft_can_txn` /
    * `graft_can_txn_line` / `graft_can_txn_anomaly` for the canonical
    * model — the reference's RAW + CANON schema surface as temp views.
    */
  def register(spark: SparkSession, dir: String, prefix: String = "graft_"): Unit = {
    baseTables.foreach { t =>
      Tables.table(spark, dir, t).createOrReplaceTempView(s"$prefix$t")
    }
    // events needs the nanos→micros conversion its loader applies
    Tables.events(spark, dir).createOrReplaceTempView(s"${prefix}events")
    operators.Ingestion.canTxn(spark, dir).toDF()
      .createOrReplaceTempView(s"${prefix}can_txn")
    operators.Ingestion.canTxnLines(spark, dir).toDF()
      .createOrReplaceTempView(s"${prefix}can_txn_line")
    operators.Ingestion.canTxnAnomalies(spark, dir).toDF()
      .createOrReplaceTempView(s"${prefix}can_txn_anomaly")
  }

  /** A [[graft.sources.ManifestTable]] as a queryable view THROUGH the
    * `format("graft")` batch provider, so every predicate a SQL user
    * writes against it reaches the manifest's generation pruning (the
    * plain-SELECT micro-partition skipping the reference's warehouse
    * provides) — unlike a view over `readTable`, which always plans a
    * full scan.
    */
  def registerManifest(spark: SparkSession, root: String, name: String,
      table: String = graft.sources.ManifestTable.DefaultTable): Unit =
    spark.read.format("graft").option("path", root).option("table", table)
      .load().createOrReplaceTempView(name)

  /** Any operator result as a view, e.g.
    * `registerQuery(spark, dir, "q1_agg")` → `SELECT * FROM graft_q1_agg`.
    */
  def registerQuery(spark: SparkSession, dir: String, name: String,
      prefix: String = "graft_"): Unit =
    SparkEntry.queries(name)(spark, dir)
      .createOrReplaceTempView(s"$prefix$name")
}
