package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Parquet table loaders for the driver-generated test schema
  * (`/root/testdata/sf*`). Column pruning + predicate pushdown are left to
  * Catalyst — callers `.select` the columns they need and the parquet scan
  * reads only those (verified in PlanSpec).
  */
object Tables {
  /** Resolved-DataFrame cache per (session, dir, table): `spark.read
    * .parquet` re-lists the directory and re-reads the parquet footer
    * schema on EVERY call, and the entry points build each table fresh
    * per query per iteration — a pure fixed cost repeated hundreds of
    * times per bench run (guide §6: listing/planning overhead). The
    * DataFrame object is an immutable logical plan, so reusing it is
    * semantically identical: every execution still scans the parquet
    * files; only the relation resolution (listing + schema) is shared.
    *
    * IMMUTABILITY ASSUMPTION (ADVICE r15): the cached entry pins the
    * file listing and footer schema at FIRST access, so a source dir
    * rewritten or appended mid-session would be served stale (or fail
    * at execution) where a fresh spark.read re-resolved it. The bench/
    * verify inputs are immutable test data, and every ENGINE write path
    * goes to per-session scratch dirs that are never read back through
    * this cache; a future write path that rewrites a dir served here
    * must call `Caches.release` (which drops these entries) first.
    */
  private val relCache =
    scala.collection.concurrent.TrieMap.empty[(String, String, String), DataFrame]

  Caches.register { app =>
    relCache.filterInPlace { case ((a, _, _), _) => a != app }
  }

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    relCache.getOrElseUpdate(
      (spark.sparkContext.applicationId, dir, name),
      spark.read.parquet(s"$dir/$name.parquet"))

  /** Fan an unsplittable scan out to the session's parallelism BEFORE
    * per-row heavy map work (tokenizing, hashing, pair scoring). The
    * test inputs are single-row-group parquet files, so their scans are
    * one task each and everything before the first exchange runs on one
    * core (guide §2.5: unsplittable input → repartition immediately
    * after the read). Scale-adaptive, not a local[32] constant: when the
    * scan already yields at least half the session's parallelism — any
    * real multi-file corpus — this is the identity, so no corpus-wide
    * round-robin shuffle is ever added at scale.
    */
  // the splittability probe (df.rdd.getNumPartitions) forces FULL physical
  // planning of the pre-AQE plan, and the hot entry points call fanOut per
  // query per iteration on the same handful of plans — memoize the DECISION
  // per (app, analyzed-plan semantic hash) so each distinct input pays the
  // probe once per session (ADVICE r15 / guide §1: don't re-plan to learn a
  // constant). The decision, not the frame: fanOut must keep returning the
  // caller's own df (identity) or a fresh repartition of it.
  private val fanOutDecision =
    scala.collection.concurrent.TrieMap.empty[(String, Int), Boolean]

  Caches.register { app =>
    fanOutDecision.filterInPlace { case ((a, _), _) => a != app }
  }

  def fanOut(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (p <= 2) return df
    val key = (df.sparkSession.sparkContext.applicationId,
      df.queryExecution.analyzed.semanticHash())
    val needsFan = fanOutDecision.getOrElseUpdate(key,
      df.rdd.getNumPartitions < math.max(2, p / 2))
    if (needsFan) df.repartition(p) else df
  }

  def region(s: SparkSession, d: String): DataFrame    = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame    = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame  = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame  = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame      = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame    = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame  = table(s, d, "lineitem")
  /** `events.ts` has shipped in two physical shapes across testdata
    * generations; normalize BOTH to a session-zone TimestampType so every
    * downstream operator sees one stable type:
    *  - TIMESTAMP(NANOS): Spark's vectorized reader rejects it — read as
    *    raw long nanos (legacy conf) and convert with exact integer
    *    division (`DIV` — a double divide would lose precision at
    *    ~1.7e18 ns), matching the DuckDB oracle's `cast(ts as timestamp)`
    *    truncation.
    *  - timestamp[us] without isAdjustedToUTC: reads as TIMESTAMP_NTZ —
    *    cast to TimestampType (value-preserving under the UTC session
    *    zone all entry points set).
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr}
    import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}
    // sessions built by Engine/Verify/Bench set this at construction; only
    // patch sessions that missed it (avoids re-mutating shared config on
    // every call, which could race concurrently-planned reads). Harmless
    // for non-nanos files: the conf only affects TIMESTAMP(NANOS) columns.
    if (s.conf.get("spark.sql.legacy.parquet.nanosAsLong", "false") != "true")
      s.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(s, d, "events")
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", expr("timestamp_micros(ts DIV 1000)"))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw // already TimestampType
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
}
