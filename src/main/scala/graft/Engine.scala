package graft

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Local test harness runs `local[32]` on one JVM; the configuration is
  * nonetheless written for a multi-executor cluster: AQE enabled (runtime
  * shuffle coalescing + skew-join splitting), shuffle partitions sized to
  * the local core count (on a real cluster this is overridden per-job or
  * left to AQE), UTC session time so results are timezone-stable.
  */
object Engine {
  def session(appName: String = "graft", cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // the engine's own extensions (as-of strategy, metadata-agg
      // rewrite, named change-feed resolution) — the deployment path a
      // cluster job would configure; the ad-hoc fallbacks stay for
      // sessions built without it
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // columnar-cache compression is a CPU-for-memory trade: the stored
      // staging tables are read-hot (10+ consumers each), and the A/B
      // measured compression costing 3-6x on both the cache build and
      // every cached read of the wide string grains. OFF for this engine
      // (MEMORY_AND_DISK spill still bounds memory).
      .config("spark.sql.inMemoryColumnarStorage.compressed", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      // events.parquet carries TIMESTAMP(NANOS); set once at construction
      // (a mid-session toggle could race concurrently-planned reads)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // reclaim superseded reliable-checkpoint files (Iterate.checkpoint
      // rounds) once their RDDs are GC'd — otherwise a long-lived session
      // accretes one dataset-sized dir per iterative round
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // opt into reliable per-round checkpointing (Iterate.checkpoint) —
    // on a cluster this is an HDFS/object-store path
    sys.env.get("SPARK_GRAFT_CHECKPOINT_DIR")
      .foreach(spark.sparkContext.setCheckpointDir)
    spark
  }

  def defaultCpus: Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)
}
