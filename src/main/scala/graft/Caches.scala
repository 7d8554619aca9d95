package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Registry for the per-session materialized tables (the stored-table
  * analogues: canonical headers/survivors, LSH candidates, fingerprint
  * index). Each module registers a releaser at init;
  * `release(spark)` unpersists and forgets every entry belonging to that
  * session — the unpersist hook a long-lived session needs after it is
  * done with a source dir (the caches are otherwise unbounded per
  * (session, dir) by design, mirroring stored tables).
  */
object Caches {
  private val releasers =
    scala.collection.mutable.ArrayBuffer.empty[String => Unit]

  def register(r: String => Unit): Unit = synchronized { releasers += r; () }

  def release(s: SparkSession): Unit = {
    val app = s.sparkContext.applicationId
    val rs = synchronized(releasers.toList)
    rs.foreach(_(app))
  }

  /** A (session, key)-scoped persisted-DataFrame cache with its releaser
    * pre-registered — the one shape every module's stored-table cache
    * shares (persist on build, unpersist-then-forget on release). One
    * implementation so a new cache can't forget the unpersist or the
    * appId keying.
    */
  final class DfCache {
    private val m = scala.collection.concurrent.TrieMap
      .empty[(String, String), org.apache.spark.sql.DataFrame]
    register { app =>
      m.filterInPlace { case ((a, _), df) =>
        if (a == app) df.unpersist() else (); a != app }
    }
    def getOrElseUpdate(s: SparkSession, key: String)
        (build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
      m.getOrElseUpdate((s.sparkContext.applicationId, key),
        build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  def dfCache(): DfCache = new DfCache

  /** Deterministic physical layout for a build output, applied just
    * before its persist/write: hash-repartition on the table's own key
    * to the session's shuffle parallelism, then sort within partitions
    * on a total order. Row→partition assignment and in-partition row
    * order become pure functions of row VALUES — never of task
    * scheduling — so the materialized layout (partition count, batch
    * sizes, the size-in-bytes stats downstream plans bake broadcast
    * decisions from) is identical run to run. Without the pin, the
    * adaptive runtime's coalescing of the build's final stage rides
    * runtime conditions, and under host load two runs of identical code
    * flipped ~20 build-reader plan fingerprints (SURVEY §6b-13). The
    * explicit partition count is user-specified, so AQE never
    * re-coalesces it; consumers keyed the same way inherit a useful
    * co-partitioning, and the key-clustered sort is what a stored-table
    * write wants at cluster scale anyway (stable file count, co-located
    * key access, run-length-friendly encoding).
    */
  def pinLayout(df: DataFrame, partKeys: Seq[Column],
      order: Seq[Column]): DataFrame = {
    val n = df.sparkSession.sessionState.conf.numShufflePartitions
    df.repartition(n, partKeys: _*).sortWithinPartitions(order: _*)
  }

  /** Layout pin for dimension-sized build outputs (centroids, codebooks,
    * merge tables, loadings): ONE partition — fixed layout without
    * splitting a few hundred rows across near-empty cached batches,
    * which would distort the dim's size estimate.
    */
  def pinDim(df: DataFrame, order: Column*): DataFrame =
    df.repartition(1).sortWithinPartitions(order: _*)
}
