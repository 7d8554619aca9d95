package graft.tools

import java.io.File

import graft.Tables
import graft.sources.{GraftCatalog, ManifestTable}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Maintenance-verb bench — the costs the query bench can't see: the
  * table layer's MERGE (copy-on-write vs merge-on-read vs the raw
  * MergeUpsert DataFrame operator), search-index backfill over a
  * many-generation table, and grid vs z-order reclustering. n=3 medians
  * over fresh state per iteration (each run re-creates its table so
  * every timing measures the same work).
  *
  * Prints one JSON line and writes it to SPARK_GRAFT_MAINT_OUT
  * (default maintenance_bench.json).
  *
  * Usage: runMain graft.tools.MaintenanceBench [sfDir]
  */
object MaintenanceBench {

  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")}]")
      .config("spark.sql.shuffle.partitions",
        sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val wh = java.nio.file.Files.createTempDirectory("graft_maint").toString
    spark.conf.set("spark.sql.catalog.mb", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.mb.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS mb.ops")
    val root = new File(wh, "ops")

    val orders = Tables.orders(spark, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderpriority")
      .persist()
    val nRows = orders.count()

    // the merge source: 10% of keys updated (drifted price), 2% new
    val source = orders.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 1.1)
      .unionByName(orders.filter(col("o_orderkey") % 50 === 0)
        // clear of every replicated key space (i * 1e9) a scaled-up
        // input may carry: a 1e9 shift would land inserts ON replica-1
        // keys and trip MERGE's cardinality check with duplicate
        // source keys
        .withColumn("o_orderkey", col("o_orderkey") + 100000000000L))
      .persist()
    source.count(): Unit
    source.createOrReplaceTempView("mb_source")

    def createLoaded(table: String, mode: String,
        searchCols: String = ""): Unit = {
      spark.sql(s"DROP TABLE IF EXISTS mb.ops.$table")
      val extra =
        if (searchCols.nonEmpty) s", 'searchCols'='$searchCols'" else ""
      spark.sql(s"""CREATE TABLE mb.ops.$table (
        o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
        o_orderpriority STRING) USING graft
        TBLPROPERTIES ('mergeKeys'='o_orderkey', 'buckets'='16',
          'rowLevelMode'='$mode'$extra)""")
      orders.write.insertInto(s"mb.ops.$table")
    }

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val mergeSql = (t: String) => s"""
      MERGE INTO mb.ops.$t t USING mb_source s
      ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET t.o_totalprice = s.o_totalprice
      WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_totalprice,
        o_orderpriority) VALUES (s.o_orderkey, s.o_custkey,
        s.o_totalprice, s.o_orderpriority)"""

    val ops = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    val N = 3

    // -- native MERGE, copy-on-write (group rewrite of touched buckets)
    ops("merge_cow") = median((0 until N).map { _ =>
      createLoaded("cow", "copy-on-write")
      timed(spark.sql(mergeSql("cow")): Unit)
    })

    // -- native MERGE, merge-on-read (changed rows + tombstones only)
    ops("merge_mor") = median((0 until N).map { _ =>
      createLoaded("mor", "merge-on-read")
      timed(spark.sql(mergeSql("mor")): Unit)
    })
    // the read tax MoR pays until compaction: one full reconciled scan
    ops("mor_read_reconciled") = median((0 until N).map { _ =>
      timed(spark.sql("SELECT count(*) FROM mb.ops.mor").collect(): Unit)
    })
    ops("mor_compact") =
      timed(ManifestTable.compact(spark, root, "mor"))

    // -- the raw MergeUpsert DataFrame operator (no table layer): the
    //    floor the table-layer merges are measured against
    ops("merge_upsert_operator") = median((0 until N).map { _ =>
      timed(graft.ingest.MergeUpsert
        .upsert(orders, source, Seq("o_orderkey"))
        .write.mode("overwrite").format("noop").save())
    })

    // -- index backfill over a many-generation table: 12 append commits
    //    × 16 buckets ≈ 192 generations, then CALL graft.system.index
    ops("index_backfill") = median((0 until N).map { _ =>
      spark.sql("DROP TABLE IF EXISTS mb.ops.idx")
      spark.sql("""CREATE TABLE mb.ops.idx (
        o_orderkey BIGINT, o_custkey BIGINT, o_totalprice DOUBLE,
        o_orderpriority STRING) USING graft
        TBLPROPERTIES ('mergeKeys'='o_orderkey', 'buckets'='16')""")
      (0 until 12).foreach(i =>
        orders.filter(col("o_orderkey") % 12 === i)
          .write.format("graft").option("path", root.toString)
          .option("table", "idx").option("mergeKeys", "o_orderkey")
          .option("appendOnly", "true").mode("append").save())
      timed(ManifestTable.buildIndexes(spark, root, "idx",
        Seq("o_custkey"), Seq("o_totalprice")): Unit)
    })

    // -- reclustering: equal-count grid vs bit-interleaved z-order on
    //    the same two correlated-ish dimensions
    for ((mode, z) <- Seq("recluster_grid" -> false, "recluster_zorder" -> true))
      ops(mode) = median((0 until N).map { _ =>
        createLoaded("rc", "copy-on-write")
        timed(ManifestTable.reclusterBy(spark, root,
          Seq("o_custkey", "o_totalprice"), "rc", slices = 16, zorder = z))
      })

    // -- bucket-count evolution: up (16→64) and down (16→4, the salted
    //    fan-out path)
    for ((mode, n) <- Seq("rebucket_up" -> 64, "rebucket_down" -> 4))
      ops(mode) = median((0 until N).map { _ =>
        createLoaded("rb", "copy-on-write")
        timed(ManifestTable.rebucket(spark, root, "rb", n))
      })

    val json = "{\"metric\":\"maintenance\",\"sf\":\"" + dir +
      s"""\",\"rows\":$nRows,\"n\":$N,\"ops\":{""" +
      ops.map { case (k, v) => s""""$k":${math.rint(v * 1000) / 1000}""" }
        .mkString(",") + "}}"
    println(json)
    val out = sys.env.getOrElse("SPARK_GRAFT_MAINT_OUT",
      "maintenance_bench.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      (json + "\n").getBytes("UTF-8")): Unit
    spark.stop()
  }
}
