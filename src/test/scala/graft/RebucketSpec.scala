package graft

import java.io.File

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.sources.{GraftCatalog, ManifestTable}
import graft.sources.ManifestTable.TableBatch

/** Bucket-count evolution (`ManifestTable.rebucket`, `CALL
  * graft.system.rebucket`): one atomic physical-only rewrite under the
  * new merge-key hash — content identical, new layout recorded and
  * immediately prunable, feed intact, outstanding merge-on-read deltas
  * collapsed first.
  */
class RebucketSpec extends SparkSpec {

  import spark.implicits._

  private def mk(ids: Seq[Long]): DataFrame =
    ids.map(i => (i, s"r$i", i * 0.5)).toDF("id", "label", "value")

  test("rebucket 4→8: content hash-equal, layout recorded, every row in its new hash bucket, feed intact") {
    val root = new File(
      java.nio.file.Files.createTempDirectory("graft_rb").toString)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch("t", mk(0L until 64L), Seq("id"), 4, changeFeed = true,
        statsCols = Seq("value"))))
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch("t", mk(0L until 16L), Seq("id"), 4, changeFeed = true)))
    val before = ManifestTable.readTable(spark, root.toString, table = "t")
      .collect().map(_.toString).toSet
    val feedBefore = ManifestTable.read(root).get.table("t")

    ManifestTable.rebucket(spark, root, "t", 8)

    val ts = ManifestTable.read(root).get.table("t")
    assert(ts.numBuckets == 8)
    assert(ts.buckets.keySet.forall(b => b >= 0 && b < 8))
    // feed survives a physical-only rewrite
    assert(ts.feedFrom == feedBefore.feedFrom && ts.feedFrom >= 0)
    assert(ts.changes == feedBefore.changes)
    assert(ManifestTable.readTable(spark, root.toString, table = "t")
      .collect().map(_.toString).toSet == before)

    // every generation holds ONLY rows hashing to its bucket — the
    // invariant key-equality pruning relies on
    ts.buckets.foreach { case (b, gens) =>
      val dirs = gens.map(g => new File(root, g.path).toString)
      val bad = spark.read.schema(ts.schema).parquet(dirs: _*)
        .withColumn("__b", pmod(xxhash64(col("id")), lit(8)))
        .filter(col("__b") =!= b).count()
      assert(bad == 0L, s"bucket $b holds $bad foreign rows")
    }
    // and the covering-bucket read surface answers correctly under the
    // new layout
    val got = ManifestTable.readTableForKeys(spark, root.toString, "id",
      Seq(3L, 42L), 8, "t").select("id").collect().map(_.getLong(0)).toSet
    assert(got == Set(3L, 42L))
  }

  test("rebucket DOWN spreads each bucket's rows across salted writer tasks instead of one task per bucket") {
    val root = new File(
      java.nio.file.Files.createTempDirectory("graft_rb3").toString)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch("t", mk(0L until 64L), Seq("id"), 8)))
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "16")
    try ManifestTable.rebucket(spark, root, "t", 2)
    finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    val ts = ManifestTable.read(root).get.table("t")
    assert(ts.numBuckets == 2)
    val filesPerGen = ts.gens.map(g =>
      new File(root, g.path).listFiles.count(_.getName.endsWith(".parquet")))
    // 16 shuffle partitions / 2 buckets = 8 salted slots per bucket:
    // the generations must hold multiple files, proving the fan-out
    assert(filesPerGen.sum > ts.gens.size,
      s"expected salted multi-file generations, got $filesPerGen")
    assert(ManifestTable.readTable(spark, root.toString, table = "t")
      .count() == 64L)
  }

  test("a merge-on-read table collapses its deltas first; CALL graft.system.rebucket drives it from SQL") {
    val wh = java.nio.file.Files.createTempDirectory("graft_rb2").toString
    spark.conf.set("spark.sql.catalog.rb2", classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.rb2.warehouse", wh)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS rb2.ops")
    spark.sql("""CREATE TABLE rb2.ops.t (id BIGINT NOT NULL, v DOUBLE)
      USING graft TBLPROPERTIES ('mergeKeys'='id', 'buckets'='2',
        'rowLevelMode'='merge-on-read')""")
    spark.sql("INSERT INTO rb2.ops.t SELECT id, cast(id AS double) FROM range(32)")
    spark.sql("UPDATE rb2.ops.t SET v = -1.0 WHERE id < 8")
    val root = new File(wh, "ops")
    assert(ManifestTable.read(root).get.table("t").deltas.nonEmpty)

    val out = spark.sql("CALL rb2.system.rebucket('ops', 't', 6)").collect()
    assert(out.head.getInt(0) == 6)
    val ts = ManifestTable.read(root).get.table("t")
    assert(ts.numBuckets == 6 && ts.deltas.isEmpty)
    assert(spark.sql("SELECT count(*) FROM rb2.ops.t WHERE v = -1.0")
      .head.getLong(0) == 8L)
    assert(spark.sql("SELECT sum(v) FROM rb2.ops.t WHERE id >= 8")
      .head.getDouble(0) == (8L until 32L).map(_.toDouble).sum)

    // ALTER refuses the property with the remedy
    val e = intercept[Exception] {
      spark.sql("ALTER TABLE rb2.ops.t SET TBLPROPERTIES ('buckets'='4')")
    }
    assert(e.getMessage.contains("rebucket"))
  }

  test("a rebucket at a delta-entry version records REBUCKET:<old>-><new> in history, exactly as a checkpoint version would") {
    val root = new File(
      java.nio.file.Files.createTempDirectory("graft_rb_hist").toString)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch("t", mk(0L until 32L), Seq("id"), 8)))
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch("t", mk(32L until 48L), Seq("id"), 8)))
    ManifestTable.rebucket(spark, root, "t", 4)
    val v = ManifestTable.read(root).get.version
    assert(v % ManifestTable.CheckpointInterval != 0)
    // the version file is a delta entry, not a full snapshot
    val entry = new String(java.nio.file.Files.readAllBytes(
      new File(root, s"MANIFEST.v$v").toPath))
    assert(entry.contains("\"delta\""), s"v$v should be a delta entry")
    val op = ManifestTable.history(spark, root)
      .filter(col("version") === v).head.getString(1)
    assert(op == "REBUCKET:8->4", s"history op at v$v: $op")
    assert(ManifestTable.read(root).get.info.operation == "REBUCKET:8->4")
  }
}
