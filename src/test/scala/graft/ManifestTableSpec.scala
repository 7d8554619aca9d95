package graft

import java.io.File

import graft.sources.ManifestTable
import graft.sources.ManifestTable.{TableBatch, TableUpdate}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The table layer's transactional surface (SURVEY §2.E / §5): multi-table
  * atomic commits, manifest-level min/max data skipping, sink-side schema
  * evolution, and micro-partition compaction.
  */
class ManifestTableSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).resolve("t").toString

  private def rows(ids: Range, day: Int): DataFrame =
    ids.map { i =>
      (i.toLong, java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:${i % 60}%02d"),
        i.toLong % 7, s"type${i % 3}", i * 1.5)
    }.toDF("event_id", "ts", "user_id", "event_type", "value")

  test("multi-table commit: a crash between one table's write and another's is invisible; the re-run publishes all tables atomically") {
    val target = tmp("graft_multi")
    val root = new File(target)
    val hdr0 = rows(0 until 50, 1)
    val line0 = rows(0 until 120, 1).withColumnRenamed("event_id", "line_id")
    val anom0 = rows(0 until 9, 1)

    // batch 0: all three grains land under ONE manifest swap
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch("hdr", hdr0, Seq("event_id"), 4),
      TableBatch("line", line0, Seq("line_id"), 4),
      TableBatch("anom", anom0, Seq("event_id"), 2)))
    val m0 = ManifestTable.read(root).get
    assert(m0.tables.keySet == Set("hdr", "line", "anom"))
    val before = Seq("hdr", "line", "anom")
      .map(t => t -> ManifestTable.readTable(spark, target, table = t)
        .collect().map(_.toString).toSet).toMap
    assert(before("hdr").size == 50 && before("line").size == 120
      && before("anom").size == 9)

    // simulate batch 1 crashing AFTER writing hdr's and line's data but
    // BEFORE the manifest swap: exactly what a killed multi-table writer
    // leaves — orphan generation dirs for SOME tables, untouched MANIFEST
    rows(50 until 70, 2).write.mode("overwrite")
      .parquet(new File(root, "data/hdr/b1-1").toString)
    rows(120 until 160, 2).write.mode("overwrite")
      .parquet(new File(root, "data/line/b2-1").toString)

    // readers see the OLD version of ALL THREE tables — no torn state
    // where a header exists without its lines
    Seq("hdr", "line", "anom").foreach { t =>
      assert(ManifestTable.readTable(spark, target, table = t)
        .collect().map(_.toString).toSet == before(t), s"table $t torn")
    }
    assert(ManifestTable.read(root).get.version == m0.version)

    // the streaming engine re-delivers batch 1; the re-run commits all
    // three tables with ONE swap and GC removes the crashed orphans
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch("hdr", rows(50 until 70, 2), Seq("event_id"), 4),
      TableBatch("line",
        rows(120 until 160, 2).withColumnRenamed("event_id", "line_id"),
        Seq("line_id"), 4),
      TableBatch("anom", rows(9 until 12, 2), Seq("event_id"), 2)))
    val m1 = ManifestTable.read(root).get
    assert(m1.version == m0.version + 1) // one commit for all three
    assert(ManifestTable.readTable(spark, target, table = "hdr").count() == 70)
    assert(ManifestTable.readTable(spark, target, table = "line").count() == 160)
    assert(ManifestTable.readTable(spark, target, table = "anom").count() == 12)

    // a replayed (queryId, batchId) is a no-op for the WHOLE commit
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch("hdr", rows(50 until 70, 2), Seq("event_id"), 4)))
    assert(ManifestTable.read(root).get.version == m1.version)

    // every data dir on disk is referenced by a retained snapshot (the
    // crashed attempt's orphans were overwritten by the re-run)
    val retained = (math.max(m1.version - ManifestTable.RetainVersions + 1, 0)
      to m1.version)
      .flatMap(v => ManifestTable.readVersionBuckets(root, v)).toSet ++
      m1.allPaths
    def walkDirs(t: String): Set[String] =
      Option(new File(root, s"data/$t").listFiles).getOrElse(Array.empty)
        .map(d => s"data/$t/${d.getName}").toSet
    val onDisk = Set("hdr", "line", "anom").flatMap(walkDirs)
    assert(onDisk.subsetOf(retained))
  }

  test("a fresh-checkpoint restart (new query id, batch ids reset) never collides with committed generations") {
    val target = tmp("graft_restart")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q1", 0L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(0 until 100, 1),
        Seq("event_id"), 4)))
    val v1 = ManifestTable.read(root).get.version
    val committed = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    // same batch id under a NEW query identity (the fresh-checkpoint
    // scenario): must merge cleanly — gen dirs are version-named, so this
    // cannot overwrite or double-list the live v1 dirs
    ManifestTable.mergeBatch(root, "q2", 0L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(50 until 150, 2),
        Seq("event_id"), 4)))
    val after = ManifestTable.readTable(spark, target)
    assert(after.count() == 150)
    assert(after.select("event_id").distinct().count() == 150)
    // the first commit's snapshot is still byte-level intact (time travel)
    val travel = ManifestTable.readTable(spark, target, version = Some(v1))
      .collect().map(_.toString).toSet
    assert(travel == committed)
    // and no bucket lists the same generation dir twice
    val ts = ManifestTable.read(root).get.table(ManifestTable.DefaultTable)
    ts.buckets.foreach { case (b, gens) =>
      assert(gens.map(_.path).distinct.size == gens.size, s"bucket $b: $gens")
    }
  }

  test("append generations carry narrow ts stats: a ts-range read opens only covering dirs and equals the full scan") {
    val target = tmp("graft_stats")
    val root = new File(target)
    // five daily append batches — each generation's ts span is one day,
    // the micro-partition layout stats skipping exists for
    (0 until 5).foreach { day =>
      ManifestTable.mergeBatch(root, "q", day.toLong, Seq(
        TableBatch(ManifestTable.DefaultTable,
          rows(day * 100 until (day + 1) * 100, day + 1),
          Seq("event_id"), 4, statsCols = Seq("ts", "event_id"),
          append = true)))
    }
    val ts = ManifestTable.read(root).get.table(ManifestTable.DefaultTable)
    val totalGens = ts.gens.size
    assert(totalGens > 4, "expected one generation per (bucket, day)")

    val lo = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-03-02 23:59:59")
    // manifest-level skipping: only day-2's generations survive pruning
    val covering = ManifestTable.gensForRange(ts, "ts", lo, hi)
    assert(covering.nonEmpty && covering.size < totalGens,
      s"pruned nothing: ${covering.size} of $totalGens")
    // day 2 = the second commit = manifest version 2 (gen dirs are named
    // by the publishing commit's version plus the writer nonce)
    assert(covering.forall(_.path.contains("-v2-")),
      s"kept a non-covering generation: ${covering.map(_.path)}")

    // and the pruned read is EXACTLY the full-scan filter
    val pruned = ManifestTable.readTableRange(spark, target, "ts", lo, hi)
      .collect().map(_.toString).toSet
    val full = ManifestTable.readTable(spark, target)
      .filter(col("ts").between(lit(lo), lit(hi)))
      .collect().map(_.toString).toSet
    assert(pruned == full && pruned.size == 100)

    // numeric stats prune on the merge key's ranges too (ids are
    // batch-clustered here): event_id range inside day 4's block, whose
    // publishing commit is manifest version 4
    val idGens = ManifestTable.gensForRange(ts, "event_id", 310L, 350L)
    assert(idGens.size < totalGens && idGens.forall(_.path.contains("-v4-")))
  }

  test("recluster slices buckets into range-disjoint generations: a ts window opens a fraction of each bucket, table and feed intact") {
    val target = tmp("graft_recluster")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // ONE merged batch: each of 4 key-hashed buckets gets ONE generation
    // whose ts span covers nearly the full minute (ids interleave across
    // buckets) — the merge-heavy layout where per-gen stats prune nothing
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, rows(0 until 200, 1), Seq("event_id"), 4,
        statsCols = Seq("ts"), changeFeed = true)))
    val before = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    val ts0 = ManifestTable.read(root).get.table(t)
    assert(ts0.gens.size == 4)
    val lo = java.sql.Timestamp.valueOf("2024-03-01 12:00:10")
    val hi = java.sql.Timestamp.valueOf("2024-03-01 12:00:15")
    // un-clustered: every bucket's single wide-span generation survives
    assert(ManifestTable.gensForRange(ts0, "ts", lo, hi).size == 4)

    ManifestTable.recluster(spark, root, "ts", slices = 4)
    val ts1 = ManifestTable.read(root).get.table(t)
    assert(ts1.gens.size > 4, "expected range slices within buckets")
    // the narrow window now opens ~1/slices of each bucket
    val covering = ManifestTable.gensForRange(ts1, "ts", lo, hi)
    assert(covering.size <= ts1.gens.size / 2,
      s"pruned nothing: ${covering.size} of ${ts1.gens.size}")
    // pruned read == full-scan filter; row set byte-identical
    val pruned = ManifestTable.readTableRange(spark, target, "ts", lo, hi)
      .collect().map(_.toString).toSet
    val full = ManifestTable.readTable(spark, target)
      .filter(col("ts").between(lit(lo), lit(hi)))
      .collect().map(_.toString).toSet
    assert(pruned == full && pruned.nonEmpty)
    assert(ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet == before)
    // key-bucket routing unchanged: point lookups still prune to one
    // bucket's (now sliced) generations
    val lookup = ManifestTable.readTableForKeys(spark, target, "event_id",
      Seq(42L), 4).collect()
    assert(lookup.length == 1 && lookup.head.getLong(0) == 42L)
    // physical-only: the change feed did NOT reset, and a merge after
    // reclustering still appends feed entries
    assert(ts1.feedFrom >= 0 && ts1.changes.size == ts0.changes.size)
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(t, rows(200 until 210, 2), Seq("event_id"), 4,
        statsCols = Seq("ts"), changeFeed = true)))
    assert(ManifestTable.readChangeFeed(spark, target,
      ManifestTable.read(root).get.table(t).feedFrom).count() >= 210)
  }

  test("reclustering on a STRING column: lexical cells prune an equality/range predicate to ≤ half the generations, pruned ≡ full scan") {
    val target = tmp("graft_recluster_str")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // the reference's clustering realities are STRING client ids
    // (sql/02_canonical_ddl.sql: client_id, source_system): interleaved
    // ids so every key-hashed bucket's single generation spans the whole
    // client alphabet — stats prune nothing until reclustered
    val df = (0 until 400).map { i =>
      (i.toLong, f"client_${('a' + i % 8).toChar}%s", i * 1.5)
    }.toDF("event_id", "client_id", "value")
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, df, Seq("event_id"), 4, statsCols = Seq("client_id"))))
    val before = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    val ts0 = ManifestTable.read(root).get.table(t)
    assert(ManifestTable.gensForRange(ts0, "client_id",
      "client_b", "client_c").size == ts0.gens.size,
      "unclustered layout should not prune")

    ManifestTable.reclusterBy(spark, root, Seq("client_id"), slices = 4)
    val ts1 = ManifestTable.read(root).get.table(t)
    assert(ts1.gens.size > 4, "expected lexical slices within buckets")
    val covering = ManifestTable.gensForRange(ts1, "client_id",
      "client_b", "client_c")
    assert(covering.size <= ts1.gens.size / 2,
      s"string recluster pruned nothing: ${covering.size} of ${ts1.gens.size}")
    // equality predicate (range collapsed to a point) prunes at least as
    // tightly, and the pruned read hash-equals the full-scan filter
    val eq = ManifestTable.gensForRange(ts1, "client_id",
      "client_d", "client_d")
    assert(eq.size <= covering.size)
    val pruned = ManifestTable.readTableRange(spark, target, "client_id",
      "client_b", "client_c").collect().map(_.toString).toSet
    val full = ManifestTable.readTable(spark, target)
      .filter(col("client_id").between(lit("client_b"), lit("client_c")))
      .collect().map(_.toString).toSet
    assert(pruned == full && pruned.nonEmpty)
    assert(ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet == before)
  }

  test("composite reclustering: grid cells are tight on BOTH columns and a mixed predicate prunes multiplicatively") {
    val target = tmp("graft_recluster2")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // one merged batch: every bucket's single generation spans the full
    // range of BOTH user_id and ts, so neither dimension prunes anything
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, rows(0 until 400, 1), Seq("event_id"), 4,
        statsCols = Seq("ts"), changeFeed = true)))
    val before = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    val lo = java.sql.Timestamp.valueOf("2024-03-01 12:00:05")
    val hi = java.sql.Timestamp.valueOf("2024-03-01 12:00:20")
    val ts0 = ManifestTable.read(root).get.table(t)
    assert(ManifestTable.gensForRange(ts0, "user_id", 0L, 1L).size
      == ts0.gens.size)

    ManifestTable.reclusterBy(spark, root, Seq("user_id", "ts"), slices = 4)
    val ts1 = ManifestTable.read(root).get.table(t)
    val total = ts1.gens.size
    assert(total > 4, "expected grid cells within buckets")
    // each single dimension prunes on its own…
    val byUser = ManifestTable.gensForRange(ts1, "user_id", 0L, 1L)
      .map(_.path).toSet
    val byTs = ManifestTable.gensForRange(ts1, "ts", lo, hi).map(_.path).toSet
    assert(byUser.size < total && byTs.size < total)
    // …and the conjunction opens at most half the generations (the grid
    // makes the prunings multiply, not just intersect trivially)
    val both = byUser.intersect(byTs)
    assert(both.size <= total / 2,
      s"mixed predicate pruned nothing: ${both.size} of $total")
    assert(both.size < math.min(byUser.size, byTs.size) ||
      both.size <= total / 4,
      "conjunction no better than a single dimension")
    // pruned read ≡ full-scan filter, and the table row set is untouched
    val pruned = ManifestTable.readTableRanges(spark, target,
      Seq(("user_id", 0L, 1L), ("ts", lo, hi))).collect()
      .map(_.toString).toSet
    val full = ManifestTable.readTable(spark, target)
      .filter(col("user_id").between(0L, 1L) &&
        col("ts").between(lit(lo), lit(hi)))
      .collect().map(_.toString).toSet
    assert(pruned == full && pruned.nonEmpty)
    assert(ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet == before)
    // physical-only: feed intact across the rewrite
    assert(ManifestTable.read(root).get.table(t).feedFrom >= 0)
  }

  test("compaction collapses multi-generation buckets without changing the table, stats recomputed") {
    val target = tmp("graft_compact")
    val root = new File(target)
    (0 until 4).foreach { day =>
      ManifestTable.mergeBatch(root, "q", day.toLong, Seq(
        TableBatch(ManifestTable.DefaultTable,
          rows(day * 50 until (day + 1) * 50, day + 1),
          Seq("event_id"), 2, statsCols = Seq("ts"), append = true)))
    }
    val before = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    val gensBefore = ManifestTable.read(root).get
      .table(ManifestTable.DefaultTable).gens.size
    assert(gensBefore == 8) // 2 buckets x 4 days

    ManifestTable.compact(spark, root, statsCols = Seq("ts"))
    val tsAfter = ManifestTable.read(root).get.table(ManifestTable.DefaultTable)
    assert(tsAfter.gens.size == 2) // one generation per bucket
    assert(ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet == before)
    // compacted generations carry recomputed (now full-span) ts stats
    assert(tsAfter.gens.forall(_.stats.contains("ts")))
  }

  test("every generation writer lands one parquet file per generation with exact recorded counts and bounds; a bucket a merge empties publishes none") {
    val target = tmp("graft_layout")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    val tracked = Seq("ts", "event_type", "value")
    def bucketOf(c: org.apache.spark.sql.Column) = pmod(xxhash64(c), lit(4L))
    // every live generation: exactly one parquet file, and the recorded
    // row count and min/max bounds equal a recount from that file
    def checkLayout(step: String): Unit = {
      val ts = ManifestTable.read(root).get.table(t)
      assert(ts.gens.nonEmpty)
      ts.gens.foreach { g =>
        val dir = new File(root, g.path)
        val files = dir.listFiles.filter(_.getName.endsWith(".parquet"))
        assert(files.length == 1,
          s"$step: ${g.path} holds ${files.length} parquet files")
        val df = spark.read.schema(ts.schema).parquet(dir.toString)
        assert(g.rows == df.count(), s"$step: ${g.path} row count")
        assert(tracked.forall(g.stats.contains), s"$step: ${g.path} stats")
        val bounds = df.agg(
          unix_micros(min("ts")), unix_micros(max("ts")),
          min("event_type"), max("event_type"),
          min("value"), max("value")).head
        def num(v: Any) = BigDecimal(v.toString)
        assert(num(g.stats("ts").lo) == num(bounds.get(0)) &&
          num(g.stats("ts").hi) == num(bounds.get(1)), s"$step: ts bounds")
        assert(g.stats("event_type").lo == bounds.getString(2) &&
          g.stats("event_type").hi == bounds.getString(3),
          s"$step: event_type bounds")
        assert(num(g.stats("value").lo) == num(bounds.get(4)) &&
          num(g.stats("value").hi) == num(bounds.get(5)), s"$step: value bounds")
      }
    }
    def table() = ManifestTable.readTable(spark, target)

    // a base merge into an empty table
    ManifestTable.mergeBatch(root, "q", 0L, Seq(TableBatch(t,
      rows(0 until 200, 1).repartition(5), Seq("event_id"), 4,
      statsCols = tracked)))
    checkLayout("base merge")
    assert(table().count() == 200L)

    // replace-by-key: the delete set is every key of bucket 2, the upsert
    // rows update five keys elsewhere — bucket 2 is left with no rows
    val emptied = 2L
    val goneIds = table().filter(bucketOf(col("event_id")) === emptied)
      .select("event_id").collect().map(_.getLong(0)).toSeq
    val goneCount = goneIds.size.toLong
    assert(goneCount > 0L)
    val upd = rows(0 until 40, 9).filter(bucketOf(col("event_id")) =!= emptied)
      .limit(5)
    ManifestTable.mergeBatch(root, "q", 1L, Seq(TableBatch(t, upd,
      Seq("event_id"), 4, statsCols = tracked,
      deleteKeys = Some(goneIds.toDF("event_id")))))
    checkLayout("replace-by-key merge")
    val afterReplace = ManifestTable.read(root).get.table(t)
    assert(afterReplace.buckets.get(emptied).forall(_.isEmpty),
      "the emptied bucket still publishes a generation")
    assert(table().count() == 200L - goneCount)
    assert(table().filter(bucketOf(col("event_id")) === emptied).isEmpty)
    assert(spark.read.format("graft").option("path", target).load()
      .filter(col("event_id") === goneIds.head).isEmpty)
    assert(table().filter(col("ts") >=
      lit(java.sql.Timestamp.valueOf("2024-03-09 00:00:00"))).count() == 5L)

    // two appends make multi-generation buckets; compaction folds each
    // bucket into one generation
    (0 until 2).foreach { i =>
      ManifestTable.mergeBatch(root, "q", 2L + i, Seq(TableBatch(t,
        rows(200 + i * 60 until 260 + i * 60, 3 + i).repartition(3),
        Seq("event_id"), 4, statsCols = tracked, append = true)))
    }
    checkLayout("append")
    val beforeCompact = table().collect().map(_.toString).toSet
    ManifestTable.compact(spark, root)
    checkLayout("compact")
    val compacted = ManifestTable.read(root).get.table(t)
    assert(compacted.buckets.values.forall(_.size <= 1))
    assert(table().collect().map(_.toString).toSet == beforeCompact)

    // predicate delete and update over several generations at once
    val hit = col("event_id") % 10 === 3L
    val matched = table().filter(hit).count()
    assert(ManifestTable.deleteWhere(spark, root, hit) == matched)
    checkLayout("deleteWhere")
    assert(table().filter(hit).isEmpty)
    val rest = table().count()
    val upHit = col("event_id") % 10 === 5L
    val upCount = table().filter(upHit).count()
    assert(ManifestTable.updateWhere(spark, root, upHit,
      Map("value" -> (col("value") + 1000.0))) == upCount)
    checkLayout("updateWhere")
    assert(table().count() == rest)
    assert(table().filter(upHit && col("value") < 1000.0).isEmpty)
  }

  test("deleteWhere removes matching rows atomically: untouched generations keep their dirs, the feed carries delete preimages, old snapshots still serve") {
    val target = tmp("graft_delete")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // four day-sliced append generations with a change feed
    (0 until 4).foreach { day =>
      ManifestTable.mergeBatch(root, "q", day.toLong, Seq(
        TableBatch(t, rows(day * 50 until (day + 1) * 50, day + 1),
          Seq("event_id"), 2, statsCols = Seq("ts"), append = true,
          changeFeed = true)))
    }
    val m0 = ManifestTable.read(root).get
    val ts0 = m0.table(t)
    val day2 = (col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-02 00:00:00"))) &&
      (col("ts") < lit(java.sql.Timestamp.valueOf("2024-03-03 00:00:00")))
    val day2Gens = ManifestTable.gensForRange(ts0, "ts",
      java.sql.Timestamp.valueOf("2024-03-02 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-02 23:59:59")).map(_.path).toSet

    val deleted = ManifestTable.deleteWhere(spark, root, day2)
    assert(deleted == 50L)
    val m1 = ManifestTable.read(root).get
    val ts1 = m1.table(t)
    // only day-2's covering generations were rewritten; every other dir
    // survives byte-identical (same path in the new snapshot)
    val keptPaths = ts0.gens.map(_.path).filterNot(day2Gens).toSet
    assert(keptPaths.subsetOf(ts1.gens.map(_.path).toSet),
      "an uncovered generation was rewritten")
    assert(ts1.gens.map(_.path).toSet.intersect(day2Gens).isEmpty,
      "a covering generation survived the delete")
    // rows: day 2 gone, everything else intact; the old snapshot intact
    val now = ManifestTable.readTable(spark, target)
    assert(now.count() == 150L && now.filter(day2).count() == 0L)
    assert(ManifestTable.readTable(spark, target, version = Some(m0.version))
      .count() == 200L)
    // the feed's delete commit carries exactly the removed rows
    val feed = ManifestTable.readChangeFeed(spark, target,
      m1.version, Some(m1.version))
    assert(feed.filter(col(ManifestTable.ChangeTypeCol) === "delete")
      .count() == 50L)
    // metadata row count stays exact through the rewrite
    assert(ts1.rowCount.contains(150L))
    // a no-match delete is a no-op: same version, nothing rewritten
    assert(ManifestTable.deleteWhere(spark, root,
      col("event_id") === 999999L) == 0L)
    assert(ManifestTable.read(root).get.version == m1.version)
    // deleting an entire day drops its emptied generations from the
    // buckets rather than keeping zero-row shells
    val day1 = col("ts") < lit(java.sql.Timestamp.valueOf("2024-03-02 00:00:00"))
    assert(ManifestTable.deleteWhere(spark, root, day1) == 50L)
    val ts2 = ManifestTable.read(root).get.table(t)
    assert(ts2.gens.forall(_.rows != 0L))
    assert(ManifestTable.readTable(spark, target).count() == 100L)
  }

  test("updateWhere rewrites only covering generations, emits pre/postimage pairs, and refuses merge-key SETs") {
    val target = tmp("graft_update")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    (0 until 4).foreach { day =>
      ManifestTable.mergeBatch(root, "q", day.toLong, Seq(
        TableBatch(t, rows(day * 50 until (day + 1) * 50, day + 1),
          Seq("event_id"), 2, statsCols = Seq("ts"), append = true,
          changeFeed = true)))
    }
    val m0 = ManifestTable.read(root).get
    val ts0 = m0.table(t)
    val day2 = (col("ts") >= lit(java.sql.Timestamp.valueOf("2024-03-02 00:00:00"))) &&
      (col("ts") < lit(java.sql.Timestamp.valueOf("2024-03-03 00:00:00")))
    val day2Gens = ManifestTable.gensForRange(ts0, "ts",
      java.sql.Timestamp.valueOf("2024-03-02 00:00:00"),
      java.sql.Timestamp.valueOf("2024-03-02 23:59:59")).map(_.path).toSet

    val updated = ManifestTable.updateWhere(spark, root, day2,
      Map("value" -> (col("value") * 2), "event_type" -> lit("boosted")))
    assert(updated == 50L)
    val m1 = ManifestTable.read(root).get
    val ts1 = m1.table(t)
    assert(ts0.gens.map(_.path).filterNot(day2Gens).toSet
      .subsetOf(ts1.gens.map(_.path).toSet))
    assert(ts1.gens.map(_.path).toSet.intersect(day2Gens).isEmpty)
    val now = ManifestTable.readTable(spark, target)
    assert(now.count() == 200L)
    assert(now.filter(day2 && col("event_type") =!= "boosted").count() == 0L)
    assert(now.filter(col("event_type") === "boosted").count() == 50L)
    // postimage values really are the doubled originals
    val origSum = ManifestTable.readTable(spark, target, version = Some(m0.version))
      .filter(day2).agg(sum("value")).head.getDouble(0)
    val newSum = now.filter(day2).agg(sum("value")).head.getDouble(0)
    assert(math.abs(newSum - 2 * origSum) < 1e-9)
    // the feed carries full pre/postimage pairs for the commit
    val feed = ManifestTable.readChangeFeed(spark, target,
      m1.version, Some(m1.version))
    assert(feed.filter(col(ManifestTable.ChangeTypeCol) === "update_preimage")
      .count() == 50L)
    assert(feed.filter(col(ManifestTable.ChangeTypeCol) === "update_postimage")
      .filter(col("event_type") === "boosted").count() == 50L)
    // a merge-key SET is refused loudly (it would move rows across buckets)
    intercept[IllegalArgumentException] {
      ManifestTable.updateWhere(spark, root, day2,
        Map("event_id" -> (col("event_id") + 1)))
    }

    // history serves the retained versions newest-first with their audit
    // records — the same window time travel can visit
    val hist = ManifestTable.history(spark, root).collect()
    assert(hist.nonEmpty && hist.head.getLong(0) == m1.version)
    assert(hist.head.getString(1) == "UPDATE")
    assert(hist.map(_.getLong(0)).toSeq == hist.map(_.getLong(0)).toSeq.sortBy(-_))
    assert(hist.forall(r => !r.isNullAt(2)))
    assert(hist.head.getAs[scala.collection.Seq[String]]("touched_tables")
      .toSeq == Seq(t))
  }

  test("search sidecars stay current through merge rewrites and compaction; lookups stay exact") {
    val target = tmp("graft_searchlc")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def batch(ids: Range, tag: String): DataFrame =
      ids.map(i => (i.toLong, s"$tag-$i", i * 10L)).toDF("id", "label", "v")

    // two merge batches with search sidecars: the second UPDATES keys the
    // first inserted, so its rewritten generations' sidecars must reflect
    // the merged (not just incoming) rows
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, batch(0 until 100, "a"), Seq("id"), 2,
        statsCols = Seq("id"), searchCols = Seq("label"))))
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(t, batch(40 until 60, "b"), Seq("id"), 2,
        statsCols = Seq("id"), searchCols = Seq("label"))))
    val ts1 = ManifestTable.read(root).get.table(t)
    assert(ts1.gens.forall(_.search == Seq("label")))

    val read = spark.read.format("graft").option("path", target).load()
    // an UPDATED key is found under its new label, absent under the old
    assert(read.filter(col("label") === "b-45").count() == 1L)
    assert(read.filter(col("label") === "a-45").count() === 0L)
    assert(read.filter(col("label") === "a-99").count() == 1L)

    // append a few more indexed generations, then compact: the rewritten
    // generations re-index (physical rewrites must not stop the pruning)
    (2 to 4).foreach { b =>
      ManifestTable.mergeBatch(root, "q", b.toLong, Seq(
        TableBatch(t, batch(b * 100 until b * 100 + 50, s"g$b"), Seq("id"), 2,
          statsCols = Seq("id"), append = true, searchCols = Seq("label"))))
    }
    val before = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    ManifestTable.compact(spark, root, statsCols = Seq("id"))
    val tsC = ManifestTable.read(root).get.table(t)
    assert(tsC.gens.size == 2 && tsC.gens.forall(_.search == Seq("label")),
      "compaction dropped the search index")
    assert(ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet == before)
    val readC = spark.read.format("graft").option("path", target).load()
    assert(readC.filter(col("label") === "g3-320").count() == 1L)
    assert(readC.filter(col("label") === "nope").count() == 0L)

    // searched columns also carry parquet-native bloom filters in the
    // written files (row-group skipping inside opened generations)
    import scala.jdk.CollectionConverters._
    val dataFile = new File(root, tsC.gens.head.path).listFiles
      .find(f => f.getName.endsWith(".parquet")).get
    val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(dataFile.toString),
        new org.apache.hadoop.conf.Configuration()))
    try {
      val labelCol = rd.getFooter.getBlocks.get(0).getColumns.asScala
        .find(_.getPath.toDotString == "label").get
      assert(labelCol.getBloomFilterOffset >= 0,
        "parquet bloom filter missing on the searched column")
    } finally rd.close()
  }

  test("sink-side schema evolution: a column added mid-stream publishes, old generations null-backfill, replay stays idempotent") {
    val target = tmp("graft_evolve")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(0 until 60, 1),
        Seq("event_id"), 4, statsCols = Seq("ts"))))

    // batch 1 arrives with a NEW column (schema drift mid-stream)
    val evolved = rows(40 until 90, 2)
      .withColumn("source_region", concat(lit("r"), col("event_id") % 3))
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(ManifestTable.DefaultTable, evolved, Seq("event_id"), 4,
        statsCols = Seq("ts"))))

    val out = ManifestTable.readTable(spark, target)
    // unified schema: old columns first, the new one appended
    assert(out.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "source_region"))
    assert(out.count() == 90)
    // rows only batch 0 wrote (ids < 40, in untouched buckets or merged
    // away) read the new column as null; batch-1 rows carry real values
    assert(out.filter(col("event_id") < 40 && col("source_region").isNotNull)
      .count() == 0)
    assert(out.filter(col("event_id") >= 40 && col("source_region").isNull)
      .count() == 0)

    // a batch missing the OLD optional column still merges: the column
    // null-fills rather than erroring (columns never disappear)
    val narrow = rows(90 until 100, 3).drop("value")
    ManifestTable.mergeBatch(root, "q", 2L, Seq(
      TableBatch(ManifestTable.DefaultTable, narrow, Seq("event_id"), 4)))
    val out2 = ManifestTable.readTable(spark, target)
    assert(out2.columns.toSeq ==
      Seq("event_id", "ts", "user_id", "event_type", "value", "source_region"))
    assert(out2.count() == 100)
    assert(out2.filter(col("event_id") >= 90 && col("value").isNotNull)
      .count() == 0)

    // replay of the evolving batch id is still an exact no-op
    val v = ManifestTable.read(root).get.version
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(ManifestTable.DefaultTable, evolved, Seq("event_id"), 4)))
    assert(ManifestTable.read(root).get.version == v)
  }

  test("a batch carrying BOTH upsert rows and a delete set replaces updated keys outside the delete slice (regression: they used to duplicate)") {
    val target = tmp("graft_updel")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, rows(0 until 20, 1), Seq("event_id"), 4,
        changeFeed = true)))
    // key 3 is UPDATED but NOT in the delete set; keys 5,6 deleted
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(t, rows(3 until 4, 2), Seq("event_id"), 4,
        changeFeed = true,
        deleteKeys = Some(Seq(5L, 6L).toDF("event_id")))))
    val now = ManifestTable.readTable(spark, target).collect()
    assert(now.count(_.getLong(0) == 3L) == 1,
      "an updated key outside the delete slice must REPLACE, not duplicate")
    assert(now.map(_.getLong(0)).toSet == ((0L until 20L).toSet -- Set(5L, 6L)))
    // the replaced key carries day-2 values (the incoming row won)
    assert(now.filter(_.getLong(0) == 3L)
      .forall(_.getAs[java.sql.Timestamp]("ts").toString.startsWith("2024-03-02")))
  }

  test("change feed: commits tag inserts/updates/deletes and a snapshot rolls forward to any later snapshot exactly") {
    val target = tmp("graft_cdf")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def feed(batchId: Long, df: DataFrame,
        deletes: Option[DataFrame] = None): Unit =
      ManifestTable.mergeBatch(root, "q", batchId, Seq(
        TableBatch(t, df, Seq("event_id"), 4, deleteKeys = deletes,
          changeFeed = true)))

    feed(0L, rows(0 until 50, 1))                       // v1: 50 inserts
    feed(1L, rows(30 until 70, 2))                      // v2: 20 upd, 20 ins
    // v3: replace-by-key — the maintainer deletes ALL keys its touched
    // groups previously published (0-9 and 60-69), then re-inserts the
    // groups' current rows (5-7 return, 60-74 re-publish)
    feed(2L, rows(60 until 75, 3).unionByName(rows(5 until 8, 3)),
      deletes = Some(((0L until 10L) ++ (60L until 70L)).toDF("event_id")))

    def typed(v: Long): Map[String, Set[Long]] =
      ManifestTable.readChangeFeed(spark, target, v, toVersion = Some(v))
        .collect()
        .groupBy(_.getAs[String](ManifestTable.ChangeTypeCol))
        .view.mapValues(_.map(_.getAs[Long]("event_id")).toSet).toMap
    assert(typed(1L) == Map("insert" -> (0L until 50L).toSet))
    // updated keys emit BOTH sides: the replaced committed row as an
    // update_preimage and the incoming row as the update_postimage — the
    // full Delta-CDF shape a decremental aggregate maintainer needs
    assert(typed(2L) == Map(
      "update_preimage" -> (30L until 50L).toSet,
      "update_postimage" -> (30L until 50L).toSet,
      "insert" -> (50L until 70L).toSet))
    // v3: keys 0-9 deleted EXCEPT 5,6,7 which the batch re-inserts (an
    // update, not a delete+insert pair); 60-69 update, 70-74 insert
    assert(typed(3L) == Map(
      "delete" -> Set(0L, 1L, 2L, 3L, 4L, 8L, 9L),
      "update_preimage" -> ((60L until 70L).toSet ++ Set(5L, 6L, 7L)),
      "update_postimage" -> ((60L until 70L).toSet ++ Set(5L, 6L, 7L)),
      "insert" -> (70L until 75L).toSet))

    // reconstruction contract: snapshot(v) + feed(v+1 ..) == live, from
    // BOTH retained starting points
    val live = ManifestTable.readTable(spark, target)
      .collect().map(_.toString).toSet
    Seq(1L, 2L).foreach { v =>
      val snap = ManifestTable.readTable(spark, target, version = Some(v))
      val rolled = ManifestTable.applyChanges(snap,
        ManifestTable.readChangeFeed(spark, target, v + 1),
        Seq("event_id"))
      assert(rolled.collect().map(_.toString).toSet == live,
        s"roll-forward from v$v diverged")
    }

    // a replayed (queryId, batchId) adds no feed entries
    val entries = ManifestTable.read(root).get.table(t).changes.size
    feed(2L, rows(60 until 75, 3), deletes = None)
    assert(ManifestTable.read(root).get.table(t).changes.size == entries)

    // asking for history before the feed opened errors — an incremental
    // consumer must never silently receive a partial delta
    intercept[IllegalStateException] {
      ManifestTable.readChangeFeed(spark, target, 0L)
    }
  }

  test("change feed: non-feed commits reset it, compaction preserves it, retention prunes it with a loud error past the window") {
    val target = tmp("graft_cdf2")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // append-mode feed: three daily appends, every row an insert
    (0 until 3).foreach { day =>
      ManifestTable.mergeBatch(root, "q", day.toLong, Seq(
        TableBatch(t, rows(day * 20 until (day + 1) * 20, day + 1),
          Seq("event_id"), 2, append = true, changeFeed = true)))
    }
    val feedAll = ManifestTable.readChangeFeed(spark, target, 1L)
    assert(feedAll.count() == 60)
    assert(feedAll.select(ManifestTable.ChangeTypeCol).distinct()
      .collect().map(_.getString(0)).toSeq == Seq("insert"))

    // physical-only compaction: no entry, feed intact
    ManifestTable.compact(spark, root)
    assert(ManifestTable.read(root).get.table(t).changes.size == 3)
    assert(ManifestTable.readChangeFeed(spark, target, 1L).count() == 60)

    // a data commit WITHOUT the feed breaks completeness -> feed resets
    // and readers error instead of getting a feed with a hole
    ManifestTable.mergeBatch(root, "q", 3L, Seq(
      TableBatch(t, rows(60 until 70, 4), Seq("event_id"), 2, append = true)))
    assert(ManifestTable.read(root).get.table(t).feedFrom == -1L)
    intercept[IllegalStateException] {
      ManifestTable.readChangeFeed(spark, target, 1L)
    }

    // the feed reopens at the next feed commit...
    ManifestTable.mergeBatch(root, "q", 4L, Seq(
      TableBatch(t, rows(70 until 80, 4), Seq("event_id"), 2, append = true,
        changeFeed = true)))
    val reopened = ManifestTable.read(root).get
    val k = reopened.version
    assert(reopened.table(t).feedFrom == k)
    // ...and retention prunes: after ChangeRetainVersions more commits the
    // oldest entries age out and feedFrom advances past them
    (0 until ManifestTable.ChangeRetainVersions).foreach { i =>
      ManifestTable.mergeBatch(root, "q", 5L + i, Seq(
        TableBatch(t, rows((80 + i * 5) until (85 + i * 5), 5),
          Seq("event_id"), 2, append = true, changeFeed = true)))
    }
    val ts2 = ManifestTable.read(root).get.table(t)
    assert(ts2.changes.size == ManifestTable.ChangeRetainVersions)
    assert(ts2.feedFrom > k)
    intercept[IllegalStateException] {
      ManifestTable.readChangeFeed(spark, target, k)
    }
    assert(ManifestTable.readChangeFeed(spark, target, ts2.feedFrom)
      .count() == ManifestTable.ChangeRetainVersions * 5L)
  }

  test("optimistic concurrency: one of two racing commits wins, the loser fails loudly, and readers roll forward past a stale live pointer") {
    val target = tmp("graft_occ")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(0 until 10, 1),
        Seq("event_id"), 2)))
    val base = ManifestTable.read(root).get

    // two writers derive version base+1 from the SAME snapshot; the
    // exclusive version-file create lets exactly one win — a plain rename
    // would be last-writer-wins and silently drop a commit
    val upA = Map(ManifestTable.DefaultTable -> TableUpdate(
      base.table(ManifestTable.DefaultTable).schemaJson, Map.empty,
      append = true, logicalChange = false))
    ManifestTable.commit(root, base.advance("writerA", 1L, upA))
    intercept[ManifestTable.ConcurrentCommitException] {
      ManifestTable.commit(root, base.advance("writerB", 1L, upA))
    }
    assert(ManifestTable.read(root).get.queryId == "writerA")

    // stale live pointer (a crash between version-file land and pointer
    // refresh): the reader's roll-forward probe still serves the newest
    // committed version
    val liveFile = new File(root, ManifestTable.ManifestName)
    val oldBytes = java.nio.file.Files.readAllBytes(
      new File(root, s"${ManifestTable.ManifestName}.v${base.version}").toPath)
    java.nio.file.Files.write(liveFile.toPath, oldBytes)
    val m = ManifestTable.read(root).get
    assert(m.version == base.version + 1 && m.queryId == "writerA",
      "reader failed to roll forward past the stale live pointer")
    assert(ManifestTable.readTable(spark, target).count() == 10)
  }

  test("optimistic concurrency: contending mergeBatch writers rebase and retry — no commit and no row is ever lost") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val target = tmp("graft_occ2")
    val root = new File(target)
    val perWriter = 4

    // two writer identities, disjoint key ranges, racing on one table:
    // every batch must land exactly once regardless of interleaving
    def writer(qid: String, lo: Int): Future[Unit] = Future {
      (0 until perWriter).foreach { b =>
        ManifestTable.mergeBatch(root, qid, b.toLong, Seq(
          TableBatch(ManifestTable.DefaultTable,
            rows((lo + b * 25) until (lo + b * 25 + 25), 1),
            Seq("event_id"), 4)))
      }
    }
    Await.result(
      Future.sequence(Seq(writer("wA", 0), writer("wB", 1000))), 5.minutes)

    val t = ManifestTable.readTable(spark, target)
    assert(t.count() == 2L * perWriter * 25)
    assert(t.select("event_id").distinct().count() == 2L * perWriter * 25)
    val expected = ((0 until perWriter * 25) ++
      (1000 until (1000 + perWriter * 25))).map(_.toLong).toSet
    assert(t.select("event_id").collect().map(_.getLong(0)).toSet == expected)
    // serialized history: one version per successful commit, none dropped
    assert(ManifestTable.read(root).get.version == 2L * perWriter)
  }

  test("OCC narrowing: a bucket-disjoint race loser rebases its STAGED generations by rename (path identity) instead of re-deriving; a same-bucket loser restages") {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val t = ManifestTable.DefaultTable
    // keys by their writer-hash bucket (4 buckets), so the injected
    // winner's footprint is chosen deliberately
    val byBucket: Map[Long, Seq[Long]] = (0L until 40L)
      .map(i => (spark.range(i, i + 1)
        .select(pmod(xxhash64(col("id")), lit(4))).head.getLong(0), i))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSeq).toMap
    def keyed(ids: Seq[Long], day: Int): DataFrame =
      rows(0 until 1, day).sparkSession.createDataFrame(
        ids.map(i => (i, java.sql.Timestamp.valueOf(f"2024-03-$day%02d 12:00:00"),
          i % 7, s"type${i % 3}", i * 1.5))
          .toDF("event_id", "ts", "user_id", "event_type", "value").rdd,
        rows(0 until 1, day).schema)

    def race(winnerIds: Seq[Long], loserIds: Seq[Long])
        : (Set[String], Seq[String]) = {
      val target = tmp("graft_occ_narrow")
      val root = new File(target)
      ManifestTable.mergeBatch(root, "seed", 0L, Seq(
        TableBatch(t, keyed((0L until 40L).toSeq, 1), Seq("event_id"), 4)))
      @volatile var injected = false
      @volatile var stagedNames: Set[String] = Set.empty
      ManifestTable.commitFaultInjector = (r, v) =>
        if (!injected && r.getCanonicalPath == root.getCanonicalPath) {
          injected = true
          // the loser's freshly staged dirs target version v+1
          stagedNames = new File(root, s"data/$t").listFiles
            .map(_.getName).filter(_.contains(s"-v${v + 1}-")).toSet
          ManifestTable.mergeBatch(root, "winner", 0L, Seq(
            TableBatch(t, keyed(winnerIds, 2), Seq("event_id"), 4)))
        }
      try ManifestTable.mergeBatch(root, "loser", 0L, Seq(
        TableBatch(t, keyed(loserIds, 3), Seq("event_id"), 4)))
      finally ManifestTable.commitFaultInjector = (_, _) => ()
      assert(injected)
      // both batches landed exactly once regardless of the race
      val now = ManifestTable.readTable(spark, target).collect()
        .map(r => r.getLong(0) ->
          r.getAs[java.sql.Timestamp]("ts").toString.take(10)).toMap
      winnerIds.foreach(i => assert(now(i) == "2024-03-02", s"winner key $i"))
      loserIds.foreach(i => assert(now(i) == "2024-03-03", s"loser key $i"))
      val m = ManifestTable.read(root).get
      val loserBuckets = loserIds.map(i =>
        byBucket.find(_._2.contains(i)).get._1).distinct
      val committed = loserBuckets.flatMap(b =>
        m.table(t).buckets(b).map(g => new File(g.path).getName))
      (stagedNames, committed)
    }

    // disjoint buckets: the loser's committed generations ARE its staged
    // dirs, renamed one version up — path identity, nothing re-derived
    val bA = byBucket.keys.head
    val bB = byBucket.keys.find(_ != bA).get
    val restages0 = ManifestTable.mergeRestageCount.get
    val (staged1, committed1) = race(
      winnerIds = byBucket(bB).take(2), loserIds = byBucket(bA).take(2))
    val expectRenamed = staged1.map(_.replaceFirst("-v\\d+-", "-v3-"))
    assert(committed1.toSet subsetOf expectRenamed,
      s"expected renamed staged dirs $expectRenamed, committed $committed1")
    assert(ManifestTable.mergeRestageCount.get == restages0,
      "bucket-disjoint loser re-derived instead of renaming")

    // same bucket: the loser must re-derive against the winner's rows
    // (dir names no longer discriminate — the writer nonce is stable
    // across attempts by design — so the restage counter does)
    val restages1 = ManifestTable.mergeRestageCount.get
    race(
      winnerIds = byBucket(bA).take(2), loserIds = byBucket(bA).drop(2).take(2))
    assert(ManifestTable.mergeRestageCount.get > restages1,
      "same-bucket loser must restage")
  }

  test("bucket-intent ledger: N contending disjoint-bucket writers commit N versions with ZERO restages; same-bucket rivals serialize by intent and derive once each") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    val t = ManifestTable.DefaultTable
    val target = tmp("graft_intent")
    val root = new File(target)
    // keys grouped by their writer-hash bucket (8 buckets): each writer
    // gets two buckets of its own (the wide id range feeds the slow
    // same-bucket writer below)
    val byBucket: Map[Long, Seq[Long]] = {
      import spark.implicits._
      spark.range(0, 20000)
        .select(col("id"), pmod(xxhash64(col("id")), lit(8)).as("b"))
        .as[(Long, Long)].collect().groupBy(_._2)
        .view.mapValues(_.map(_._1).toSeq).toMap
    }
    def keyed(ids: Seq[Long], day: Int): DataFrame = {
      import spark.implicits._
      ids.map(i => (i, java.sql.Timestamp.valueOf(
        f"2024-03-$day%02d 12:00:00"), i % 7, s"type${i % 3}", i * 1.5))
        .toDF("event_id", "ts", "user_id", "event_type", "value")
    }
    // seed so every writer derives against a committed layout
    ManifestTable.mergeBatch(root, "seed", 0L, Seq(
      TableBatch(t, keyed((400L until 410L).toSeq, 1), Seq("event_id"), 8)))
    val v0 = ManifestTable.read(root).get.version

    val restages0 = ManifestTable.mergeRestageCount.get
    val writers = (0 until 4).map { w =>
      val ids = (byBucket(2L * w) ++ byBucket(2L * w + 1)).filter(_ < 400L)
      Future(ManifestTable.mergeBatch(root, s"w$w", 0L, Seq(
        TableBatch(t, keyed(ids, 2 + w), Seq("event_id"), 8))))
    }
    Await.result(Future.sequence(writers), 5.minutes)
    assert(ManifestTable.read(root).get.version == v0 + 4,
      "every contending writer must land its own version")
    assert(ManifestTable.mergeRestageCount.get == restages0,
      "disjoint-bucket contention must cost ZERO restages " +
        "(rebase-by-rename only)")
    val all = ManifestTable.readTable(spark, target)
    assert(all.count() == 410L)
    assert(all.select("event_id").distinct().count() == 410L)

    // same-bucket rivals: the later writer's declared intent makes it
    // WAIT for the earlier one and derive ONCE against its committed
    // state — two derivations total, not derive→lose→re-derive. Writer
    // A's batch is deliberately WIDE (thousands of keys) so its
    // derivation is still in flight when B's intent check runs
    val bShared = 0L
    val idsA = byBucket(bShared).filter(_ >= 400L)
    val idsB = byBucket(bShared).filter(_ < 400L).take(10)
    val derive0 = ManifestTable.mergeDeriveCount.get
    val restages2 = ManifestTable.mergeRestageCount.get
    val fA = Future(ManifestTable.mergeBatch(root, "sameA", 1L, Seq(
      TableBatch(t, keyed(idsA, 7), Seq("event_id"), 8))))
    // start B only once A's intent is on the ledger, so the contention
    // is real and deterministic
    val intents = new File(root, "_intents")
    val deadline = System.currentTimeMillis() + 30000
    while ((!intents.exists || intents.listFiles.isEmpty) &&
        System.currentTimeMillis() < deadline) Thread.sleep(5)
    val fB = Future(ManifestTable.mergeBatch(root, "sameB", 1L, Seq(
      TableBatch(t, keyed(idsB, 8), Seq("event_id"), 8))))
    Await.result(Future.sequence(Seq(fA, fB)), 5.minutes)
    assert(ManifestTable.mergeDeriveCount.get == derive0 + 2,
      s"same-bucket rivals must derive once each, " +
        s"got ${ManifestTable.mergeDeriveCount.get - derive0}")
    assert(ManifestTable.mergeRestageCount.get == restages2,
      "intent-serialized same-bucket rivals must not restage")
    val after = ManifestTable.readTable(spark, target)
    val probe = idsA.take(10) ++ idsB
    val days = after.filter(col("event_id").isin(
      probe.map(java.lang.Long.valueOf): _*))
      .collect().map(r => r.getLong(0) ->
        r.getAs[java.sql.Timestamp]("ts").toString.take(10)).toMap
    idsA.take(10).foreach(i => assert(days(i) == "2024-03-07"))
    idsB.foreach(i => assert(days(i) == "2024-03-08"))
    // ledger hygiene: intents removed once the writers are done
    assert(!intents.exists || intents.listFiles.forall(
      !_.getName.endsWith(".intent")))

    // CRASHED writer: a lingering intent gates rivals only until the
    // TTL — past it, writes proceed (correctness was never the ledger's
    // job) and GC both ignores and deletes the stale file
    val ttl0 = ManifestTable.IntentTtlMs
    val pat0 = ManifestTable.IntentPatienceMs
    try {
      ManifestTable.IntentTtlMs = 200L
      ManifestTable.IntentPatienceMs = 400L
      val stale = new File(intents, "deadwriter.intent")
      intents.mkdirs()
      java.nio.file.Files.write(stale.toPath,
        s"${System.currentTimeMillis()}\n$t:8:0,1,2,3,4,5,6,7"
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      val t0 = System.currentTimeMillis()
      ManifestTable.mergeBatch(root, "afterCrash", 0L, Seq(
        TableBatch(t, keyed(Seq(900L), 9), Seq("event_id"), 8)))
      val took = System.currentTimeMillis() - t0
      assert(took < 30000, s"crashed intent stalled a writer ${took}ms")
      assert(ManifestTable.readTable(spark, target)
        .filter(col("event_id") === 900L).count() == 1L)
      assert(!stale.exists,
        "GC left an expired intent file on the ledger")
    } finally {
      ManifestTable.IntentTtlMs = ttl0
      ManifestTable.IntentPatienceMs = pat0
    }
  }

  test("race-casualty classifier: every GC-inflicted write-failure shape with the manifest moved rebases and retries (deterministic injection)") {
    // the round-5 flake reproduced without thread-timing roulette: after a
    // loser's generation dirs are written, a competing commit moves the
    // manifest and the loser's write "fails" with the exact shape a
    // winner's GC inflicts. Each shape must classify as a race casualty
    // and rebase-and-retry to a successful commit.
    val shapes: Seq[(String, String => Throwable)] = Seq(
      // ChecksumFileSystem reports a vanished _temporary parent as a
      // failed mkdir wrapped in Spark's job-abort layers
      ("Mkdirs failed", p => new org.apache.spark.SparkException("Job aborted.",
        new java.io.IOException(s"Mkdirs failed to create file:$p/_temporary/0"))),
      // RawLocalFileSystem shells out; chmod on a collected dir surfaces
      // the shell's message on a non-FileNotFound exception type
      ("shell chmod", p => new org.apache.spark.SparkException(
        s"Task failed: ExitCodeException exitCode=1: chmod: cannot access '$p': No such file or directory")),
      // a read-back of a collected file
      ("FNFE", p => new java.io.FileNotFoundException(s"File $p does not exist")),
      // analysis layer rediscovering a collected path at plan time
      ("path does not exist", p => new RuntimeException(
        s"[PATH_NOT_FOUND] Path does not exist: file:$p")))
    shapes.foreach { case (label, mk) =>
      val target = tmp(s"graft_occ_inj")
      val root = new File(target)
      ManifestTable.mergeBatch(root, "wA", 0L, Seq(TableBatch(
        ManifestTable.DefaultTable, rows(0 until 10, 1), Seq("event_id"), 2)))
      var fired = false
      ManifestTable.commitFaultInjector = { (r, baseV) =>
        if (r == root && !fired) {
          fired = true
          ManifestTable.commitFaultInjector = (_, _) => ()
          // the competing winner lands version baseV+1 and GCs
          ManifestTable.mergeBatch(root, "wB", 0L, Seq(TableBatch(
            ManifestTable.DefaultTable, rows(1000 until 1010, 1),
            Seq("event_id"), 2)))
          throw mk(s"$target/data/t/b0-v${baseV + 1}-deadbeef")
        }
      }
      try ManifestTable.mergeBatch(root, "wA", 1L, Seq(TableBatch(
        ManifestTable.DefaultTable, rows(10 until 20, 1), Seq("event_id"), 2)))
      finally ManifestTable.commitFaultInjector = (_, _) => ()
      assert(fired, s"[$label] injector never fired")
      val got = ManifestTable.readTable(spark, target)
        .select("event_id").collect().map(_.getLong(0)).toSet
      val expected = ((0 until 20) ++ (1000 until 1010)).map(_.toLong).toSet
      assert(got == expected,
        s"[$label] race casualty did not rebase-and-retry to a full commit")
    }
  }

  test("race-casualty classifier: deterministic failures surface on the first attempt even when the manifest moved") {
    val target = tmp("graft_occ_det")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "wA", 0L, Seq(TableBatch(
      ManifestTable.DefaultTable, rows(0 until 10, 1), Seq("event_id"), 2)))
    var calls = 0
    var inCompeting = false
    ManifestTable.commitFaultInjector = { (r, _) =>
      if (r == root && !inCompeting) {
        calls += 1
        if (calls == 1) {
          // manifest moves — but the failure is an analysis error with no
          // filesystem path, so no amount of rebasing can fix it
          inCompeting = true
          try ManifestTable.mergeBatch(root, "wB", 0L, Seq(TableBatch(
            ManifestTable.DefaultTable, rows(1000 until 1010, 1),
            Seq("event_id"), 2)))
          finally inCompeting = false
        }
        throw new RuntimeException(
          "[TABLE_OR_VIEW_NOT_FOUND] The table or view `canonical` does not exist")
      }
    }
    try {
      val e = intercept[RuntimeException] {
        ManifestTable.mergeBatch(root, "wA", 1L, Seq(TableBatch(
          ManifestTable.DefaultTable, rows(10 until 20, 1), Seq("event_id"), 2)))
      }
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
      assert(calls == 1,
        "a deterministic analysis failure was retried as a GC race")
    } finally ManifestTable.commitFaultInjector = (_, _) => ()
  }

  test("GC's in-flight guard: dirs named for a version at-or-above the GC's own are left for the writer that may still commit or rebase them") {
    val target = tmp("graft_occ3")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(0 until 10, 1),
        Seq("event_id"), 2)))
    val v = ManifestTable.read(root).get.version

    // an in-flight concurrent writer's dir (version v+1, not yet
    // committed) and a same-version dir (version v): the latter may be a
    // race loser's staged rewrite that its retry will REBASE (rename)
    // onto the next attempt when the conflict was bucket-disjoint, so GC
    // must not sweep it until some commit has decided a version ABOVE it
    val inflight = new File(root, s"data/t/b0-v${v + 1}-deadbeef")
    val sameVer = new File(root, s"data/t/b0-v$v-cafebabe")
    rows(90 until 92, 1).write.parquet(inflight.toString)
    rows(90 until 92, 1).write.parquet(sameVer.toString)

    ManifestTable.gc(root, ManifestTable.read(root).get)
    assert(inflight.exists,
      "GC deleted a dir a concurrent writer may still commit")
    assert(sameVer.exists,
      "GC deleted a same-version dir a race loser's retry may still rebase")

    // once ANY commit decides version v+1, the v-named dir is decided
    // (committed-and-referenced dirs are kept by liveness, not by the
    // version guard) and becomes collectible at that commit's own GC;
    // the v+1-named dir is still a potential same-version race loser
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(10 until 20, 1),
        Seq("event_id"), 2)))
    assert(!sameVer.exists, "decided orphan survived the next commit's GC")
    assert(inflight.exists,
      "GC deleted a dir named for the just-committed version that a race loser may still rebase")

    // one more commit (v+2) decides v+1 — now the crashed writer's dir
    // at v+1 is collectible
    ManifestTable.mergeBatch(root, "q", 2L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(20 until 30, 1),
        Seq("event_id"), 2)))
    assert(!inflight.exists,
      "crashed in-flight dir survived a commit past its version")
  }

  test("change-feed stream: AvailableNow drains exactly the committed deltas and a checkpointed restart never replays") {
    import org.apache.spark.sql.streaming.Trigger
    val target = tmp("graft_cdfs")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame): Unit =
      ManifestTable.mergeBatch(root, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 2, changeFeed = true)))
    feed(0L, rows(0 until 40, 1))
    feed(1L, rows(20 until 60, 2)) // 20-39 update, 40-59 insert

    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdfs_ckpt").toString
    val seen = scala.collection.mutable.ArrayBuffer[String]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdf").option("path", target).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val got = b.collect().map(_.toString)
          seen.synchronized { seen ++= got }: Unit
        }.start()
      q.awaitTermination()
    }

    // first drain = the feed's full retained history, tagged and versioned
    // (v1: 40 inserts; v2: 20 inserts + 20 updates as preimage+postimage
    // pairs = 60 rows)
    drain()
    val expect12 = ManifestTable.readChangeFeed(spark, target, 1L)
      .collect().map(_.toString)
    assert(seen.size == 100 && expect12.length == 100)
    assert(seen.toSet == expect12.toSet)

    // restart with nothing new: zero replay
    drain()
    assert(seen.size == 100, "a restarted consumer replayed delivered deltas")

    // a version that brings THIS table no feed rows (another table's
    // commit) advances the offset but delivers an empty micro-batch
    ManifestTable.mergeBatch(root, "q2", 0L, Seq(
      TableBatch("other", rows(0 until 5, 3), Seq("event_id"), 2)))
    drain()
    assert(seen.size == 100)

    // a new feed commit after the gap version: ONLY its deltas arrive
    // (5 updates as preimage+postimage pairs + 10 inserts = 20 rows)
    feed(2L, rows(55 until 70, 3))
    val v = ManifestTable.read(root).get.version
    val delta = ManifestTable.readChangeFeed(spark, target, v, Some(v))
      .collect().map(_.toString)
    drain()
    assert(delta.length == 20 && seen.size == 120)
    assert(seen.toSet == (expect12 ++ delta).toSet)
  }

  test("change-feed stream: maxVersionsPerTrigger paces a live consumer one commit per micro-batch") {
    val target = tmp("graft_cdfp")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame): Unit =
      ManifestTable.mergeBatch(root, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 2, append = true, changeFeed = true)))
    feed(0L, rows(0 until 10, 1))

    val batches = scala.collection.mutable.ArrayBuffer[Seq[Long]]()
    val q = spark.readStream.format("graft-cdf").option("path", target)
      .option("maxVersionsPerTrigger", "1").load()
      .writeStream
      .foreachBatch { (b: DataFrame, _: Long) =>
        val vs = b.select(ManifestTable.CommitVersionCol)
          .distinct().collect().map(_.getLong(0)).toSeq
        batches.synchronized { batches += vs }: Unit
      }.start()
    try {
      q.processAllAvailable()
      // the one-version backlog lands (capped too, but one version IS the
      // cap; the multi-version first-trigger case is the restart spec below)
      assert(batches.flatten.toSet == Set(1L))
      // two more commits while the query is live: the cap makes each its
      // OWN micro-batch — one commit per trigger, never coalesced
      feed(1L, rows(10 until 20, 1))
      feed(2L, rows(20 until 30, 1))
      q.processAllAvailable()
      val paced = batches.synchronized(batches.toList).filter(_.nonEmpty)
      assert(paced.map(_.toSet) == List(Set(1L), Set(2L), Set(3L)),
        s"expected one commit per micro-batch, got $paced")
    } finally q.stop()
  }

  test("change-feed stream: a restart mid-backlog caps the FIRST trigger too (admission control sees the checkpoint)") {
    import org.apache.spark.sql.streaming.Trigger
    val target = tmp("graft_cdfr")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame): Unit =
      ManifestTable.mergeBatch(root, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 2, append = true,
          changeFeed = true)))
    feed(0L, rows(0 until 10, 1))

    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdfr_ckpt").toString
    val batches = scala.collection.mutable.ArrayBuffer[Set[Long]]()
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdf").option("path", target)
        .option("maxVersionsPerTrigger", "1").load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val vs = b.select(ManifestTable.CommitVersionCol)
            .distinct().collect().map(_.getLong(0)).toSet
          batches.synchronized { batches += vs }: Unit
        }.start()
      assert(q.awaitTermination(300000), "AvailableNow run did not stop")
    }
    drain() // checkpoint now at version 1
    assert(batches.synchronized(batches.filter(_.nonEmpty).toList)
      == List(Set(1L)))

    // three commits land while the consumer is DOWN; on restart, the
    // legacy getOffset contract had to offer the whole backlog in one
    // uncapped first batch (it could not see the checkpointed floor) —
    // the admission-control path must pace it one version per trigger
    feed(1L, rows(10 until 20, 1))
    feed(2L, rows(20 until 30, 1))
    feed(3L, rows(30 until 40, 1))
    batches.synchronized(batches.clear())
    drain()
    val paced = batches.synchronized(batches.filter(_.nonEmpty).toList)
    assert(paced == List(Set(2L), Set(3L), Set(4L)),
      s"restart backlog was not paced one version per micro-batch: $paced")

    // and a replayed drain with nothing new delivers nothing
    batches.synchronized(batches.clear())
    drain()
    assert(batches.synchronized(batches.filter(_.nonEmpty).toList).isEmpty)
  }

  test("CDF consumer across sink-side schema evolution: a restarted subscriber null-backfills old-era deltas and its mart stays exact") {
    import org.apache.spark.sql.streaming.Trigger
    import graft.streaming.IncrementalMart
    val target = tmp("graft_cdfe")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame): Unit =
      ManifestTable.mergeBatch(root, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 4, changeFeed = true)))

    feed(0L, rows(0 until 30, 1))

    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdfe_ck").toString
    val mart = tmp("graft_cdfe_mart")
    val martCkpt =
      java.nio.file.Files.createTempDirectory("graft_cdfe_mck").toString
    val cfg = IncrementalMart.Config(target, mart,
      groupCols = Seq("event_type"), valueCols = Seq("value"), numBuckets = 4)
    val got = scala.collection.mutable.ArrayBuffer[(Long, Seq[String], Long)]()
    def drain(): Unit = {
      // a fresh readStream per call = a consumer restart: the feed schema
      // re-resolves against the CURRENT committed table schema
      val q = spark.readStream.format("graft-cdf").option("path", target)
        .load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (b: DataFrame, _: Long) =>
          val cols = b.columns.toSeq
          b.select(ManifestTable.CommitVersionCol).distinct().collect()
            .map(_.getLong(0)).foreach { v =>
              val n = if (cols.contains("source_region"))
                b.filter(col(ManifestTable.CommitVersionCol) === v &&
                  col("source_region").isNotNull).count()
              else 0L
              got.synchronized { got += ((v, cols, n)) }: Unit
            }
        }.start()
      assert(q.awaitTermination(300000))
      IncrementalMart.sync(spark, cfg, martCkpt)
    }
    drain() // pre-evolution drain: schema has no source_region yet
    assert(got.synchronized(got.toList).forall(!_._2.contains("source_region")))

    // while the consumer is DOWN: one more OLD-schema commit, then the
    // sink evolves (source_region added) in a further commit — the
    // restarted consumer's first batch spans BOTH eras under the NEW
    // resolved schema
    feed(1L, rows(30 until 40, 2))
    feed(2L, rows(40 until 50, 3)
      .withColumn("source_region", concat(lit("r"), col("event_id") % 3)))
    got.synchronized(got.clear())
    drain()
    val post = got.synchronized(got.toList).sortBy(_._1)
    assert(post.map(_._1) == List(2L, 3L))
    // the restarted subscriber sees the evolved schema for every version…
    assert(post.forall(_._2.contains("source_region")))
    // …with the OLD-era delta dir (v2, written before the column existed)
    // null-backfilled, and the NEW-era rows carrying real values
    assert(post.find(_._1 == 2L).get._3 == 0L,
      "pre-evolution delta delivered non-null values for the new column")
    assert(post.find(_._1 == 3L).get._3 == 10L)

    // the subscriber's mart, folded across the evolution, still equals the
    // batch aggregate over the live table
    val expected = ManifestTable.readTable(spark, target)
      .groupBy("event_type").agg(count(lit(1)).as(IncrementalMart.RowsCol),
        sum("value").as("sum_value"), count(col("value")).as("cnt_value"))
      .collect().map(_.toString).toSet
    assert(ManifestTable.readTable(spark, mart)
      .collect().map(_.toString).toSet == expected)
  }

  test("incremental mart: a CDF-fed aggregate maintains itself exactly — migrating updates, replace-by-key deletes, vanishing groups, replayed drains") {
    import graft.streaming.IncrementalMart
    val src = tmp("graft_mart_src")
    val mart = tmp("graft_mart_tgt")
    val srcRoot = new File(src)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame, deletes: Option[DataFrame] = None): Unit =
      ManifestTable.mergeBatch(srcRoot, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 4, deleteKeys = deletes,
          changeFeed = true)))
    def mk(rs: Seq[(Long, String, Double)]): DataFrame =
      rs.toDF("event_id", "grp", "value")

    feed(0L, mk((0L until 60L).map(i => (i, s"g${i % 3}", i * 1.5))
      :+ ((100L, "solo", 7.0))))
    val cfg = IncrementalMart.Config(src, mart,
      groupCols = Seq("grp"), valueCols = Seq("value"), numBuckets = 4)
    val ckpt = java.nio.file.Files.createTempDirectory("graft_mart_ckpt").toString
    def drain(): Unit = IncrementalMart.sync(spark, cfg, ckpt)
    // the invariant: the mart IS the full aggregate of the live source —
    // values are multiples of 0.5, so both paths' double sums are exact
    // and compare bit-for-bit
    def expected: Set[String] = ManifestTable.readTable(spark, src)
      .groupBy("grp").agg(count(lit(1)).as(IncrementalMart.RowsCol),
        sum("value").as("sum_value"), count(col("value")).as("cnt_value"))
      .collect().map(_.toString).toSet
    def martRows: Set[String] = ManifestTable.readTable(spark, mart)
      .collect().map(_.toString).toSet

    drain()
    assert(martRows == expected)

    // updates that MIGRATE groups (preimage − in the old group, postimage
    // + in the new) plus fresh inserts
    feed(1L, mk((0L until 20L).map(i => (i, s"g${(i + 1) % 3}", i * 10.0))
      ++ (60L until 80L).map(i => (i, s"g${i % 3}", i * 1.5))))
    // replace-by-key: ids 0-9 deleted with 5-7 returning in a brand-new
    // group; the one-row "solo" group nets to zero and must VANISH
    feed(2L, mk(Seq((5L, "g9", 1.0), (6L, "g9", 1.0), (7L, "g9", 1.0))),
      deletes = Some(((0L until 10L) :+ 100L).toDF("event_id")))
    drain()
    assert(martRows == expected)
    assert(!martRows.exists(_.contains("solo")), "netted-out group survived")
    assert(martRows.exists(_.contains("g9")))

    // a drain with nothing new commits nothing: mart version unmoved
    val v = ManifestTable.read(new File(mart)).get.version
    drain()
    assert(ManifestTable.read(new File(mart)).get.version == v)
    assert(martRows == expected)
  }

  test("incremental mart: max/min extrema stay exact through deletes and group migration (monotone fast path + touched-group recompute)") {
    import graft.streaming.IncrementalMart
    val src = tmp("graft_martx_src")
    val mart = tmp("graft_martx_tgt")
    val srcRoot = new File(src)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame, deletes: Option[DataFrame] = None): Unit =
      ManifestTable.mergeBatch(srcRoot, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 4, deleteKeys = deletes,
          changeFeed = true)))
    def mk(rs: Seq[(Long, String, Double)]): DataFrame =
      rs.toDF("event_id", "grp", "value")

    // id 59 holds g2's max (88.5), id 1 holds g1's min (1.5)
    feed(0L, mk((0L until 60L).map(i => (i, s"g${i % 3}", i * 1.5))))
    val cfg = IncrementalMart.Config(src, mart,
      groupCols = Seq("grp"), valueCols = Seq("value"), numBuckets = 4,
      maxCols = Seq("value"), minCols = Seq("value"))
    val ckpt =
      java.nio.file.Files.createTempDirectory("graft_martx_ckpt").toString
    def drain(): Unit = IncrementalMart.sync(spark, cfg, ckpt)
    // the invariant now carries NON-additive columns: the mart must equal
    // the full aggregate incl. max/min after every drained commit
    def expected: Set[String] = ManifestTable.readTable(spark, src)
      .groupBy("grp").agg(count(lit(1)).as(IncrementalMart.RowsCol),
        sum("value").as("sum_value"), count(col("value")).as("cnt_value"),
        max("value").as("max_value"), min("value").as("min_value"))
      .collect().map(_.toString).toSet
    def martRows: Set[String] = ManifestTable.readTable(spark, mart)
      .collect().map(_.toString).toSet

    drain() // insert-only: the monotone fast path
    assert(martRows == expected)

    // DELETE the reigning max of g2 and min of g1: no feed arithmetic can
    // recover the next extremum — the recompute fallback must
    feed(1L, mk(Nil), deletes = Some(Seq(59L, 1L).toDF("event_id")))
    drain()
    assert(martRows == expected)
    assert(!martRows.exists(_.contains("88.5")), "retracted max survived")

    // one batch, both regimes: id 56 (g2's current max, 84.0) MIGRATES to
    // g0 at value 99.0 — the preimage retracts g2's max (recompute regime)
    // while the postimage raises g0's max through the monotone merge —
    // and fresh inserts extend g1 alongside
    feed(2L, mk(Seq((56L, "g0", 99.0)) ++
      (200L until 210L).map(i => (i, "g1", i * 0.5))))
    drain()
    assert(martRows == expected)
    val g0max = ManifestTable.readTable(spark, mart)
      .filter(col("grp") === "g0").select("max_value").head.getDouble(0)
    assert(g0max == 99.0, s"migrated row did not raise g0's max: $g0max")
    val g2max = ManifestTable.readTable(spark, mart)
      .filter(col("grp") === "g2").select("max_value").head.getDouble(0)
    assert(g2max == 79.5, s"retracted migration left g2's max stale: $g2max")
  }

  test("incremental mart: extrema recompute stays exact when the batch's pin version aged out of snapshot retention (feed-window fallback)") {
    import graft.streaming.IncrementalMart
    val src = tmp("graft_marty_src")
    val mart = tmp("graft_marty_tgt")
    val srcRoot = new File(src)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame, deletes: Option[DataFrame] = None): Unit =
      ManifestTable.mergeBatch(srcRoot, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 4, deleteKeys = deletes,
          changeFeed = true)))
    def mk(rs: Seq[(Long, String, Double)]): DataFrame =
      rs.toDF("event_id", "grp", "value")

    // v1 inserts; v2 DELETES the reigning max of g2 and min of g1; then
    // enough insert commits that v2 ages out of SNAPSHOT retention while
    // the FEED (wider window) still serves it as a starting point — the
    // exact situation a subscriber restarting several versions behind hits
    feed(0L, mk((0L until 60L).map(i => (i, s"g${i % 3}", i * 1.5))))
    feed(1L, mk(Nil), deletes = Some(Seq(59L, 1L).toDF("event_id")))
    (0 until ManifestTable.RetainVersions + 1).foreach { i =>
      feed(2L + i, mk(Seq((300L + i, s"g${i % 3}", 10.0 + i))))
    }
    val live = ManifestTable.read(srcRoot).get.version
    val pinV = 2L // v2 = the delete commit
    assert(live - ManifestTable.RetainVersions + 1 > pinV,
      "setup failed to age the pin out of snapshot retention")
    intercept[java.io.FileNotFoundException] {
      ManifestTable.readTable(spark, src, Some(pinV))
    }

    val cfg = IncrementalMart.Config(src, mart,
      groupCols = Seq("grp"), valueCols = Seq("value"), numBuckets = 4,
      maxCols = Seq("value"), minCols = Seq("value"))
    // batch-mode subscription, capped exactly like a restarting drain: the
    // first batch ends at the aged-out delete commit
    IncrementalMart.applyBatch(cfg,
      ManifestTable.readChangeFeed(spark, src, 1L, Some(pinV)), 0L)
    val midMax = ManifestTable.readTable(spark, mart)
      .filter(col("grp") === "g2").select("max_value").head.getDouble(0)
    assert(midMax == 84.0, // next-best after 59's 88.5 was retracted
      s"aged-out pin recompute produced a wrong extremum: $midMax")
    IncrementalMart.applyBatch(cfg,
      ManifestTable.readChangeFeed(spark, src, pinV + 1, Some(live)), 1L)

    val expected = ManifestTable.readTable(spark, src)
      .groupBy("grp").agg(count(lit(1)).as(IncrementalMart.RowsCol),
        sum("value").as("sum_value"), count(col("value")).as("cnt_value"),
        max("value").as("max_value"), min("value").as("min_value"))
      .collect().map(_.toString).toSet
    val martRows = ManifestTable.readTable(spark, mart)
      .collect().map(_.toString).toSet
    assert(martRows == expected)
  }

  test("incremental mart: aged-pin recompute stays exact when rows were inserted-then-updated and inserted-then-deleted INSIDE the unfolded feed range (multiset inversion order)") {
    import graft.streaming.IncrementalMart
    val src = tmp("graft_marty2_src")
    val mart = tmp("graft_marty2_tgt")
    val srcRoot = new File(src)
    val t = ManifestTable.DefaultTable
    def feed(b: Long, df: DataFrame, deletes: Option[DataFrame] = None): Unit =
      ManifestTable.mergeBatch(srcRoot, "q", b, Seq(
        TableBatch(t, df, Seq("event_id"), 4, deleteKeys = deletes,
          changeFeed = true)))
    def mk(rs: Seq[(Long, String, Double)]): DataFrame =
      rs.toDF("event_id", "grp", "value")

    // v1 inserts; v2 (the pin) DELETES g2's reigning max (59 → 88.5);
    // then, inside the range the feed inversion must reconstruct AWAY:
    //  v3 inserts an extreme g2 row, v4 updates it down (insert→update),
    //  v5 inserts another extreme g2 row, v6 deletes it (insert→delete).
    // A subtract-first reconstruction (snapR − added + removed) floors
    // the multiset at zero and RESURRECTS the v3 preimage (1000.0) and
    // the v5 image (2000.0) into the reconstructed pin snapshot.
    feed(0L, mk((0L until 60L).map(i => (i, s"g${i % 3}", i * 1.5))))
    feed(1L, mk(Nil), deletes = Some(Seq(59L).toDF("event_id")))
    feed(2L, mk(Seq((400L, "g2", 1000.0))))
    feed(3L, mk(Seq((400L, "g2", 5.0))))
    feed(4L, mk(Seq((401L, "g2", 2000.0))))
    feed(5L, mk(Nil), deletes = Some(Seq(401L).toDF("event_id")))
    (0 until 2).foreach(i => feed(6L + i, mk(Seq((500L + i, "g0", 10.0 + i)))))
    val live = ManifestTable.read(srcRoot).get.version
    val pinV = 2L
    val r = live - ManifestTable.RetainVersions + 1
    assert(r > pinV, "setup failed to age the pin out of snapshot retention")
    assert(r >= 6L, "setup: the churn commits must sit inside (pinV, r]")
    intercept[java.io.FileNotFoundException] {
      ManifestTable.readTable(spark, src, Some(pinV))
    }

    val cfg = IncrementalMart.Config(src, mart,
      groupCols = Seq("grp"), valueCols = Seq("value"), numBuckets = 4,
      maxCols = Seq("value"), minCols = Seq("value"))
    IncrementalMart.applyBatch(cfg,
      ManifestTable.readChangeFeed(spark, src, 1L, Some(pinV)), 0L)
    val midMax = ManifestTable.readTable(spark, mart)
      .filter(col("grp") === "g2").select("max_value").head.getDouble(0)
    assert(midMax == 84.0, // 56 * 1.5; NOT the resurrected 1000.0/2000.0
      s"aged-pin recompute resurrected churned rows: $midMax")
    IncrementalMart.applyBatch(cfg,
      ManifestTable.readChangeFeed(spark, src, pinV + 1, Some(live)), 1L)

    val expected = ManifestTable.readTable(spark, src)
      .groupBy("grp").agg(count(lit(1)).as(IncrementalMart.RowsCol),
        sum("value").as("sum_value"), count(col("value")).as("cnt_value"),
        max("value").as("max_value"), min("value").as("min_value"))
      .collect().map(_.toString).toSet
    val martRows = ManifestTable.readTable(spark, mart)
      .collect().map(_.toString).toSet
    assert(martRows == expected)
  }

  test("change-feed stream: the engine plans graft-cdf through the DSv2 MicroBatchStream (not the legacy Source path)") {
    import org.apache.spark.sql.streaming.Trigger
    val target = tmp("graft_cdfv2")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(ManifestTable.DefaultTable, rows(0 until 10, 1),
        Seq("event_id"), 2, append = true, changeFeed = true)))
    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdfv2_ckpt").toString
    var n = 0L
    val q = spark.readStream.format("graft-cdf").option("path", target).load()
      .writeStream.option("checkpointLocation", ckpt)
      .trigger(Trigger.AvailableNow())
      .foreachBatch((b: DataFrame, _: Long) => { n += b.count(); () })
      .start()
    q.awaitTermination()
    assert(n == 10L)
    val srcDesc = q.recentProgress.flatMap(_.sources.map(_.description))
    assert(srcDesc.exists(_.contains("CdfMicroBatchStream")),
      s"drain did not run on the DSv2 stream: ${srcDesc.mkString(";")}")
  }

  test("change-feed stream: a manifest missing at AvailableNow prepare pins an empty drain — commits landing mid-drain cannot extend it") {
    import graft.sources.ChangeFeedStream
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    val target = tmp("graft_cdfp")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, rows(0 until 10, 1), Seq("event_id"), 2,
        append = true, changeFeed = true)))
    val src = new ChangeFeedStream(spark, Map("path" -> target))

    // the table is dropped between subscription resolve and the drain's
    // prepare; stash the manifest so "a writer recreating it mid-drain"
    // can be simulated
    val stash = root.listFiles
      .filter(_.getName.startsWith(ManifestTable.ManifestName))
      .map(f => f -> java.nio.file.Files.readAllBytes(f.toPath))
    stash.foreach { case (f, _) => java.nio.file.Files.delete(f.toPath) }
    src.prepareForTriggerAvailableNow()

    // commits land during the drain: the pinned cap must leave them for
    // the NEXT run instead of extending this one
    stash.foreach { case (f, b) => java.nio.file.Files.write(f.toPath, b) }
    val off = src.latestOffset(null, ReadLimit.allAvailable())
    assert(off == null,
      s"unpinned AvailableNow drain admitted mid-drain commits: $off")
  }

  test("change-feed stream: a feed reset surfaces as a query failure, never a silent gap") {
    import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
    val target = tmp("graft_cdfg")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, rows(0 until 10, 1), Seq("event_id"), 2,
        append = true, changeFeed = true)))

    val ckpt = java.nio.file.Files.createTempDirectory("graft_cdfg_ckpt").toString
    def drain(): Unit = {
      val q = spark.readStream.format("graft-cdf").option("path", target).load()
        .writeStream.option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .foreachBatch((_: DataFrame, _: Long) => ()).start()
      q.awaitTermination()
    }
    drain() // checkpoint now at the feed's first version

    // non-feed commit resets the feed; the reopened feed starts LATER than
    // the checkpoint+1, so resuming would skip the un-fed version silently
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(t, rows(10 until 20, 1), Seq("event_id"), 2, append = true)))
    ManifestTable.mergeBatch(root, "q", 2L, Seq(
      TableBatch(t, rows(20 until 30, 1), Seq("event_id"), 2,
        append = true, changeFeed = true)))
    val e = intercept[StreamingQueryException](drain())
    def causes(x: Throwable): List[Throwable] =
      if (x == null) Nil else x :: causes(x.getCause)
    assert(causes(e).exists(_.isInstanceOf[IllegalStateException]),
      s"expected the loud-gap IllegalStateException, got $e")
  }

  test("gc never deletes a commit point newer than its own version (stale-pointer race)") {
    val target = tmp("graft_gcguard")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // enough commits that the retention window has a lower edge
    (0 until 5).foreach { i =>
      ManifestTable.mergeBatch(root, "q", i.toLong, Seq(
        TableBatch(t, rows(i * 10 until (i + 1) * 10, 1),
          Seq("event_id"), 2, append = true)))
    }
    val mN = ManifestTable.read(root).get
    // a concurrent writer wins version N+1: its MANIFEST.v{N+1} commit
    // point exists but it has NOT yet refreshed the live pointer (the
    // exact window the in-flight guard protects)
    val mN1 = mN.advance(mN.queryId, mN.lastBatch, Map.empty)
    ManifestTable.commit(root, mN1)
    val vN = new File(root, s"${ManifestTable.ManifestName}.v${mN.version}")
    java.nio.file.Files.copy(vN.toPath,
      new File(root, ManifestTable.ManifestName).toPath,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    // the version-N winner's GC runs under the OLD manifest — it must not
    // sweep the newer commit point as "stale"
    ManifestTable.gc(root, mN)
    val vN1 = new File(root, s"${ManifestTable.ManifestName}.v${mN1.version}")
    assert(vN1.exists, "concurrent writer's commit point was garbage-collected")
    // readers roll forward past the stale live pointer and see N+1
    assert(ManifestTable.read(root).get.version == mN1.version)
  }

  test("stats are domain-tagged: string bounds prune LEXICALLY and are never misread as numeric (and vice versa)") {
    val target = tmp("graft_statgate")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // two generations whose string values order LEXICALLY ("12" < "9"):
    // under untyped value-parseability stats these recorded min="12",
    // max="9" and a numeric range read could wrongly skip the generation
    val a = Seq((1L, "9"), (2L, "12")).toDF("event_id", "code")
    val b = Seq((3L, "100"), (4L, "25")).toDF("event_id", "code")
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch(t, a, Seq("event_id"), 1, statsCols = Seq("code"),
        append = true)))
    ManifestTable.mergeBatch(root, "q", 1L, Seq(
      TableBatch(t, b, Seq("event_id"), 1, statsCols = Seq("code"),
        append = true)))
    val ts = ManifestTable.read(root).get.table(t)
    // string columns DO record stats now — tagged with the str domain,
    // bounds in UTF-8 byte order (gen a: ["12","9"], gen b: ["100","25"])
    assert(ts.gens.forall(_.stats.get("code").exists(_.kind == "str")),
      s"string stats missing or mistagged: ${ts.gens.map(_.stats)}")
    // a legacy UNTAGGED stat (parsed as numeric-domain) on a now-string
    // column must not prune: domain mismatch keeps every generation
    val legacy = ts.copy(buckets = ts.buckets.map { case (bk, gens) =>
      bk -> gens.map(g =>
        g.copy(stats = Map("code" -> ManifestTable.ColStat("num", "12", "9"))))
    })
    assert(ManifestTable.gensForRange(legacy, "code", "10", "99").size
      == legacy.gens.size)
    // the range read applies Spark's STRING comparison semantics —
    // lexicographic, so all four values land in ["10","99"] ("9" > "10"
    // since '9' > '1'; "100" < "99" since '1' < '9'): the str-tagged
    // bounds agree with the filter where numeric-parsed bounds would not
    val got = ManifestTable.readTableRange(spark, target, "code", "10", "99")
      .select("event_id").collect().map(_.getLong(0)).toSet
    assert(got == Set(1L, 2L, 3L, 4L))
    // and string pruning actually SKIPS: ["a","z"] is lexically above
    // every recorded bound ("9" < "a", "25" < "a"), so zero generations
    // survive pruning — asserted via the manifest algebra and the read
    assert(ManifestTable.gensForRange(ts, "code", "a", "z").isEmpty,
      "lexical bounds failed to prune a disjoint string range")
    assert(ManifestTable.readTableRange(spark, target, "code", "a", "z")
      .count() == 0L)
  }

  test("sparse feed: feedFrom advances only past actually-pruned entries, not the nominal cutoff") {
    val target = tmp("graft_sparsefeed")
    val root = new File(target)
    // table "b" gets a feed commit at version 1, then OTHER-table commits
    // push the manifest far past the retention cutoff, then "b" commits
    // again — versions in between have no "b" entries (complete by
    // definition), so only the genuinely pruned v1 should be unservable
    ManifestTable.mergeBatch(root, "q", 0L, Seq(
      TableBatch("b", rows(0 until 5, 1), Seq("event_id"), 1,
        append = true, changeFeed = true)))
    (0 until ManifestTable.ChangeRetainVersions).foreach { i =>
      ManifestTable.mergeBatch(root, "q", 1L + i, Seq(
        TableBatch("a", rows(i * 5 until (i + 1) * 5, 1),
          Seq("event_id"), 1, append = true)))
    }
    ManifestTable.mergeBatch(root, "q", 20L, Seq(
      TableBatch("b", rows(100 until 105, 1), Seq("event_id"), 1,
        append = true, changeFeed = true)))
    val m = ManifestTable.read(root).get
    val ts = m.table("b")
    // v1's entry aged out; the sole retained entry is the last commit
    assert(ts.changes.map(_.version) == Seq(m.version))
    assert(ts.feedFrom == 2L,
      s"feedFrom should sit just past the pruned v1 entry, got ${ts.feedFrom}")
    // a consumer restarting from any version in [2, current] is served
    assert(ManifestTable.readChangeFeed(spark, target, 2L, table = "b")
      .count() == 5)
    intercept[IllegalStateException] {
      ManifestTable.readChangeFeed(spark, target, 1L, table = "b")
    }
  }

  test("every change-feed writer lands one parquet file per change dir, and the feed still reads exact rows") {
    val target = tmp("graft_chg_files")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    ManifestTable.mergeBatch(root, "q", 0L, Seq(TableBatch(t,
      rows(0 until 200, 1), Seq("event_id"), 4, changeFeed = true,
      props = Map("retainVersions" -> "10"))))
    // replace-by-key: keys 0..9 leave, 10..29 update, 200..209 arrive
    ManifestTable.mergeBatch(root, "q", 1L, Seq(TableBatch(t,
      rows(10 until 30, 2).unionByName(rows(200 until 210, 2)),
      Seq("event_id"), 4, changeFeed = true,
      deleteKeys = Some((0L until 10L).toDF("event_id")))))
    val v2 = ManifestTable.read(root).get.version
    assert(ManifestTable.deleteWhere(spark, root,
      col("event_id").between(100, 109)) == 10L)
    assert(ManifestTable.updateWhere(spark, root,
      col("event_id").between(150, 159), Map("value" -> lit(-1.0))) == 10L)
    // back to v2: 100..109 return, 150..159 revert their value
    ManifestTable.restoreTable(spark, root, t, v2)

    val chgDirs = new File(root, s"data/$t").listFiles
      .filter(_.getName.startsWith("chg-"))
    assert(chgDirs.length == 5, chgDirs.map(_.getName).mkString(", "))
    chgDirs.foreach { d =>
      val parts = d.listFiles.count(_.getName.endsWith(".parquet"))
      assert(parts == 1, s"${d.getName} holds $parts parquet files")
    }
    val feed = ManifestTable.readChangeFeed(spark, target, 1L)
    val byType = feed
      .groupBy(ManifestTable.CommitVersionCol, ManifestTable.ChangeTypeCol)
      .count().collect()
      .map(r => (r.getLong(0) - 1L, r.getString(1)) -> r.getLong(2)).toMap
    assert(byType == Map(
      (0L, "insert") -> 200L,
      (1L, "delete") -> 10L, (1L, "insert") -> 10L,
      (1L, "update_preimage") -> 20L, (1L, "update_postimage") -> 20L,
      (2L, "delete") -> 10L,
      (3L, "update_preimage") -> 10L, (3L, "update_postimage") -> 10L,
      (4L, "insert") -> 10L,
      (4L, "update_preimage") -> 10L, (4L, "update_postimage") -> 10L),
      s"feed rows per (version - 1, type): $byType")
    // the feed rolls the v1 snapshot forward to the live table exactly
    val rolled = ManifestTable.applyChanges(
      ManifestTable.readTable(spark, target, Some(1L)),
      ManifestTable.readChangeFeed(spark, target, 2L), Seq("event_id"))
    assert(rolled.collect().map(_.toString).toSet ==
      ManifestTable.readTable(spark, target).collect().map(_.toString).toSet)
  }

  test("the commit fault injector fires for every verb: deleteWhere and restoreTable rebase past a race casualty, compact surfaces a deterministic failure at once") {
    val target = tmp("graft_occ_verbs")
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    def ids(): Set[Long] = ManifestTable.readTable(spark, target)
      .select("event_id").collect().map(_.getLong(0)).toSet
    ManifestTable.mergeBatch(root, "wA", 0L, Seq(TableBatch(t,
      rows(0 until 40, 1), Seq("event_id"), 2, changeFeed = true,
      props = Map("retainVersions" -> "20"))))
    // one competing merge lands while the verb's attempt sits between
    // its writes and its commit, then the attempt fails with `failure`
    var calls = 0
    def raceOnce(batchId: Long, competing: Range,
        failure: String => Throwable): Unit = {
      calls = 0
      ManifestTable.commitFaultInjector = { (r, baseV) =>
        if (r == root) {
          calls += 1
          ManifestTable.commitFaultInjector = (_, _) => ()
          ManifestTable.mergeBatch(root, "wB", batchId, Seq(TableBatch(t,
            rows(competing, 1), Seq("event_id"), 2, changeFeed = true)))
          throw failure(s"$target/data/$t/b0-d${baseV + 1}-deadbeef")
        }
      }
    }
    val fnfe = (p: String) =>
      new java.io.FileNotFoundException(s"File $p does not exist")
    try {
      raceOnce(0L, 1000 until 1010, fnfe)
      assert(ManifestTable.deleteWhere(spark, root,
        col("event_id") < 10) == 10L)
      assert(calls == 1, "injector never fired for deleteWhere")
      assert(ids() == ((10 until 40) ++ (1000 until 1010)).map(_.toLong).toSet)

      raceOnce(1L, 2000 until 2005, fnfe)
      val restored = ManifestTable.restoreTable(spark, root, t, 1L)
      assert(calls == 1, "injector never fired for restoreTable")
      assert(ids() == (0L until 40L).toSet)
      // the rebased restore diffed against the winner's state: its feed
      // entry retracts both competing merges and re-inserts 0..9
      val diff = ManifestTable.readChangeFeed(spark, target, restored)
        .groupBy(ManifestTable.ChangeTypeCol).count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(diff == Map("delete" -> 15L, "insert" -> 10L), s"$diff")

      ManifestTable.mergeBatch(root, "wA", 1L, Seq(TableBatch("c",
        rows(0 until 20, 1), Seq("event_id"), 2, append = true)))
      ManifestTable.mergeBatch(root, "wA", 2L, Seq(TableBatch("c",
        rows(20 until 40, 1), Seq("event_id"), 2, append = true)))
      raceOnce(2L, 3000 until 3005, _ => new RuntimeException(
        "[TABLE_OR_VIEW_NOT_FOUND] The table or view `canonical` does not exist"))
      val e = intercept[RuntimeException] {
        ManifestTable.compact(spark, root, "c")
      }
      assert(e.getMessage.contains("TABLE_OR_VIEW_NOT_FOUND"))
      assert(calls == 1, "a deterministic failure was retried as a GC race")
    } finally ManifestTable.commitFaultInjector = (_, _) => ()
  }

  /** Three keyed tables with a change feed, one batch of `ids` each; the
    * third declares `constraint.value_small` (value < 1000).
    */
  private def threeTables(ids: Range, day: Int): Seq[TableBatch] = Seq(
    TableBatch("ta", rows(ids, day), Seq("event_id"), 4, changeFeed = true),
    TableBatch("tb", rows(ids, day), Seq("event_id"), 4, changeFeed = true),
    TableBatch("tc", rows(ids, day), Seq("event_id"), 4, changeFeed = true,
      props = Map("constraint.value_small" -> "value < 1000")))

  test("mergeBatch derives the tables of one batch concurrently: jobs of two tables' derivations are in flight at once") {
    import org.apache.spark.scheduler._
    import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
    val target = tmp("graft_overlap")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, threeTables(0 until 400, 1))
    // a job belongs to the table whose dirs its SQL execution's plan
    // names (generation reads, generation and change-feed writes)
    val tableOfExec = new java.util.concurrent.ConcurrentHashMap[Long, String]
    val started = new java.util.concurrent.ConcurrentHashMap[Int, (Long, Long)]
    val spans = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]
    val dirOf = "/data/(t[abc])/".r
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart =>
          val named = dirOf.findAllMatchIn(s.physicalPlanDescription)
            .map(_.group(1)).toSet
          if (named.size == 1) tableOfExec.put(s.executionId, named.head): Unit
        case _ =>
      }
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.sql.execution.id")))
          .foreach(x => started.put(j.jobId, (x.toLong, j.time)))
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        Option(started.get(j.jobId)).foreach { case (x, t0) =>
          spans.add((x, t0, j.time)) }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      ManifestTable.mergeBatch(root, "q", 1L, threeTables(200 until 600, 2))
      // the listener bus is asynchronous: wait until every started job's
      // end has been seen
      val deadline = System.currentTimeMillis() + 30000
      while (spans.size < started.size &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val byTable = spans.asScala.toSeq.flatMap { case (x, t0, t1) =>
      Option(tableOfExec.get(x)).map(t => (t, t0, t1)) }
    assert(byTable.map(_._1).toSet == Set("ta", "tb", "tc"),
      s"derivation jobs not attributed to every table: $byTable")
    val overlapping = for {
      (a, a0, a1) <- byTable
      (b, b0, b1) <- byTable
      if a < b && a0 < b1 && b0 < a1
    } yield (a, b)
    assert(overlapping.nonEmpty,
      s"no two tables' derivation jobs ran at once: ${byTable.sortBy(_._2)}")
    val all = ManifestTable.readTable(spark, target, table = "tb")
    assert(all.count() == 600L)
  }

  /** Every file under a table root's `data` dir, with its length. */
  private def dataFiles(root: File): Map[String, Long] = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) Option(f.listFiles).toSeq.flatten.flatMap(walk)
      else Seq(f)
    walk(new File(root, "data")).map(f => f.getPath -> f.length).toMap
  }

  test("a multi-table mergeBatch whose one table violates its CHECK constraint throws that violation, writes no generation and leaves no writer behind") {
    val target = tmp("graft_par_fail")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, threeTables(0 until 100, 1))
    val v0 = ManifestTable.read(root).get.version
    // ids 700.. carry value = 1.5 * id >= 1000: only tc's constraint fails,
    // and tc comes last, after two tables that plan cleanly
    val batch = threeTables(650 until 720, 2)
    val e = intercept[IllegalArgumentException] {
      ManifestTable.mergeBatch(root, "q", 1L, batch)
    }
    assert(e.getMessage.contains("value_small"), e.getMessage)
    assert(ManifestTable.read(root).get.version == v0, "a version committed")
    val atReturn = dataFiles(root)
    Thread.sleep(1500)
    assert(dataFiles(root) == atReturn, "a derivation kept writing after the call")
    // the violation surfaces while planning, before any table derives:
    // no generation or change dir of the failed version holds a file
    val target1 = s"-v${v0 + 1}-"
    val written = atReturn.keys.filter(_.contains(target1))
    assert(written.isEmpty, s"dirs of the failed attempt hold files: $written")
    // the same batch without the violating rows lands in full
    ManifestTable.mergeBatch(root, "q", 1L, threeTables(650 until 660, 2))
    assert(ManifestTable.readTable(spark, target, table = "tc").count() == 110L)
  }

  test("an interrupted mergeBatch caller gets its InterruptedException only once every table's derivation has settled: no data file changes after it returns") {
    val target = tmp("graft_interrupt")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, threeTables(0 until 400, 1))
    val v0 = ManifestTable.read(root).get.version
    val derived0 = ManifestTable.mergeDeriveCount.get
    val outcome = new java.util.concurrent.atomic.AtomicReference[Throwable]
    val caller = new Thread(() =>
      try ManifestTable.mergeBatch(root, "q", 1L, threeTables(200 until 600, 2))
      catch { case e: Throwable => outcome.set(e) }, "interrupted-merge")
    caller.start()
    // interrupt once a table has started deriving: the caller is then
    // waiting on the tables' derivations, which have jobs to run
    while (ManifestTable.mergeDeriveCount.get == derived0 && caller.isAlive)
      Thread.sleep(1)
    caller.interrupt()
    caller.join(120000)
    assert(!caller.isAlive, "the interrupted caller never returned")
    val atReturn = dataFiles(root)
    assert(outcome.get.isInstanceOf[InterruptedException], s"${outcome.get}")
    assert(ManifestTable.read(root).get.version == v0, "a version committed")
    Thread.sleep(3000)
    assert(dataFiles(root) == atReturn,
      "a derivation kept writing after the interrupted call returned")
    // the re-run batch lands in full
    ManifestTable.mergeBatch(root, "q", 1L, threeTables(200 until 600, 2))
    assert(ManifestTable.readTable(spark, target, table = "tb").count() == 600L)
  }

  test("mergeBatch writes its intent once per attempt, naming every table's touched buckets") {
    import java.nio.file.{FileSystems, StandardWatchEventKinds}
    import java.util.concurrent.TimeUnit
    val target = tmp("graft_intent_once")
    val root = new File(target)
    ManifestTable.mergeBatch(root, "q", 0L, threeTables(0 until 100, 1))
    val intents = new File(root, "_intents")
    intents.mkdirs()
    val watch = FileSystems.getDefault.newWatchService()
    intents.toPath.register(watch, StandardWatchEventKinds.ENTRY_CREATE)
    // the declared intent as the publish step sees it
    var declared: Seq[String] = Nil
    ManifestTable.commitFaultInjector = (r, _) =>
      if (r == root) declared = intents.listFiles
        .filter(_.getName.endsWith(".intent")).toSeq
        .flatMap(f => java.nio.file.Files.readAllLines(f.toPath)
          .toArray.toSeq.map(_.toString).tail)
    val batch = Seq(
      TableBatch("ta", rows(0 until 3, 2), Seq("event_id"), 4),
      TableBatch("tb", rows(100 until 140, 2), Seq("event_id"), 4),
      TableBatch("tc", rows(300 until 301, 2), Seq("event_id"), 4))
    try ManifestTable.mergeBatch(root, "q", 1L, batch)
    finally ManifestTable.commitFaultInjector = (_, _) => ()
    val created = scala.collection.mutable.ListBuffer.empty[String]
    var key = watch.poll(2, TimeUnit.SECONDS)
    while (key != null) {
      key.pollEvents().forEach(ev => created += ev.context.toString)
      key.reset()
      key = watch.poll(500, TimeUnit.MILLISECONDS)
    }
    watch.close()
    assert(created.count(_.endsWith(".intent")) == 1,
      s"intent written ${created.count(_.endsWith(".intent"))} times: $created")
    val expected = batch.map { tb =>
      val bs = tb.rows.select(pmod(xxhash64(col("event_id")), lit(4)))
        .distinct().collect().map(_.getLong(0)).sorted
      s"${tb.name}:4:${bs.mkString(",")}"
    }
    assert(declared.sorted == expected.sorted)
  }
}
