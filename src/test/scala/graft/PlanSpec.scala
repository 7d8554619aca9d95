package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode

/** Plan-shape assertions (SURVEY §5/§6): the physical plans must carry the
  * scale properties the design claims — parquet pushdown + pruning,
  * broadcast joins for dimensions, TakeOrderedAndProject for global top-k,
  * whole-stage codegen around the hot expressions, and bounded shuffle
  * counts for the one-shuffle operators.
  */
class PlanSpec extends SparkSpec {
  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution
      .explainString(ExplainMode.fromString("formatted"))

  private def exchanges(df: DataFrame): Int =
    "Exchange".r.findAllIn(
      df.queryExecution.executedPlan.toString).length

  test("q6_filter_agg pushes filters into the parquet scan and prunes columns") {
    val p = plan("q6_filter_agg")
    assert(p.contains("PushedFilters: ["), p)
    assert(!p.contains("PushedFilters: []"), p)
    // scan must not read all 11 lineitem columns for a 3-column aggregate
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).get
    assert(readSchema.count(_ == ',') < 5, readSchema)
  }

  test("q_values_lookup and q5_join5 broadcast their dimension sides") {
    assert(plan("q_values_lookup").contains("BroadcastHashJoin"))
    assert(plan("q5_join5").contains("BroadcastHashJoin"))
  }

  test("q3_topk executes global top-k as TakeOrderedAndProject (no full sort)") {
    assert(plan("q3_topk").contains("TakeOrderedAndProject"))
  }

  test("q_range_join plans as an EQUI-join on overlap buckets, never a nested loop") {
    val p = plan("q_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") &&
      !p.contains("CartesianProduct"),
      s"range join fell back to an O(n·m) plan:\n${p.take(2000)}")
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"),
      s"no keyed join in the range-join plan:\n${p.take(2000)}")
  }

  test("ev_mad_outlier keys every aggregate on event_type and never force-broadcasts the stats dims") {
    val p = plan("ev_mad_outlier")
    assert(!p.contains("SinglePartition"),
      s"a MAD pass funneled through one partition:\n${p.take(2000)}")
  }

  test("doc_token_entropy partitions its count window by doc_id (no single-partition funnel)") {
    val p = plan("doc_token_entropy")
    assert(!p.contains("SinglePartition"),
      s"the token-count window funneled through one partition:\n${p.take(2000)}")
  }

  test("one-shuffle operators shuffle at most once before presentation sort") {
    // sessionize: both windows + the session aggregation share one hash
    // partitioning on user_id; the only other exchange is the final orderBy
    val sess = SparkEntry.queries("ev_sessionize")(spark, sf)
    assert(exchanges(sess) <= 2, sess.queryExecution.executedPlan.toString)
    val dedup = SparkEntry.queries("ev_dedup_latest")(spark, sf)
    assert(exchanges(dedup) <= 2)
  }

  test("ev_asof_custom plans through AsOfJoinExec and equals the window formulation") {
    val custom = SparkEntry.queries("ev_asof_custom")(spark, sf)
    assert(custom.queryExecution.executedPlan.toString.contains("AsOfJoin"))
    val window = SparkEntry.queries("ev_asof_join")(spark, sf)
    val a = custom.collect().map(_.toString).toSet
    val b = window.collect().map(_.toString).toSet
    assert(a == b && a.nonEmpty)
  }

  test("GraftExtensions registers the as-of strategy via SparkSessionExtensions") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // force shared-session init before clearing
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder().master("local[4]")
        .withExtensions(new GraftExtensions).getOrCreate()
      assert(s2.sessionState.planner.strategies.contains(plans.AsOfJoinStrategy))
      // the plain shared session (no extensions, no manual register calls
      // yet in that session) relies on AsOfJoin.apply's self-registration —
      // the two wiring paths must agree on the resulting physical plan
    } finally {
      SparkSession.setActiveSession(prev)
      SparkSession.setDefaultSession(prev)
    }
  }

  test("stream_click_attrib plans as an equi-join with range residual, not a cross join") {
    val p = plan("stream_click_attrib")
    assert(!p.contains("CartesianProduct"), p.take(1500))
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), p.take(1500))
  }

  test("doc_sample_stratified broadcasts the rate dim and stays map-side") {
    val p = plan("doc_sample_stratified")
    assert(p.contains("BroadcastHashJoin"), p.take(1500))
    // broadcast build + presentation sort only — no data-sized shuffle
    val df = SparkEntry.queries("doc_sample_stratified")(spark, sf)
    assert(exchanges(df) <= 2, df.queryExecution.executedPlan.toString)
  }

  test("stream_enrich batch plan broadcasts the customer dim") {
    assert(plan("stream_enrich").contains("BroadcastHashJoin"))
  }

  test("doc_chunk_pack is map-only before the presentation sort") {
    val df = SparkEntry.queries("doc_chunk_pack")(spark, sf)
    assert(exchanges(df) <= 1, df.queryExecution.executedPlan.toString)
  }

  test("new aggregation operators stay within their shuffle budgets") {
    // gap_fill: hourly agg + spine join + presentation sort
    assert(exchanges(SparkEntry.queries("ev_gap_fill")(spark, sf)) <= 4)
    // zscore: hourly agg + window repartition + presentation sort
    assert(exchanges(SparkEntry.queries("ev_anomaly_zscore")(spark, sf)) <= 3)
    // array battery: one partial-agg shuffle + presentation sort
    assert(exchanges(SparkEntry.queries("q_array_funcs")(spark, sf)) <= 2)
    // tfidf: no cartesian blowup — the only nested-loop is the broadcast
    // single-row totals
    val p = plan("doc_tfidf_topk")
    assert(!p.contains("CartesianProduct"), p.take(1200))
    // scd2 / ewma / ohlc: all windows + aggregation share ONE key shuffle,
    // plus only the presentation sort
    assert(exchanges(SparkEntry.queries("ev_scd2")(spark, sf)) <= 2)
    assert(exchanges(SparkEntry.queries("ev_ewma")(spark, sf)) <= 3)
    assert(exchanges(SparkEntry.queries("ev_resample_ohlc")(spark, sf)) <= 3)
    // salted distinct: stage-1 mixed distinct agg (Spark plans it as
    // expand + two-phase = 2 exchanges), stage-2 merge, presentation sort
    assert(exchanges(SparkEntry.queries("q_salted_agg")(spark, sf)) <= 4)
    // repetition signals: map-only + presentation sort
    assert(exchanges(SparkEntry.queries("doc_repetition")(spark, sf)) <= 1)
    // sliding windows: map-side expansion, one agg shuffle + sort
    assert(exchanges(SparkEntry.queries("ev_window_sliding")(spark, sf)) <= 2)
    // fuzzy match + downsample: equi-join/bucket shuffles only, no
    // nested-loop pairing in any scale path
    assert(!plan("doc_fuzzy_match").contains("NestedLoop"))
    assert(!plan("ev_downsample").contains("NestedLoop"))
  }

  test("doc_importance_weight broadcasts the LLR dim onto the token stream") {
    // the per-doc scoring join must be a broadcast of the vocabulary-sized
    // LLR table (bounded by hashing in production), never a shuffle of the
    // full token stream against it
    assert(plan("doc_importance_weight").contains("BroadcastHashJoin"))
  }

  test("corpus-accounting and LM-scoring operators stay within scan/shuffle budgets") {
    def scans(df: DataFrame): Int =
      "Scan parquet".r.findAllIn(df.queryExecution.executedPlan.toString).length
    // accounting queries: ONE scan → partial agg → one exchange to the
    // final grain (+ presentation sort); re-deriving the corpus agg per
    // normalization (the crossJoin-an-agg shape) would show extra scans
    Seq("doc_domain_mix").foreach { q =>
      val df = SparkEntry.queries(q)(spark, sf)
      assert(scans(df) <= 1 && exchanges(df) <= 4,
        s"$q: scans=${scans(df)} ex=${exchanges(df)}")
    }
    // LM-scoring queries are two-pass by nature (fit the vocab dim, score
    // the corpus against it) — TWO pruned scans (exchange reuse collapses
    // the shared tf subtree's extra derivations: the totals 1-row agg and
    // the keyed score join both re-enter at a byte-identical shuffle);
    // a third scan or a corpus-grain totals re-derivation busts the budget
    // the scan count is RUNTIME truth, not initial-plan text: the shared
    // tf subtree feeds the score join, the unigram fit, and the totals
    // 1-row agg through byte-identical shuffles, which AQE stage reuse
    // collapses onto one physical scan — so execute first and count scans
    // in the FINAL adaptive plan only (the adaptive node's toString prints
    // initial + final, which would double-count; reused stages print as
    // ReusedExchange references, not repeated scans)
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    def finalPlan(df: DataFrame): SparkPlan = {
      df.collect()
      df.queryExecution.executedPlan match {
        case a: AdaptiveSparkPlanExec => a.executedPlan
        case p => p
      }
    }
    // r15: count by TRAVERSING the executed tree, not by grepping its
    // string — the LM operators now read the stored tf index, and an
    // InMemoryRelation node PRINTS its cached child plan (including the
    // original "Scan parquet" + exchanges), which a string count would
    // misread as re-executed corpus scans. Traversal only visits nodes
    // that actually ran in THIS query; a cached-index read is an
    // InMemoryTableScan leaf, and a ReusedExchange holds a reference
    // (no children), so neither double-counts.
    // AQE query stages are LEAF nodes — walk into each stage's plan
    // explicitly (a ReusedExchange stays a true leaf: its referenced
    // exchange already ran and was counted at its own stage)
    def walk(p: SparkPlan): Seq[SparkPlan] = {
      val next = p match {
        case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
          Seq(q.plan)
        case _ => p.children
      }
      p +: next.flatMap(walk)
    }
    def finalScans(p: SparkPlan): Int = walk(p).count {
      case _: org.apache.spark.sql.execution.FileSourceScanExec => true
      case _ => false
    }
    def finalEx(p: SparkPlan): Int = walk(p).count {
      case _: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => true
      case _: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => true
      case _ => false
    }
    // exchange budget note: when AQE converts a keyed join to broadcast
    // at runtime, the already-materialized shuffle stage stays in the
    // final plan UNDER the new BroadcastExchange — both count, so the
    // runtime count is a couple higher than the logical shuffle count
    Seq("doc_importance_weight", "doc_lm_score").foreach { q =>
      val p = finalPlan(SparkEntry.queries(q)(spark, sf))
      assert(finalScans(p) <= 2 && finalEx(p) <= 9,
        s"$q: scans=${finalScans(p)} ex=${finalEx(p)}\n${p.toString.take(4000)}")
    }
    // ccnet adds the histogram/threshold stages on top of the lm_score
    // front half (hist, cum window, per-lang n, th, final bucket join) —
    // all over bounded grains, but each is its own exchange
    locally {
      // r15: the corpus-grain tokenize→count pass lives in the stored tf
      // index (scans == 0 here — nothing re-derives the corpus), so the
      // remaining exchanges move only the cached tf grain and the
      // quantization-bounded histogram / per-lang dims; the count is a
      // couple higher than the pre-index shape because the once-shared
      // tf subtree's stage reuse moved into the build with it
      val p = finalPlan(SparkEntry.queries("doc_ccnet_bucket")(spark, sf))
      assert(finalScans(p) <= 2 && finalEx(p) <= 20,
        s"doc_ccnet_bucket: scans=${finalScans(p)} ex=${finalEx(p)}\n${p.toString.take(4000)}")
    }
  }

  test("LM scoring never single-partitions the vocab grain or broadcasts it") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan}
    // the r12 plan audit's two scale-killers, locked out: (1) a WindowExec
    // whose partition spec is empty or foldable funnels its whole input
    // through ONE task — with the vocab or corpus grain underneath, that
    // is the operator that cannot scale; (2) a broadcast HINT on the
    // open-vocabulary unigram dim pins a corpus-sized broadcast at 100 TB
    // (AQE may still broadcast when actually small — hints must not force
    // it). Broadcast hints are allowed only on provably-bounded sides:
    // 1-row aggregates (maxRows == 1) or the per-lang threshold dim.
    Seq("doc_lm_score", "doc_ccnet_bucket", "doc_importance_weight").foreach { q =>
      val qe = SparkEntry.queries(q)(spark, sf).queryExecution
      // under AQE the executedPlan root is an AdaptiveSparkPlanExec LEAF
      // — collecting on it directly visits one node and asserts nothing;
      // unwrap to the real tree
      val physical = qe.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.inputPlan
        case p => p
      }
      val badWindows = physical.collect {
        case w: WindowExec
            if w.partitionSpec.isEmpty || w.partitionSpec.forall(_.foldable) => w
      }
      assert(badWindows.isEmpty,
        s"$q: single-partition WindowExec present:\n${badWindows.mkString("\n")}")
      def boundedGrain(p: LogicalPlan): Boolean =
        p.maxRows.contains(1L) || p.output.map(_.name).toSet.subsetOf(
          Set("lang", "t1", "t2", "n"))
      val badHints = qe.optimizedPlan.collect {
        case j: Join =>
          (if (j.hint.leftHint.exists(_.strategy.nonEmpty) && !boundedGrain(j.left))
             Seq(j.left) else Nil) ++
          (if (j.hint.rightHint.exists(_.strategy.nonEmpty) && !boundedGrain(j.right))
             Seq(j.right) else Nil)
      }.flatten
      assert(badHints.isEmpty,
        s"$q: broadcast hint on an unbounded side:\n${badHints.mkString("\n")}")
    }
  }

  test("correlated SQL operators decorrelate: no per-row re-execution") {
    // EXISTS / NOT EXISTS must plan as semi + anti joins
    val ex = plan("q_exists_correlated")
    assert(ex.contains("LeftSemi") && ex.contains("LeftAnti"), ex.take(1500))
    // LATERAL (ORDER BY + LIMIT) must decorrelate to a ranked join —
    // never a cartesian product per outer row
    val lat = plan("q_lateral")
    assert(!lat.contains("CartesianProduct"), lat.take(1500))
  }

  test("runtime bloom filter prunes the fact side of a selective dim join") {
    // Spark's runtime row-level filtering injects a bloom filter built from
    // the selective dim side into the fact scan BEFORE the shuffle — the
    // semi-join-reduction pattern that cuts shuffle volume at 100 TB. The
    // size thresholds exist for small inputs, so drop them to observe the
    // rewrite on test data; production leaves the defaults.
    val conf = spark.conf
    val overrides = Seq(
      // creation side must be SMALLER than this cap → raise it
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "1GB",
      // application-side scan must be LARGER than this floor → drop it
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") // force shuffle join
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => conf.set(k, v) }
      val dim = Tables.orders(spark, sf)
        .filter(org.apache.spark.sql.functions.col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val fact = Tables.lineitem(spark, sf).select("l_orderkey", "l_quantity")
      val joined = fact.join(dim,
        fact("l_orderkey") === dim("o_orderkey"))
      val p = joined.queryExecution.optimizedPlan.toString
      assert(p.contains("bloom_filter") || p.contains("BloomFilter")
        || p.contains("might_contain"), p.take(3000))
    } finally {
      saved.foreach { case (k, v) =>
        v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("AQE splits a skewed shuffle-join partition at runtime") {
    // one hot key holds ~90% of the fact side; with the skew thresholds
    // scaled to test data, AQE's OptimizeSkewedJoin must split that
    // reducer partition instead of letting one task absorb the key —
    // the runtime half of the salting story in SURVEY §5.
    val conf = spark.conf
    val overrides = Seq(
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "8KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    val saved = overrides.map { case (k, _) => k -> conf.getOption(k) }
    try {
      overrides.foreach { case (k, v) => conf.set(k, v) }
      import org.apache.spark.sql.functions.{col, when, lit}
      val skewed = spark.range(200000).select(
        when(col("id") % 10 =!= 0, lit(7L)).otherwise(col("id")).as("k"),
        col("id").as("payload"))
      val dim = spark.range(1000).toDF("k")
      val j = skewed.join(dim, "k")
      j.collect() // AQE reveals the skew split only in the final plan
      val p = j.queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("skew"), p.take(3000))
    } finally {
      saved.foreach { case (k, v) => v.fold(conf.unset(k))(conf.set(k, _)) }
    }
  }

  test("partitioned writes enable partition pruning on read") {
    import org.apache.spark.sql.functions._
    // the other write-time layout lever: partition the canonical table by
    // its routing column and a filtered read never opens the other
    // partitions' files
    val dir = java.nio.file.Files.createTempDirectory("graft_part")
      .resolve("t").toString
    SparkEntry.queries("canon_header")(spark, sf)
      .write.partitionBy("source_system").parquet(dir)
    val pruned = spark.read.parquet(dir)
      .filter(col("source_system") === "XML")
    val scan = pruned.queryExecution.executedPlan.toString.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scan.contains("source_system"), scan)
    assert(!scan.contains("PartitionFilters: []"), scan)
    assert(pruned.count() > 0)
  }

  test("bucketed tables co-locate the join: no exchange on either side") {
    import org.apache.spark.sql.functions._
    // the 100 TB pattern for repeated fact-fact joins on one key: bucket
    // both tables by the key at write time; every later join is
    // exchange-free (sort-merge over pre-bucketed scans)
    def rm(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(rm)
      f.delete(): Unit
    }
    Seq("ev_bucketed", "totals_bucketed").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(
        spark.conf.get("spark.sql.warehouse.dir").stripPrefix("file:"), t)
      if (loc.exists) rm(loc)
    }
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    ev.write.mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
      .saveAsTable("ev_bucketed")
    ev.groupBy("user_id").agg(sum("value").as("total")).write
      .mode("overwrite").bucketBy(8, "user_id").sortBy("user_id")
      .saveAsTable("totals_bucketed")
    // disable auto-broadcast so the plan shows the bucket path (at real
    // scale neither side fits a broadcast — that is the case bucketing
    // exists for)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table("ev_bucketed")
        .join(spark.table("totals_bucketed"), "user_id")
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), plan.take(2000))
      assert(!plan.contains("Exchange"), plan.take(2000))
      assert(joined.count() > 0)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
  }

  test("ingestion header chain scans each raw table once per source branch") {
    val p = plan("canon_header")
    // 3 branches (json/xml/csv, each from orders+lineitem);
    // detail entries look like "(1) Scan parquet" (tree lines would double-count)
    val scans = p.linesIterator.count(l =>
      l.trim.startsWith("(") && l.contains("Scan parquet"))
    assert(scans <= 6, s"$scans parquet scans")
  }

  test("format(\"graft\") read prunes generations from the PLAN's own predicates — same file subset as readTableRanges, same rows as a full-scan filter") {
    import java.io.File
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.TableBatch
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_dsv")
      .resolve("t").toString
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // four append batches, each a narrow day-slice: per-generation ts
    // stats are tight, so a one-day predicate must open ~1/4 of the files
    (0 until 4).foreach { d =>
      val df = (0 until 100).map { i =>
        (d * 100L + i,
          java.sql.Timestamp.valueOf(f"2024-03-${d + 1}%02d 12:00:${i % 60}%02d"),
          s"client_${('a' + d).toChar}", i * 1.5)
      }.toDF("event_id", "ts", "client_id", "value")
      ManifestTable.mergeBatch(root, "q", d.toLong, Seq(
        TableBatch(t, df, Seq("event_id"), 2,
          statsCols = Seq("ts", "client_id"), append = true)))
    }
    val ts1 = ManifestTable.read(root).get.table(t)
    val lo = java.sql.Timestamp.valueOf("2024-03-02 00:00:00")
    val hi = java.sql.Timestamp.valueOf("2024-03-02 23:59:59")

    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    def filesUnder(rels: Seq[String]): Long =
      rels.map(rel => Option(new File(root, rel).listFiles).getOrElse(Array.empty)
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).sum.toLong

    val plain = spark.read.format("graft").option("path", target).load()
    val filtered = plain.filter(col("ts").between(lit(lo), lit(hi)))

    // the filtered read opens exactly the generations the manifest's
    // stats algebra keeps (what readTableRanges opens), not the table
    val expectedRels = ManifestTable.gensForRange(ts1, "ts", lo, hi).map(_.path)
    val totalFiles = filesUnder(ts1.gens.map(_.path))
    val keptFiles = filesUnder(expectedRels)
    assert(keptFiles < totalFiles, "setup produced unprunable stats")
    assert(scanFiles(filtered) == keptFiles,
      "plan-predicate pruning opened a different file subset than the manifest algebra")
    assert(scanFiles(plain) == totalFiles)

    // rows: pruned read ≡ full-scan filter ≡ readTableRanges
    val viaProvider = filtered.collect().map(_.toString).toSet
    val viaApi = ManifestTable.readTableRange(spark, target, "ts", lo, hi)
      .collect().map(_.toString).toSet
    val fullScan = ManifestTable.readTable(spark, target)
      .filter(col("ts").between(lit(lo), lit(hi)))
      .collect().map(_.toString).toSet
    assert(viaProvider == fullScan && viaProvider == viaApi
      && viaProvider.nonEmpty)

    // STRING equality prunes through the provider too (lexical stats)
    val strFiltered = plain.filter(col("client_id") === "client_c")
    val strKept = filesUnder(ManifestTable.gensForRange(ts1, "client_id",
      "client_c", "client_c").map(_.path))
    assert(strKept < totalFiles)
    assert(scanFiles(strFiltered) == strKept)
    assert(strFiltered.count() == 100L)

    // a registered view prunes the same way — the "plain SELECT" surface
    Views.registerManifest(spark, target, "dsv_events")
    val viaView = spark.sql(
      s"SELECT * FROM dsv_events WHERE ts BETWEEN '$lo' AND '$hi'")
    assert(scanFiles(viaView) == keptFiles,
      "view predicate failed to reach the manifest pruning")

    // a merge-key equality pins the single covering hash bucket (the
    // manifest records the writer's layout), so a plain SQL point lookup
    // opens 1/numBuckets of the table before stats even apply
    val keyFiltered = plain.filter(col("event_id") === 142L)
    val b = ManifestTable.bucketsForKeys(spark, Seq(142L), 2).head
    val bucketFiles = filesUnder(ts1.buckets(b).map(_.path))
    assert(bucketFiles < totalFiles)
    assert(scanFiles(keyFiltered) == bucketFiles,
      "merge-key equality failed to prune to the covering bucket")
    assert(keyFiltered.count() == 1L)

    // time travel rides the same surface (oldest RETAINED version: two
    // of the four append batches visible)
    val v2 = spark.read.format("graft").option("path", target)
      .option("version", "2").load()
    assert(v2.count() == 200L)
  }

  test("format(\"graft\") IN-span pruning orders string endpoints by UTF-8 bytes — supplementary code points don't mis-prune") {
    import java.io.File
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.TableBatch
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_inspan")
      .resolve("t").toString
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // U+FFFD sorts ABOVE U+1F600 in UTF-16 code units (FFFD > D83D) but
    // BELOW it in UTF-8 bytes / code points (EF BF BD < F0 9F 98 80) —
    // exactly the disagreement that made the old java-sorted IN span
    // exclude the supplementary-plane generation
    val lowStr = "�_low"
    val highStr = "😀_high" // U+1F600
    Seq(lowStr, highStr).zipWithIndex.foreach { case (s, i) =>
      val df = (0 until 10).map(j => (i * 10L + j, s + j)).toDF("id", "tag")
      ManifestTable.mergeBatch(root, "q", i.toLong, Seq(
        TableBatch(t, df, Seq("id"), 1, statsCols = Seq("tag"), append = true)))
    }
    val plain = spark.read.format("graft").option("path", target).load()
    val inRead = plain.filter(col("tag").isin(lowStr + "3", highStr + "3"))
    val rows = inRead.collect()
    assert(rows.length == 2, s"IN span mis-pruned: got ${rows.length} rows")
    // and both generations were actually opened (no lucky re-filter)
    val scanned = inRead.queryExecution.executedPlan
      .collect { case f: FileSourceScanExec => f }
      .map(_.metrics("numFiles").value).sum
    val ts1 = ManifestTable.read(root).get.table(t)
    val allFiles = ts1.gens.map(g =>
      Option(new File(root, g.path).listFiles).getOrElse(Array.empty)
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).sum.toLong
    assert(scanned == allFiles,
      "both string generations must survive the UTF-8-ordered span")
  }

  test("search sidecars prune point lookups on columns min/max spans can't skip — exact results, unindexed generations always kept") {
    import java.io.File
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.TableBatch
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_search")
      .resolve("t").toString
    val root = new File(target)
    val t = ManifestTable.DefaultTable
    // 8 append generations whose uid/ref values SCATTER: every
    // generation's [min,max] spans the full domain on both columns, so
    // stats pruning keeps everything and only the membership sidecars can
    // skip — the unclustered-high-cardinality point-lookup shape search
    // optimization exists for
    def uid(b: Int, i: Int): String = f"${(i * 2654435761L + b) % 997}%03d-$b-$i"
    def ref(b: Int, i: Int): Long = i * 8L + b
    // one generation WITHOUT sidecars, written BEFORE any searchCols are
    // recorded as the table's layout (later batches would otherwise
    // inherit them): pruning must always keep it
    val plainDf = (0 until 200).map(i => (9000L + i, uid(8, i), ref(8, i)))
      .toDF("event_id", "uid", "ref")
    ManifestTable.mergeBatch(root, "q", 8L, Seq(
      TableBatch(t, plainDf, Seq("event_id"), 1,
        statsCols = Seq("uid", "ref"), append = true)))
    (0 until 8).foreach { b =>
      val df = (0 until 200).map(i => (b * 1000L + i, uid(b, i), ref(b, i)))
        .toDF("event_id", "uid", "ref")
      ManifestTable.mergeBatch(root, "q", 100L + b, Seq(
        TableBatch(t, df, Seq("event_id"), 1, statsCols = Seq("uid", "ref"),
          append = true, searchCols = Seq("uid", "ref"))))
    }

    val ts1 = ManifestTable.read(root).get.table(t)
    assert(ts1.gens.count(_.search.nonEmpty) == 8 &&
      ts1.gens.count(_.search.isEmpty) == 1)
    def filesUnder(rels: Seq[String]): Long =
      rels.map(rel => Option(new File(root, rel).listFiles).getOrElse(Array.empty)
        .count(f => f.isFile && !f.getName.startsWith("_") &&
          !f.getName.startsWith("."))).sum.toLong
    val totalFiles = filesUnder(ts1.gens.map(_.path))
    val unindexedFiles = filesUnder(ts1.gens.filter(_.search.isEmpty).map(_.path))
    val maxGenFiles = ts1.gens.map(g => filesUnder(Seq(g.path))).max
    def scanFiles(df: org.apache.spark.sql.DataFrame): Long = {
      df.collect()
      df.queryExecution.executedPlan
        .collect { case f: FileSourceScanExec => f }
        .map(_.metrics("numFiles").value).sum
    }
    val plain = spark.read.format("graft").option("path", target).load()

    // STRING equality: the sidecar keeps its home generation (+ at most a
    // couple of 2%-fpp false positives) plus the unindexed generation
    val strLookup = plain.filter(col("uid") === uid(5, 17))
    val strScanned = scanFiles(strLookup)
    assert(strScanned <= unindexedFiles + 3 * maxGenFiles &&
      strScanned < totalFiles,
      s"string sidecar failed to prune: $strScanned of $totalFiles files")
    assert(strLookup.select("event_id").as[Long].collect().toSet == Set(5017L))

    // LONG equality prunes the same way
    val numLookup = plain.filter(col("ref") === ref(3, 40))
    assert(scanFiles(numLookup) <= unindexedFiles + 3 * maxGenFiles)
    // ref(3,40)=323 ≡ 3 (mod 8): no other (b,i) under either uid scheme
    // produces it, so the lookup hits exactly one row
    assert(numLookup.select("event_id").as[Long].collect().toSet == Set(3040L))

    // IN over two generations' values keeps both (+ fp) and stays exact
    val inLookup = plain.filter(col("uid").isin(uid(1, 3), uid(6, 120)))
    assert(scanFiles(inLookup) <= unindexedFiles + 4 * maxGenFiles)
    assert(inLookup.select("event_id").as[Long].collect().toSet ==
      Set(1003L, 6120L))

    // results ≡ full-scan filter on every shape above
    val full = ManifestTable.readTable(spark, target)
    assert(full.filter(col("uid") === uid(5, 17)).count() == strLookup.count())
    assert(full.filter(col("uid").isin(uid(1, 3), uid(6, 120))).collect()
      .map(_.getLong(0)).toSet == Set(1003L, 6120L))
  }

  test("format(\"graft\") write path: SaveMode semantics over the manifest commit protocol, interop with the bespoke read API") {
    import java.io.File
    import graft.sources.ManifestTable
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_dsw")
      .resolve("t").toString

    def write(df: DataFrame, mode: SaveMode): Unit =
      df.write.format("graft").option("path", target)
        .option("mergeKeys", "id").option("buckets", "4").mode(mode).save()

    // first save creates the table
    val a = Seq((1L, "a", 10.0), (2L, "b", 20.0), (3L, "c", 30.0))
      .toDF("id", "name", "v")
    write(a, SaveMode.ErrorIfExists)
    val read0 = spark.read.format("graft").option("path", target).load()
    assert(read0.count() == 3L)

    // ErrorIfExists against the existing table throws; Ignore no-ops
    intercept[IllegalStateException] { write(a, SaveMode.ErrorIfExists) }
    write(Seq((9L, "x", 0.0)).toDF("id", "name", "v"), SaveMode.Ignore)
    assert(spark.read.format("graft").option("path", target).load()
      .count() == 3L)

    // Append upserts on the recorded merge keys (no re-supplied layout):
    // id=2 updates, id=4 inserts
    Seq((2L, "B", 22.0), (4L, "d", 40.0)).toDF("id", "name", "v")
      .write.format("graft").option("path", target)
      .mode(SaveMode.Append).save()
    val afterAppend = spark.read.format("graft").option("path", target)
      .load().sort("id").as[(Long, String, Double)].collect().toSeq
    assert(afterAppend == Seq((1L, "a", 10.0), (2L, "B", 22.0),
      (3L, "c", 30.0), (4L, "d", 40.0)))
    // and the write surface lands in the SAME table the bespoke API reads
    assert(ManifestTable.readTable(spark, target).count() == 4L)

    // Overwrite replaces data AND schema; untouched buckets drop
    val b = Seq((100L, 1), (200L, 2)).toDF("id", "grade")
    write(b, SaveMode.Overwrite)
    val afterOverwrite = spark.read.format("graft").option("path", target)
      .load()
    assert(afterOverwrite.columns.toSeq == Seq("id", "grade"))
    assert(afterOverwrite.sort("id").as[(Long, Int)].collect().toSeq ==
      Seq((100L, 1), (200L, 2)))
    // previous snapshots keep serving within retention (time travel)
    val mv = ManifestTable.read(new File(target)).get.version
    val prev = spark.read.format("graft").option("path", target)
      .option("version", (mv - 1).toString).load()
    assert(prev.count() == 4L && prev.columns.toSeq == Seq("id", "name", "v"))
  }

  test("bare COUNT(*)/MIN/MAX over a format(\"graft\") relation answer from manifest metadata: zero scan, exact through merge/append/overwrite") {
    import graft.sources.ManifestTable
    import graft.sources.ManifestTable.{BucketGen, TableState}
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_cnt")
      .resolve("t").toString

    def graftDf = spark.read.format("graft").option("path", target).load()
    // counts file scans through AQE wrappers too — aggregates plan
    // adaptively, and their scans live inside query stages
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.executedPlan)
      case q: QueryStageExec => countScans(q.plan)
      case f: FileSourceScanExec => 1 + f.children.map(countScans).sum
      case other => other.children.map(countScans).sum
    }
    def scans(df: DataFrame): Int = {
      df.collect()
      countScans(df.queryExecution.executedPlan)
    }

    (1 to 500).map(i => (i.toLong, s"n$i")).toDF("id", "name")
      .write.format("graft").option("path", target)
      .option("mergeKeys", "id").option("buckets", "4")
      .mode(SaveMode.Append).save()
    // upsert (300 overlap, 200 new) then an append-only batch
    (301 to 800).map(i => (i.toLong, s"m$i")).toDF("id", "name")
      .write.format("graft").option("path", target)
      .mode(SaveMode.Append).save()
    (10001 to 10100).map(i => (i.toLong, s"a$i")).toDF("id", "name")
      .write.format("graft").option("path", target)
      .option("appendOnly", "true").mode(SaveMode.Append).save()

    // the count matches the scan-derived truth…
    val metaCount = graftDf.count()
    assert(metaCount == ManifestTable.readTable(spark, target).count())
    assert(metaCount == 900L)
    // …and came from metadata: the aggregate plans over a LocalTableScan,
    // no file scan anywhere
    val agg = graftDf.groupBy().count()
    agg.collect()
    val exec = agg.queryExecution.executedPlan
    assert(countScans(exec) == 0, s"metadata count still scanned files:\n$exec")
    assert(exec.toString.contains("LocalTableScan"), exec.toString)
    // SQL COUNT(*) through a registered view takes the same shortcut
    Views.registerManifest(spark, target, "cnt_view")
    val sqlAgg = spark.sql("SELECT COUNT(*) AS c FROM cnt_view")
    assert(sqlAgg.as[Long].head() == 900L)
    assert(scans(spark.sql("SELECT COUNT(*) AS c FROM cnt_view")) == 0)

    // MIN/MAX over a stats-tracked column (id is the merge key, so every
    // generation carries its bounds) answer from metadata too — including
    // mixed with COUNT(*) in one aggregate list
    val minMax = graftDf.agg(count(lit(1)).as("c"),
      min(col("id")).as("lo"), max(col("id")).as("hi"))
    assert(minMax.as[(Long, Long, Long)].head() == ((900L, 1L, 10100L)))
    assert(scans(graftDf.agg(count(lit(1)).as("c"), min(col("id")).as("lo"),
      max(col("id")).as("hi"))) == 0)
    // …but an untracked column has no bounds: the query scans and still
    // answers correctly
    val nameMin = graftDf.agg(min(col("name")).as("lo"))
    assert(nameMin.as[String].head() == "a10001")
    assert(scans(graftDf.agg(min(col("name")).as("lo"))) > 0)

    // a FILTERED count must scan (the rewrite is gated on the bare shape)
    assert(scans(graftDf.filter(col("id") > 400L).groupBy().count()) > 0)
    assert(graftDf.filter(col("id") > 400L).count() == 500L)
    // count(col) (null-sensitive) and count(distinct) are not rewritten
    assert(scans(graftDf.agg(count(col("name")))) > 0)
    assert(scans(graftDf.agg(countDistinct(col("name")))) > 0)

    // overwrite keeps the metadata exact; with string stats tracked, a
    // lexical MIN answers from metadata too
    Seq((7L, "z"), (8L, "y")).toDF("id", "name").write.format("graft")
      .option("path", target).option("statsCols", "id,name")
      .mode(SaveMode.Overwrite).save()
    assert(graftDf.count() == 2L)
    val strMin = graftDf.agg(min(col("name")).as("lo"), max(col("id")).as("hi"))
    assert(strMin.as[(String, Long)].head() == (("y", 8L)))
    assert(scans(graftDf.agg(min(col("name")).as("lo"),
      max(col("id")).as("hi"))) == 0)

    // a generation without a recorded count (legacy manifest) disables the
    // metadata answer rather than guessing
    assert(TableState("{}", Map(0L -> Seq(BucketGen("p", Map.empty, 5L),
      BucketGen("q", Map.empty)))).rowCount.isEmpty)
    assert(TableState("{}", Map(0L -> Seq(BucketGen("p", Map.empty, 5L),
      BucketGen("q", Map.empty, 7L)))).rowCount.contains(12L))
  }

  test("approx_count_distinct over an unfiltered graft relation answers from merged manifest sketches — zero scan; kill switch and gaps re-plan the scan") {
    import org.apache.spark.sql.SaveMode
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val target = java.nio.file.Files.createTempDirectory("graft_andv")
      .resolve("t").toString
    def graftDf = spark.read.format("graft").option("path", target).load()
    def countScans(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => countScans(a.executedPlan)
      case q: QueryStageExec => countScans(q.plan)
      case f: FileSourceScanExec => 1 + f.children.map(countScans).sum
      case other => other.children.map(countScans).sum
    }
    def scans(df: DataFrame): Int = {
      df.collect()
      countScans(df.queryExecution.executedPlan)
    }
    // two commits with fully OVERLAPPING grp domains: the metadata
    // answer must union, not sum
    (1 to 400).map(i => (i.toLong, i.toLong % 25, s"n$i"))
      .toDF("id", "grp", "name")
      .write.format("graft").option("path", target)
      .option("mergeKeys", "id").option("buckets", "4")
      .option("statsCols", "id,grp").mode(SaveMode.Append).save()
    (1001 to 1400).map(i => (i.toLong, i.toLong % 25, s"n$i"))
      .toDF("id", "grp", "name")
      .write.format("graft").option("path", target)
      .option("appendOnly", "true").mode(SaveMode.Append).save()

    def adc = graftDf.agg(approx_count_distinct(col("grp")).as("d"))
    val est = adc.head.getLong(0)
    assert(math.abs(est - 25L) <= 2, s"sketch estimate $est, truth 25")
    assert(scans(adc) == 0, "metadata approx NDV still scanned")
    // mixed with other metadata aggregates in one list
    val mixed = graftDf.agg(count(lit(1)).as("c"),
      approx_count_distinct(col("grp")).as("d"), max(col("id")).as("hi"))
    assert(mixed.head.getLong(0) == 800L && scans(mixed) == 0)

    // approx_percentile answers from the merged KLL sketches — scalar
    // and array percentages, integral type preserved, zero scans; and
    // it composes with the other metadata aggregates in one list
    def apq = graftDf.agg(
      expr("approx_percentile(id, 0.5)").as("med"),
      expr("approx_percentile(id, array(0.25, 0.75))").as("iq"),
      count(lit(1)).as("c"))
    val row = apq.head
    // ids are 1..400 and 1001..1400 — the true median sits at the gap
    // edge; KLL's ~1.65% rank error keeps the answer inside [380, 1020]
    val med = row.getLong(0)
    assert(med >= 380L && med <= 1020L, s"median estimate off: $med")
    val iq = row.getSeq[Long](1)
    assert(iq.length == 2 && iq(0) < iq(1))
    assert(row.getLong(2) == 800L)
    assert(scans(apq) == 0, "metadata approx_percentile still scanned")
    // non-numeric / filtered shapes scan
    assert(scans(graftDf.agg(expr("approx_percentile(id, 0.5)").as("m"),
      min(col("name")).as("lo"))) > 0) // name min has no stat: whole list scans
    assert(scans(graftDf.filter(col("id") > 100)
      .agg(expr("approx_percentile(id, 0.5)"))) > 0)

    // gates: a filter, an un-sketched column, or the kill switch scans
    assert(scans(graftDf.filter(col("id") > 100)
      .agg(approx_count_distinct(col("grp")))) > 0)
    assert(scans(graftDf.agg(approx_count_distinct(col("name")))) > 0)
    spark.conf.set("spark.graft.metadataApproxNdv", "false")
    try {
      assert(scans(adc) > 0, "kill switch ignored")
      // percentile has its OWN switch — the NDV switch leaves it
      // metadata-only
      assert(scans(graftDf.agg(
        expr("approx_percentile(id, 0.5)").as("m"))) == 0)
    } finally spark.conf.unset("spark.graft.metadataApproxNdv")
    spark.conf.set("spark.graft.metadataApproxPercentile", "false")
    try {
      assert(scans(graftDf.agg(
        expr("approx_percentile(id, 0.5)").as("m"))) > 0,
        "percentile kill switch ignored")
      assert(scans(adc) == 0, "percentile switch must not gate NDV")
    } finally spark.conf.unset("spark.graft.metadataApproxPercentile")
    assert(scans(adc) == 0)

    // accuracy gating: a request TIGHTER than the manifest sketch's
    // error bound re-plans the scan; a request the sketch covers (and
    // the function default) stays metadata-only
    assert(scans(graftDf.agg(
      expr("approx_count_distinct(grp, 0.01)").as("d"))) > 0,
      "tighter-than-sketch rsd silently got the looser sketch")
    assert(scans(graftDf.agg(
      expr("approx_count_distinct(grp, 0.04)").as("d"))) == 0)
    assert(scans(graftDf.agg(
      expr("approx_percentile(id, 0.5, 50000)").as("m"))) > 0,
      "tighter-than-default percentile accuracy silently got the sketch")
    assert(scans(graftDf.agg(
      expr("approx_percentile(id, 0.5, 10000)").as("m"))) == 0)
  }
}
