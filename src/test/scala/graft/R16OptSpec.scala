package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-16 optimization equivalence specs: each internal rewrite that
  * changed an operator's execution shape is pinned against the formulation
  * it replaced (same inputs, identical output rows).
  */
class R16OptSpec extends SparkSpec {

  private def multisetEqual(a: DataFrame, b: DataFrame): Boolean =
    a.schema == b.schema &&
      a.count() == b.count() &&
      a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("fused single-pass header synthesis equals the three-branch union") {
    val union = ingest.CanonicalChain.unionHeaders(
      ingest.HeaderNormalizer.fromJson(ingest.RawSynth.jsonRaw(spark, sf)),
      ingest.HeaderNormalizer.fromXml(ingest.RawSynth.xmlRaw(spark, sf)),
      ingest.HeaderNormalizer.fromCsv(ingest.RawSynth.csvRaw(spark, sf)))
    val fused = ingest.HeaderNormalizer.fromFused(
      ingest.RawSynth.fusedRaw(spark, sf))
    assert(union.schema == fused.schema,
      s"schema diverged:\nunion=${union.schema.treeString}\nfused=${fused.schema.treeString}")
    assert(union.count() > 0, "degenerate: empty staged-header set")
    assert(multisetEqual(union, fused),
      "fused header synthesis diverged from the union of the three branches")
  }

  test("collected-struct line assembly equals the row_number-window formulation") {
    val ref = ingest.RawSynth.lineAggRef(spark, sf)
    val next = ingest.RawSynth.lineAggCached(spark, sf)
    assert(ref.schema == next.schema,
      s"schema diverged:\nref=${ref.schema.treeString}\nnext=${next.schema.treeString}")
    assert(ref.count() > 0, "degenerate: no aggregated orders")
    // every branch is exercised: JSON orders with/without the pos%4 drop,
    // XML orders, and CSV orders with empty line strings
    assert(next.filter(col("lines_json").contains("\"line_number\":")).count() > 0)
    // a 4th line (pos%4 == 0) drops its line_number: its object opens
    // directly with the id piece
    assert(next.filter(col("lines_json").contains("{\"item_id\"") ||
      col("lines_json").contains("{\"sku\"")).count() > 0)
    assert(next.filter(col("lines_xml").startsWith("<line ")).count() > 0)
    assert(next.filter(col("lines_json") === "" && col("lines_xml") === "").count() > 0)
    assert(multisetEqual(ref, next),
      "one-pass line assembly diverged from the window formulation")
  }

  test("driver union-find labels equal both distributed CC loops") {
    val driver = operators.Curation.driverResolvedLabels(spark, sf)
      .getOrElse(fail("edge set over cap at test scale — gate broken"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val minLabel = operators.Curation.minLabelLoop(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val bigStar = operators.Curation.bigStarLoop(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(driver.nonEmpty)
    assert(driver.exists { case (id, lbl) => id != lbl },
      "degenerate corpus: no non-trivial components")
    assert(driver == minLabel,
      "driver union-find diverged from the min-label loop")
    assert(driver == bigStar,
      "driver union-find diverged from the large/small-star loop")
  }

  test("posting-list containment candidates equal the window+self-join form") {
    val next = operators.Dedup.containmentCandidatesCached(spark, sf)
    // the replaced r15 formulation, inlined: df-window prune + self-join
    val w = org.apache.spark.sql.expressions.Window.partitionBy("g")
    val rare = operators.Dedup.hashedShingles(spark, sf)
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .withColumn("df", count(lit(1)).over(w))
      .filter(col("df") <= operators.Dedup.MaxFpDf)
      .select("doc_id", "g")
    val shingled = rare
      .join(rare.select(col("doc_id").as("doc_id_b"), col("g")), Seq("g"))
      .filter(col("doc_id") < col("doc_id_b"))
      .groupBy(col("doc_id").as("doc_a"), col("doc_id_b").as("doc_b"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= 2)
      .select("doc_a", "doc_b")
    val exact = operators.Dedup.exactDedup(spark, sf)
      .filter(col("is_dup"))
      .select(col("canonical_doc_id").as("doc_a"), col("doc_id").as("doc_b"))
    val prev = shingled.union(exact).distinct()
    assert(next.count() > 0, "degenerate: no containment candidates")
    assert(multisetEqual(prev.select("doc_a", "doc_b"),
      next.select("doc_a", "doc_b")),
      "posting-list candidates diverged from the window+self-join form")
  }

  test("codegen winnow equals the interpreted HOF formulation, element for element") {
    import graft.functions.TextOps
    // the hash arrays are computed once and bound as a column: passing
    // the k-gram expression itself would re-hash the whole document for
    // every window position of the HOF's slice lambda
    val hashed = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.kgramHashes(col("text"), k = 8).as("hs"))
      .persist()
    try for (w <- Seq(1, 4, 7)) {
      val both = hashed.select(col("doc_id"),
        TextOps.winnowFromHashes(col("hs"), w).as("fast"),
        TextOps.winnowFromHashesHof(col("hs"), w).as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad == 0, s"winnow_mins(w=$w) diverged from the HOF on $bad docs")
    } finally { hashed.unpersist(); () }
    // degenerate inputs the corpus never exercises: empty and shorter-
    // than-window arrays
    val edge = spark.range(1).select(
      typedlit(Seq.empty[Long]).as("e"), typedlit(Seq(7L, 3L)).as("s"))
    val r = edge.select(
      graft.functions.HashExprs.winnowMins(col("e"), 4).as("fe"),
      TextOps.winnowFromHashesHof(col("e"), 4).as("re"),
      graft.functions.HashExprs.winnowMins(col("s"), 4).as("fs"),
      TextOps.winnowFromHashesHof(col("s"), 4).as("rs")).head
    assert(r.getSeq[Any](0) == r.getSeq[Any](1))
    assert(r.getSeq[Any](2) == r.getSeq[Any](3))
  }

  test("one-pass token-gram hashes equal the string-shingle xxhash64 chain") {
    import graft.functions.TextOps
    val both = Tables.documents(spark, sf)
      .select(TextOps.tokens(col("text")).as("toks"))
      .select(
        functions.HashExprs.tokenGramHashes(col("toks"), TextOps.ShingleN,
          distinct = true).as("fast"),
        array_distinct(transform(TextOps.shingles(col("toks")),
          x => xxhash64(x))).as("ref"))
    val bad = both.filter(not(col("fast") <=> col("ref"))).count()
    assert(bad == 0, s"token_gram_hashes diverged from the HOF chain on $bad docs")
  }

  test("one-pass gram strings and bigram pairs equal their HOF formulations") {
    import graft.functions.TextOps
    val toks = Tables.documents(spark, sf)
      .select(TextOps.tokens(col("text")).as("toks"))
    for (n <- Seq(2, 3, operators.TextAnalysis.ContamN)) {
      val both = toks.select(
        functions.HashExprs.tokenGramStrings(col("toks"), n).as("fast"),
        TextOps.ngrams(col("toks"), n).as("ref"))
      val bad = both.filter(not(col("fast") <=> col("ref"))).count()
      assert(bad == 0, s"token_gram_strings(n=$n) diverged on $bad docs")
    }
    val pairs = toks.select(
      functions.HashExprs.tokenBigramPairs(col("toks")).as("fast"),
      zip_with(slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("prev"), b.as("term"))).as("ref"))
    val badP = pairs.filter(not(col("fast") <=> col("ref"))).count()
    assert(badP == 0, s"token_bigram_pairs diverged on $badP docs")
    // degenerate inputs the corpus never exercises: empty and one-token
    val edge = spark.range(1).select(
      typedlit(Seq.empty[String]).as("e"), typedlit(Seq("x")).as("s"))
    val r = edge.select(
      functions.HashExprs.tokenGramStrings(col("e"), 2).as("ge"),
      functions.HashExprs.tokenGramStrings(col("s"), 2).as("gs"),
      functions.HashExprs.tokenBigramPairs(col("e")).as("pe"),
      functions.HashExprs.tokenBigramPairs(col("s")).as("ps")).head
    assert(r.getSeq[Any](0).isEmpty && r.getSeq[Any](1).isEmpty)
    assert(r.getSeq[Any](2).isEmpty && r.getSeq[Any](3).isEmpty)
  }

  test("128-bit token-gram keys group exactly like the string grams") {
    val SpanK = 8
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= SpanK)
    val g = toks.select(col("w"),
        posexplode(functions.HashExprs.tokenGramKeys(col("w"), SpanK)))
      .toDF("w", "pos", "key")
      .select(col("key"),
        array_join(expr(s"slice(w, pos + 1, $SpanK)"), " ").as("s"))
    assert(g.count() > 0, "degenerate: no grams")
    // key↔string bijection on the corpus ⇒ identical grouping/joining
    assert(g.groupBy("key").agg(countDistinct(col("s")).as("n"))
      .filter(col("n") > 1).count() == 0, "one key covers two gram strings")
    assert(g.groupBy("s").agg(countDistinct(col("key")).as("n"))
      .filter(col("n") > 1).count() == 0, "one gram string got two keys")
  }

  test("fused line flatten equals the three-branch union") {
    val surv = ingest.Canonicalizer.survivors(
      ingest.HeaderNormalizer.fromFused(ingest.RawSynth.fusedRaw(spark, sf)))
    val union = ingest.CanonicalChain.linesFromUnion(surv)
    val fused = ingest.CanonicalChain.linesFrom(surv)
    assert(union.schema == fused.schema,
      s"schema diverged:\nunion=${union.schema.treeString}\nfused=${fused.schema.treeString}")
    assert(union.count() > 0, "degenerate: no line rows")
    assert(multisetEqual(union, fused),
      "fused line flatten diverged from the three-branch union")
  }

  test("interval-merged dup spans equal the explode+distinct reference") {
    // reference: STRING grams, exploded covered positions, distinct,
    // row_number islands — the formulation doc_dup_spans replaced
    val SpanK = 8
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
      .filter(size(col("w")) >= SpanK)
    val grams = toks.select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(w) - $SpanK), " +
          s"i -> array_join(slice(w, i + 1, $SpanK), ' '))")))
      .toDF("doc_id", "pos", "gram")
    val dup = grams.groupBy("gram").count()
      .filter(col("count") > 1).select("gram")
    val covered = grams.join(dup, "gram")
      .select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("p"))
      .distinct()
    val wd = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("p")
    val ref = covered.withColumn("grp", col("p") - row_number().over(wd))
      .groupBy(col("doc_id"), col("grp"))
      .agg(min(col("p")).cast("long").as("span_start"),
        (max(col("p")) + 1).cast("long").as("span_end"),
        count(lit(1)).as("span_tokens"))
      .select("doc_id", "span_start", "span_end", "span_tokens")
    val next = operators.Dedup.defs("doc_dup_spans").fn(spark, sf)
    assert(next.count() > 0, "degenerate: no duplicated spans")
    assert(multisetEqual(ref.orderBy("doc_id", "span_start"),
      next.select("doc_id", "span_start", "span_end", "span_tokens")
        .orderBy("doc_id", "span_start")),
      "interval-merged spans diverged from the explode+distinct reference")
  }

  test("range-anti-join substring dedup equals the covered-position reference") {
    val SpanK = 8
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(trim(col("text")), "\\s+").as("w"))
    val grams = toks.filter(size(col("w")) >= SpanK)
      .select(col("doc_id"),
        posexplode(expr(s"transform(sequence(0, size(w) - $SpanK), " +
          s"i -> array_join(slice(w, i + 1, $SpanK), ' '))")))
      .toDF("doc_id", "pos", "gram")
    val firstOcc = grams.groupBy("gram")
      .agg(count(lit(1)).as("n"),
        min(struct(col("doc_id"), col("pos"))).as("f"))
      .filter(col("n") > 1).select("gram", "f")
    val removal = grams.join(firstOcc, "gram")
      .filter(struct(col("doc_id"), col("pos")) =!= col("f"))
    val covered = removal.select(col("doc_id"),
        explode(sequence(col("pos"), col("pos") + (SpanK - 1))).as("p"))
      .distinct()
    val tok = toks.select(col("doc_id"), posexplode(col("w")))
      .toDF("doc_id", "p", "t")
    val kept = tok.join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("kept"),
        array_join(transform(
          array_sort(collect_list(struct(col("p"), col("t")))),
          x => x.getField("t")), " ").as("clean_text"))
    val ref = toks.select(col("doc_id"), size(col("w")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("kept"), lit(0L))).as("removed_tokens"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
    val next = operators.Dedup.defs("doc_dedup_substr").fn(spark, sf)
    assert(next.filter(col("removed_tokens") > 0).count() > 0,
      "degenerate: nothing removed")
    assert(multisetEqual(ref.orderBy("doc_id"), next.orderBy("doc_id")),
      "range-anti-join dedup diverged from the covered-position reference")
  }

  test("ArgMaxCosine rejects a zero-norm candidate at construction") {
    // a zero norm scores NaN for every row, where the expression's `>`
    // and the max_by join it is pinned against DISAGREE (ADVICE r15) —
    // the degenerate matrix must fail loudly, not diverge silently
    intercept[IllegalArgumentException] {
      functions.NearestIdx.nearestCentroidId(
        lit(Array(1f, 0f)), lit(1.0),
        Array(1L, 2L), Array(1f, 0f, 0f, 0f), Array(1.0, 0.0), 2)
    }
  }

  test("every order-only (global) window is an attributed bounded grain") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    // A WindowExec with an empty/foldable partition spec funnels its whole
    // input through ONE task — acceptable ONLY when the input grain is
    // bounded by construction, never corpus-sized. The attribution list
    // (VERDICT r15 item 8); anything else is a scale bug:
    //   doc_zipf_slope   — rank over the top-1000 token dim (LIMIT-bounded)
    //   doc_domain_mix   — share normalizations over the SOURCE grain
    //                      (≤ the source dim's cardinality by contract)
    //   ev_late_arrivals — prev-watermark lag over the CHUNK grain
    //                      (chunk count, not the event grain)
    //   q_cte_chain      — lag over the MONTH grain (calendar-bounded)
    val allowed = Set("doc_zipf_slope", "doc_domain_mix",
      "ev_late_arrivals", "q_cte_chain")
    val globalWindowQueries = SparkEntry.queries.toSeq.sortBy(_._1).flatMap {
      case (name, fn) =>
        val physical = fn(spark, sf).queryExecution.executedPlan match {
          case a: AdaptiveSparkPlanExec => a.inputPlan
          case p => p
        }
        val globals = physical.collect {
          case w: WindowExec
              if w.partitionSpec.isEmpty ||
                w.partitionSpec.forall(_.foldable) => w
        }
        if (globals.nonEmpty) Seq(name) else Nil
    }
    val offenders = globalWindowQueries.filterNot(allowed)
    assert(offenders.isEmpty,
      s"UNATTRIBUTED global windows in: ${offenders.mkString(", ")}")
    // the attribution list stays current: each allowlisted query still
    // carries its global window (drop it from the list when it goes)
    assert(allowed.subsetOf(globalWindowQueries.toSet),
      s"stale allowlist: ${allowed.diff(globalWindowQueries.toSet).mkString(", ")}")
  }

  test("fanOut decision cache preserves identity and fan-out behavior") {
    val docs = Tables.documents(spark, sf)
    // repeated calls on the same plan return consistent results (decision
    // memoized after the first probe)
    val f1 = Tables.fanOut(docs)
    val f2 = Tables.fanOut(docs)
    assert(f1.rdd.getNumPartitions == f2.rdd.getNumPartitions)
    assert(f1.count() == docs.count())
    // an already-parallel frame passes through untouched — the cached
    // decision must keep returning the CALLER's reference
    val wide = docs.repartition(spark.sparkContext.defaultParallelism * 2)
    assert(Tables.fanOut(wide) eq wide)
    assert(Tables.fanOut(wide) eq wide)
  }
}
