package graft

import org.apache.spark.sql.functions._
import graft.functions.TextOps

/** Semantics checks for the training-data pipeline (SURVEY §2.D) — these
  * cover the rows-only operators the DuckDB oracle can't express.
  */
class PipelineSpec extends SparkSpec {
  private def run(name: String) = SparkEntry.queries(name)(spark, sf)

  test("doc_dedup_exact: canonical ids are group minima and flags consistent") {
    val d = run("doc_dedup_exact").collect()
    assert(d.nonEmpty)
    d.foreach { r =>
      assert(r.getAs[Long]("canonical_doc_id") <= r.getAs[Long]("doc_id"))
      assert(r.getAs[Boolean]("is_dup") ==
        (r.getAs[Long]("doc_id") != r.getAs[Long]("canonical_doc_id")))
    }
  }

  test("doc_minhash_lsh estimates track exact Jaccard") {
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .select(col("doc_id"), TextOps.shingles(col("toks")).as("sh"))
    val est = run("doc_minhash_lsh").limit(500)
    val joined = est
      .join(sets.select(col("doc_id").as("doc_a"), col("sh").as("sh_a")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("sh").as("sh_b")), "doc_b")
      .withColumn("exact",
        size(array_intersect(col("sh_a"), col("sh_b"))).cast("double") /
          size(array_union(col("sh_a"), col("sh_b"))))
      .select("est_jaccard", "exact").collect()
    assert(joined.nonEmpty)
    val mae = joined.map(r => math.abs(r.getDouble(0) - r.getDouble(1))).sum / joined.length
    assert(mae < 0.2, s"minhash mean abs error $mae")
  }

  test("doc_simhash pairs are hamming<=3 and symmetric-free") {
    val p = run("doc_simhash").collect()
    assert(p.nonEmpty)
    p.foreach { r =>
      assert(r.getAs[Int]("hamming") <= 3)
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
    }
  }

  test("doc_ngram_jaccard only emits pairs above threshold") {
    val j = run("doc_ngram_jaccard").agg(min("jaccard")).collect()(0).getDouble(0)
    assert(j >= operators.Dedup.JaccardThreshold)
  }

  test("doc_fingerprint is deterministic and dense") {
    val a = run("doc_fingerprint")
    val n1 = a.count()
    assert(n1 > 0)
    assert(n1 == run("doc_fingerprint").count())
    // every document yields at least one fingerprint
    assert(a.select("doc_id").distinct().count() ==
      Tables.documents(spark, sf).count())
  }

  test("doc_fingerprint_pairs: canonical order, floor respected, catches word-level near-dups") {
    val pairs = run("doc_fingerprint_pairs").collect()
    assert(pairs.nonEmpty)
    pairs.foreach { r =>
      assert(r.getAs[Long]("doc_a") < r.getAs[Long]("doc_b"))
      assert(r.getAs[Long]("n_shared") >= operators.Dedup.MinSharedFp)
    }
    // Cross-modality recall: pairs that are word-shingle near-dups
    // (exact Jaccard >= 0.8) share long char runs, so the char-level
    // winnowing index must rediscover nearly all of them.
    val wordDups = run("doc_ngram_jaccard").select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fpPairs = pairs.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b"))).toSet
    val recall = wordDups.intersect(fpPairs).size.toDouble / wordDups.size
    assert(recall >= 0.9, s"fingerprint-pair recall of word near-dups: $recall")
  }

  test("doc_dedup_clusters matches a driver-side union-find over the same edges") {
    val exact = run("doc_dedup_exact").filter(col("is_dup"))
      .select("canonical_doc_id", "doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val near = run("doc_ngram_jaccard").select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    (exact ++ near).foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val got = run("doc_dedup_clusters").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("cluster_id")).toMap
    assert(got.nonEmpty)
    got.foreach { case (doc, cl) =>
      assert(cl == find(doc), s"doc $doc: cluster $cl want ${find(doc)}")
    }
    // canonical flag marks exactly the cluster-min docs
    run("doc_dedup_clusters").collect().foreach { r =>
      assert(r.getAs[Boolean]("is_canonical") ==
        (r.getAs[Long]("doc_id") == r.getAs[Long]("cluster_id")))
    }
  }

  test("doc_cc_bigstar labels are identical to the min-label propagation") {
    val minLabel = run("doc_dedup_clusters").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical"))).toSet
    val bigStar = run("doc_cc_bigstar").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("cluster_id"),
        r.getAs[Long]("cluster_size"), r.getAs[Boolean]("is_canonical"))).toSet
    assert(bigStar.nonEmpty && bigStar == minLabel)
  }

  test("doc_containment dominates Jaccard and is exact on exact-dup pairs") {
    val rows = run("doc_containment").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (ca, cb, j) = (r.getAs[Double]("containment_a"),
        r.getAs[Double]("containment_b"), r.getAs[Double]("jaccard"))
      assert(ca >= j - 1e-12 && cb >= j - 1e-12 && ca <= 1.0 && cb <= 1.0)
    }
    // exact duplicates (when this sf has any) must score containment 1
    // in both directions
    val exact = run("doc_dedup_exact").filter(col("is_dup"))
      .select(col("canonical_doc_id"), col("doc_id")).collect()
      .map(r => (math.min(r.getLong(0), r.getLong(1)),
        math.max(r.getLong(0), r.getLong(1)))).toSet
    val byPair = rows.map(r => (r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")) ->
      (r.getAs[Double]("containment_a"), r.getAs[Double]("containment_b"))).toMap
    exact.filter(byPair.contains).foreach { p =>
      val (ca, cb) = byPair(p)
      assert(ca == 1.0 && cb == 1.0, s"$p: $ca/$cb")
    }
    // and identical shingle sets (jaccard 1) imply containment 1
    rows.filter(_.getAs[Double]("jaccard") >= 1.0).foreach { r =>
      assert(r.getAs[Double]("containment_a") == 1.0 &&
        r.getAs[Double]("containment_b") == 1.0)
    }
  }

  test("hash primitives hold their invariants on seeded random text (property)") {
    import spark.implicits._
    val rng = new scala.util.Random(42)
    val words = Vector("alpha", "bravo", "charlie", "delta", "echo", "fox",
      "golf", "hotel", "india", "jul", "kilo", "lima", "mike", "nov")
    val texts = (1 to 100).map { i =>
      (i.toLong, (1 to (3 + rng.nextInt(40)))
        .map(_ => words(rng.nextInt(words.size))).mkString(" "))
    }
    val df = texts.toDF("doc_id", "text")
      .withColumn("toks", TextOps.tokens(col("text")))
      .withColumn("sh", TextOps.shingles(col("toks")))
      .withColumn("hs", TextOps.kgramHashes(col("text"), k = 8))
      .withColumn("fp", TextOps.winnowFromHashes(col("hs"), w = 4))
      .withColumn("sig", TextOps.minhashSignature(col("sh"), 32))
      .withColumn("sim", TextOps.simhash64(col("toks")))
      .collect()
    df.foreach { r =>
      val hs = r.getSeq[Long](r.fieldIndex("hs")).toSet
      val fp = r.getSeq[Long](r.fieldIndex("fp"))
      // winnowing: fingerprints are a nonempty subset of the k-gram hashes
      assert(fp.nonEmpty && fp.toSet.subsetOf(hs), s"doc ${r.getLong(0)}")
      // and distinct (array_distinct in the definition)
      assert(fp.distinct.size == fp.size)
      // minhash: fixed signature length, defined for nonempty shingle sets
      val sh = r.getSeq[String](r.fieldIndex("sh"))
      val sig = r.getSeq[Long](r.fieldIndex("sig"))
      if (sh.nonEmpty) assert(sig.size == 32)
    }
    // identical texts hash identically; different texts (almost surely)
    // differ in simhash OR shingles
    val simIdx = df.head.fieldIndex("sim")
    val sigIdx = df.head.fieldIndex("sig")
    df.groupBy(_.getString(1)).values.filter(_.size > 1).foreach { rows =>
      assert(rows.map(_.getLong(simIdx)).toSet.size == 1)
      assert(rows.map(_.getSeq[Long](sigIdx).toList).toSet.size == 1)
    }
  }

  test("doc_containment_lsh: exact precision, high recall vs brute force") {
    val got = run("doc_containment_lsh").collect()
      .map(r => ((r.getAs[Long]("doc_a"), r.getAs[Long]("doc_b")),
        r.getAs[Double]("containment"))).toMap
    // brute-force all-pairs containment over the same hashed shingle sets
    val sets = Tables.documents(spark, sf)
      .select(col("doc_id"),
        array_distinct(transform(
          TextOps.shingles(TextOps.tokens(col("text"))),
          x => xxhash64(x))).as("sh"))
      .collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getSeq[Long](1).toSet)
      .filter(_._2.nonEmpty)
    val brute = (for {
      (a, sa) <- sets; (b, sb) <- sets if a < b
      c = sa.intersect(sb).size.toDouble / math.min(sa.size, sb.size)
      if c >= operators.Dedup.ContainmentThreshold
    } yield (a, b) -> c).toMap
    assert(brute.nonEmpty && got.nonEmpty)
    // precision is exact: every emitted pair is a true containment pair
    got.foreach { case (p, c) =>
      assert(brute.contains(p) && math.abs(brute(p) - c) < 1e-9, s"$p")
    }
    // rare-shingle blocking recall
    val recall = brute.keySet.intersect(got.keySet).size.toDouble / brute.size
    assert(recall >= 0.8, s"containment recall $recall")
  }

  test("doc_heavy_hitters equals the exact full-shuffle top-k") {
    val approx = run("doc_heavy_hitters").collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n"))).toSeq
    val exact = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("term"))
      .groupBy("term").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("term")).limit(20).collect()
      .map(r => (r.getAs[String]("term"), r.getAs[Long]("n"))).toSeq
    assert(approx == exact && approx.size == 20)
  }

  test("doc_importance_weight ranks target-language docs above the rest") {
    val rows = run("doc_importance_weight").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    val langOf = Tables.documents(spark, sf).select("doc_id", "lang").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("lang")).toMap
    val (en, rest) = rows.partition(r => langOf(r.getAs[Long]("doc_id")) == "en")
    def mean(xs: Array[Double]) = xs.sum / xs.length
    // the LLR is trained with lang='en' as the target: en docs must score
    // higher on average than non-target docs (the resampling signal)
    assert(mean(en.map(_.getAs[Double]("llr_per_token"))) >
      mean(rest.map(_.getAs[Double]("llr_per_token"))))
  }

  test("doc_domain_mix weights normalize and flatten the distribution") {
    val rows = run("doc_domain_mix").collect()
    val (ps, ws) = (rows.map(_.getAs[Double]("p")), rows.map(_.getAs[Double]("w")))
    assert(math.abs(ps.sum - 1.0) < 1e-3 && math.abs(ws.sum - 1.0) < 1e-3)
    // τ < 1 flattens: the largest source is down-sampled, the smallest
    // boosted (factor = w/p below/above 1 respectively)
    val byP = rows.sortBy(_.getAs[Double]("p"))
    assert(byP.last.getAs[Double]("factor") < 1.0)
    assert(byP.head.getAs[Double]("factor") > 1.0)
  }

  test("doc_ccnet_bucket tertiles are balanced within each language") {
    val rows = run("doc_ccnet_bucket").collect()
    assert(rows.length == Tables.documents(spark, sf).count())
    rows.groupBy(_.getAs[String]("lang")).foreach { case (lang, rs) =>
      val n = rs.length
      def ofT(t: Long) = rs.filter(_.getAs[Long]("tertile") == t)
      val (h, m, t) = (ofT(1L), ofT(2L), ofT(3L))
      // threshold semantics: t1 is the ceil(n/3)-th smallest micro-NLL,
      // so head covers AT LEAST the first tertile (ties spill downward
      // into head/middle, never upward into tail)
      assert(h.length >= (n + 2) / 3, s"$lang: head=${h.length} of $n")
      assert(h.length + m.length >= (2 * n + 2) / 3,
        s"$lang: head+middle=${h.length + m.length} of $n")
      // buckets are value-monotone: every head NLL <= every middle NLL
      // <= every tail NLL (the property ntile only gives via its sort)
      def nlls(xs: Array[org.apache.spark.sql.Row]) =
        xs.map(_.getAs[Double]("avg_nll"))
      if (h.nonEmpty && m.nonEmpty) assert(nlls(h).max <= nlls(m).min)
      if (m.nonEmpty && t.nonEmpty) assert(nlls(m).max <= nlls(t).min)
      if (h.nonEmpty && t.nonEmpty) assert(nlls(h).max <= nlls(t).min)
      // with all-distinct NLLs the thresholds reproduce ntile's exact
      // balance (sizes differ by at most 1)
      if (rs.map(_.getAs[Double]("avg_nll")).distinct.length == n) {
        val sizes = Seq(h.length, m.length, t.length)
        assert(sizes.max - sizes.min <= 1, s"$lang: $sizes")
      }
    }
  }

  test("doc_corpus_dedup retention is consistent with the cluster resolution") {
    val stats = run("doc_corpus_dedup").collect()
    val cl = run("doc_dedup_clusters")
    assert(stats.map(_.getAs[Long]("n_docs")).sum == cl.count())
    assert(stats.map(_.getAs[Long]("n_kept")).sum ==
      cl.filter(col("is_canonical")).count())
    stats.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Double]("retention") <= 1.0)
    }
  }

  test("doc_lang_id predicts only known languages") {
    val langs = Set("en", "de", "es", "fr", "zh", "und")
    assert(run("doc_lang_id").collect().forall(r => langs(r.getAs[String]("pred_lang"))))
  }

  test("Caches.release unpersists session-scoped materialized tables and rebuilds on demand") {
    run("doc_minhash_lsh").count() // force the LSH candidate materialization
    val before = spark.sparkContext.getPersistentRDDs.size
    assert(before > 0)
    Caches.release(spark)
    assert(spark.sparkContext.getPersistentRDDs.size < before)
    // transparent rebuild after release
    assert(run("doc_minhash_lsh").count() > 0)
  }

  test("winnow fingerprints of identical text are identical") {
    import spark.implicits._
    val df = Seq((1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog")).toDF("id", "text")
      .select(col("id"), TextOps.winnow(col("text"), 8, 4).as("fp"))
    val fps = df.collect().map(_.getSeq[Long](1).toList)
    assert(fps(0) == fps(1) && fps(0).nonEmpty)
  }

  test("doc_bpe_train learns exactly the merges an independent sequential BPE trainer learns") {
    // independent reference: plain-Scala Sennrich BPE over the same word
    // frequencies — argmax with (freq desc, left, right) tie-break, greedy
    // left-to-right merge application (a fresh symbol never re-merges
    // within its own round)
    def refTrain(wordFreq: Map[String, Long], maxMerges: Int,
        minFreq: Long): Seq[(Int, String, String, String, Long)] = {
      var words: Seq[(Vector[String], Long)] =
        wordFreq.toSeq.map { case (w, f) => w.map(_.toString).toVector -> f }
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Int, String, String, String, Long)]
      var rank = 0
      var done = false
      while (rank < maxMerges && !done) {
        val pc = scala.collection.mutable.Map.empty[(String, String), Long]
        words.foreach { case (syms, f) =>
          syms.indices.dropRight(1).foreach { i =>
            val k = (syms(i), syms(i + 1))
            pc(k) = pc.getOrElse(k, 0L) + f
          }
        }
        val best = pc.toSeq.sortBy { case ((l, r), f) => (-f, l, r) }.headOption
        best match {
          case Some(((l, r), f)) if f >= minFreq =>
            out += ((rank, l, r, l + r, f))
            words = words.map { case (syms, wf) =>
              val acc = scala.collection.mutable.ArrayBuffer.empty[String]
              syms.foreach { x =>
                if (acc.nonEmpty && acc.last == l && x == r)
                  acc(acc.length - 1) = l + r
                else acc += x
              }
              acc.toVector -> wf
            }
            rank += 1
          case _ => done = true
        }
      }
      out.toSeq
    }

    val wordFreq = Tables.documents(spark, sf)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = refTrain(wordFreq, maxMerges = 40, minFreq = 2L)
    assert(expected.size > 10, "corpus too degenerate to train on")

    val learned = run("doc_bpe_train").collect()
      .map(r => (r.getAs[Int]("rank"), r.getAs[String]("left"),
        r.getAs[String]("right"), r.getAs[String]("merged"),
        r.getAs[Long]("pair_freq"))).toSeq
    assert(learned == expected,
      s"distributed trainer diverged from reference at " +
        s"${learned.zip(expected).indexWhere { case (a, b) => a != b }}")
  }
}
