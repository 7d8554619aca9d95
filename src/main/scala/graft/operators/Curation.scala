package graft.operators

import graft.{Q, Tables}
import graft.functions.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-curation operators for the training-data pipeline (SURVEY §2.D):
  * deterministic stratified sampling, sequence packing, TF-IDF term
  * ranking, and near-dup cluster resolution.
  *
  * Scale notes (100 TB):
  *   - Sampling is map-only: the per-stratum rate table broadcasts and the
  *     keep decision is pure row-local arithmetic — no shuffle at all.
  *   - Chunk packing is map-only (explode multiplies rows ~4× but never
  *     shuffles); downstream training shards partition on (doc_id, chunk).
  *   - TF-IDF shuffles twice (doc-term counts, term df) — both partial-agg
  *     collapsed map-side; the df table is vocabulary-sized and broadcasts
  *     back onto the doc-term grain.
  *   - Cluster resolution is iterative min-label propagation, one
  *     hash-shuffle per round, rounds bounded by component diameter (near-
  *     dup clusters are shallow; 100 TB deployments alternate large-star /
  *     small-star to cap per-key fan-in — noted inline).
  */
object Curation {
  private val logger = org.slf4j.LoggerFactory.getLogger(getClass)

  /** Both CC loops carry hard round caps as a runaway backstop; an exit
    * via the cap (not the convergence condition) means labels may be
    * WRONG for deep components — that must never be silent, because the
    * downstream dedup retention stats would be quietly wrong too.
    */
  private def warnUnconverged(loop: String, rounds: Int, converged: Boolean): Unit =
    if (!converged)
      logger.warn(s"connected-components $loop hit its $rounds-round cap WITHOUT " +
        "converging — cluster labels may be incomplete for deep components")

  // NOT fanned out: this module's per-row map work is plain tokenizing,
  // measured cheaper than the repartition exchange fanOut would add (the
  // heavy hash chains live in Dedup, which does fan out)
  private def docs(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)

  /** Deterministic per-row sampling hash. An LCG on doc_id rather than
    * xxhash64 so the DuckDB oracle can reproduce it exactly; a production
    * deployment with opaque ids uses xxhash64(id) % 1000 instead (same
    * shape, still map-only).
    */
  private val SampleMod = 1000L

  val ChunkTokens = 16 // training-sequence length in BPE subword tokens
  val TfIdfTopK = 5

  /** Converged min-label propagation over the near-dup edge set, resolved
    * once per (session, dir) and persisted — the final labels previously
    * leaked one persisted DF per run; the cache makes them a shared index
    * like the LSH candidates (released via [[graft.Caches]]).
    */
  private val clusterCache =
    scala.collection.concurrent.TrieMap.empty[(String, String), DataFrame]

  graft.Caches.register { app =>
    clusterCache.filterInPlace { case ((a, _), df) =>
      if (a == app) df.unpersist() else (); a != app }
  }

  /** Symmetric distinct near-dup edge set (exact-dup + Jaccard-verified),
    * shared by both connected-components formulations — materialized once
    * per (session, dir) so the second labeling doesn't re-run the whole
    * dedup pipeline. persist (not localCheckpoint): this is a fixed INPUT
    * the loops read — it never self-references, so there is no lineage
    * growth — and a persisted entry is actually releasable by the
    * Caches hook (unpersist is a no-op on checkpoint-backed plans).
    */
  private[graft] def nearDupEdges(s: SparkSession, d: String): DataFrame =
    clusterCache.getOrElseUpdate((s.sparkContext.applicationId, d + "#edges"), {
      val exactPairs = Dedup.defs("doc_dedup_exact").fn(s, d)
        .filter(col("is_dup"))
        .select(col("canonical_doc_id").as("a"), col("doc_id").as("b"))
      val nearPairs = Dedup.defs("doc_ngram_jaccard").fn(s, d)
        .select(col("doc_a").as("a"), col("doc_b").as("b"))
      val e = graft.Caches.pinLayout(
        exactPairs.unionByName(nearPairs)
          .union(exactPairs.unionByName(nearPairs)
            .select(col("b").as("a"), col("a").as("b")))
          .distinct(),
        partKeys = Seq(col("a")), order = Seq(col("a"), col("b")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      e.count()
      e
    })

  /** Driver-capacity gate for the connected-components resolutions: when
    * the near-dup edge set holds at most this many undirected edges, both
    * labelings collect it once and resolve components with an in-process
    * union-find instead of running their distributed loops — at bench SFs
    * the edge set is a few hundred pairs and every distributed round is
    * multi-stage pure scheduling (guide §1.2/§5, the same inversion as
    * the r15 BPE driver loop: edge-set-sized work belongs on the driver).
    * 1M edges ≈ 16 MB of id pairs plus the union-find map — comfortable
    * on any driver. Above the cap the loops run unchanged, so the gate is
    * scale-adaptive, not local tuning.
    */
  val CcDriverEdgeCap = 1000000L

  /** In-process min-label component resolution of a driver-sized edge
    * set: union-find with path compression, always attaching the larger
    * ROOT under the smaller, so each final root is its component's
    * minimum doc_id — exactly the fixed point BOTH distributed loops
    * converge to (min-label propagation reaches the component min;
    * large/small-star's fixed point is the min-rooted star forest).
    * Returns None above the cap. Only non-self labels ship back (the
    * docs-side coalesce fills identity labels), so the broadcast dim is
    * bounded by the duplicated-doc count, not the corpus.
    */
  private[graft] def driverResolvedLabels(s: SparkSession, d: String,
      cap: Long = CcDriverEdgeCap): Option[DataFrame] = {
    val edges = nearDupEdges(s, d) // symmetric: 2 rows per undirected edge
    if (edges.count() > 2 * cap) return None
    val pairs = edges.filter(col("a") < col("b"))
      .select(col("a"), col("b")).collect()
    val parent = new java.util.HashMap[java.lang.Long, java.lang.Long]()
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrDefault(r, r) != r) r = parent.get(r)
      var c = x
      while (parent.getOrDefault(c, c) != c) {
        val nx = parent.get(c); parent.put(c, r); c = nx
      }
      r
    }
    pairs.foreach { row =>
      val ra = find(row.getLong(0)); val rb = find(row.getLong(1))
      if (ra != rb) {
        if (ra < rb) parent.put(rb, ra) else parent.put(ra, rb)
      }
    }
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    pairs.foreach { row =>
      Seq(row.getLong(0), row.getLong(1)).foreach { n =>
        if (seen.add(n)) {
          val root = find(n)
          if (root != n) out += ((n, root))
        }
      }
    }
    import s.implicits._
    val lbl = out.toSeq.toDF("doc_id", "lbl")
    Some(docs(s, d).select(col("doc_id"))
      .join(broadcast(lbl), Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("lbl"), col("doc_id")).as("cluster_id")))
  }

  /** The distributed min-label loop (the above-cap path), exposed for the
    * equivalence spec.
    */
  private[graft] def minLabelLoop(s: SparkSession, d: String): DataFrame = {
    // checkpoint per round (Iterate.checkpoint: reliable when the
    // session has a checkpoint dir, local otherwise) truncates the
    // iterative lineage (labels feeds its own next round twice →
    // 2^rounds raw plan growth) so planning stays O(1) per round; it
    // also replaces the per-round persist/unpersist handle bookkeeping.
    val edges = nearDupEdges(s, d)
    var labels = docs(s, d)
      .select(col("doc_id"), col("doc_id").as("cluster_id"))
      .transform(graft.Iterate.checkpoint)
    var changed = 1L
    var rounds = 0
    while (changed > 0 && rounds < 20) {
      val neighborMin = edges
        .join(labels.select(col("doc_id").as("b"),
          col("cluster_id").as("nbr_label")), "b")
        .groupBy(col("a").as("doc_id"))
        .agg(min("nbr_label").as("nbr_min"))
      val next = labels.join(neighborMin, Seq("doc_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"),
            col("cluster_id"))).as("cluster_id"),
          (coalesce(col("nbr_min"), col("cluster_id"))
            < col("cluster_id")).as("chg"))
        .transform(graft.Iterate.checkpoint)
      changed = next.filter(col("chg")).count()
      labels = next.drop("chg")
      rounds += 1
    }
    warnUnconverged("min-label", rounds, converged = changed == 0)
    labels
  }

  private[graft] def clusterLabels(s: SparkSession, d: String): DataFrame =
    clusterCache.getOrElseUpdate((s.sparkContext.applicationId, d), {
      val labels = driverResolvedLabels(s, d)
        .getOrElse(minLabelLoop(s, d))
      val resolved = graft.Caches.pinLayout(labels,
          partKeys = Seq(col("doc_id")), order = Seq(col("doc_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      resolved.count()
      resolved
    })

  /** Large-star: every node links its strictly-larger neighbors to the
    * minimum of its closed neighborhood. Per-key fan-in is one adjacency
    * list; emitted edges always point DOWNWARD, so a mega-cluster's
    * smallest label never accumulates the whole component on one reducer
    * within a single round — the property the plain min-label loop lacks.
    */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val mins = sym.groupBy("u").agg(min("v").as("mn"))
      .select(col("u"), least(col("mn"), col("u")).as("m"))
    // no distinct here: small-star's orientation pass dedups anyway, so
    // deduping twice would just add a shuffle per round
    sym.join(mins, "u").filter(col("v") > col("u"))
      .select(col("v").as("a"), col("m").as("b"))
      .filter(col("a") =!= col("b"))
  }

  /** Small-star: edges oriented large→small; each node and its smaller
    * neighbors all link to the neighborhood minimum.
    */
  private def smallStar(e: DataFrame): DataFrame = {
    val dir = e.select(greatest(col("a"), col("b")).as("u"),
      least(col("a"), col("b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
    val mins = dir.groupBy("u").agg(min("v").as("m"))
    dir.join(mins, "u").select(col("v").as("a"), col("m").as("b"))
      .union(mins.select(col("u").as("a"), col("m").as("b")))
      .filter(col("a") =!= col("b")).distinct()
  }

  /** Connected components via alternating large-star/small-star (Kiveris
    * et al., "Connected Components in MapReduce and Beyond", SoCC'14) —
    * the formulation that holds at 100 TB: O(log²) rounds and bounded
    * per-key fan-in on mega-clusters. Convergence = the edge set's
    * (count, order-independent hash checksum) fixed point.
    */
  /** The distributed large/small-star loop (the above-cap path), exposed
    * for the equivalence spec.
    */
  private[graft] def bigStarLoop(s: SparkSession, d: String): DataFrame = {
    // checkpoint (not persist) each round: every round references the
    // previous edge set ~5×, so raw lineage grows exponentially and
    // RE-PLANNING — not execution — dominates (the sf0.01 plan reached
    // ~66k nodes). Iterate.checkpoint truncates to the materialized RDD,
    // keeping per-round planning O(1) — reliably on a cluster with a
    // checkpoint dir, locally otherwise.
    // the input is symmetric (both orientations present) but large-star's
    // convention is one undirected edge per pair — it re-symmetrizes
    // internally, so feeding both orientations would double round 1
    var edges = nearDupEdges(s, d).filter(col("a") < col("b"))
    // order-independent set checksum (edges are distinct): XOR never
    // overflows under ANSI arithmetic, unlike a long sum
    def checksum(e: DataFrame): (Long, Long) = {
      val r = e.agg(count(lit(1)),
        coalesce(expr("bit_xor(xxhash64(a, b))"), lit(0L))).head
      (r.getLong(0), r.getLong(1))
    }
    var prev = (-1L, 0L)
    var cur = checksum(edges)
    var rounds = 0
    while (cur != prev && rounds < 15) {
      val next = smallStar(largeStar(edges)).transform(graft.Iterate.checkpoint)
      prev = cur
      cur = checksum(next)
      edges = next
      rounds += 1
    }
    warnUnconverged("large-star/small-star", rounds, converged = cur == prev)
    // at the fixed point the edge set is a star forest: each non-root node
    // carries one downward edge to its component's minimum label (the min
    // agg is a no-op then; it also keeps the join 1:1 under the round cap)
    val roots = edges.groupBy(col("a").as("doc_id"))
      .agg(min(col("b")).as("root"))
    docs(s, d).select(col("doc_id"))
      .join(roots, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("root"), col("doc_id")).as("cluster_id"))
  }

  /** True when the near-dup edge set is small enough for the driver
    * union-find (the count reads the already-persisted edge cache).
    */
  private def edgesUnderCap(s: SparkSession, d: String): Boolean =
    nearDupEdges(s, d).count() <= 2 * CcDriverEdgeCap

  private def bigStarLabels(s: SparkSession, d: String): DataFrame =
    if (edgesUnderCap(s, d)) {
      // below the gate both labelings resolve to the same driver
      // union-find frame — SHARE the stored one instead of building and
      // persisting an identical copy (CacheManager warned "already
      // cached"); above the gate the two distributed formulations stay
      // independent
      clusterLabels(s, d)
    } else {
      val out = graft.Caches.pinLayout(bigStarLoop(s, d),
          partKeys = Seq(col("doc_id")), order = Seq(col("doc_id")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      out.count()
      out
    }

  private[graft] def bigStarCached(s: SparkSession, d: String): DataFrame =
    clusterCache.getOrElseUpdate(
      (s.sparkContext.applicationId, d + "#bigstar"), bigStarLabels(s, d))

  /** One-time label resolutions, exposed so Bench can time them as
    * explicit `build:*` line items instead of hiding the cost inside the
    * first timed iteration.
    */
  def buildClusters(s: SparkSession, d: String): Unit = {
    // the two labelings are independent consumers of the same edge set:
    // materialize the shared input once, then run the loops from two
    // driver threads so each loop's stage tail back-fills the other's
    // idle cores (guide §2.6 — overlap independent jobs). Results are
    // unchanged: each loop is deterministic and touches its own cache
    // key.
    // (the loops create per-round plans inside their threads; their
    // consumers' ledger entries stay stable because the final label
    // frames are lambda-free pinned caches)
    nearDupEdges(s, d)
    if (edgesUnderCap(s, d)) {
      // driver-resolved path: the second labeling reuses the first's
      // stored frame, so there is nothing to overlap (and racing two
      // threads into the same cache key could double-build it)
      clusterLabels(s, d)
      bigStarCached(s, d)
      return
    }
    // propagate helper-thread failures (ADVICE r15): silently skipping the
    // min-label build would leave its cache unpopulated and shift the
    // failure/cost into the first timed consumer query
    @volatile var err: Throwable = null
    val minLabel = new Thread(() => {
      try { clusterLabels(s, d); () }
      catch { case e: Throwable => err = e }
    })
    minLabel.start()
    bigStarCached(s, d)
    minLabel.join()
    if (err != null) throw err
  }

  /** DuckDB CTEs `exg`/`ep`: exact-dup edges (canonical = min doc_id per
    * normalized-text group), mirroring doc_dedup_exact. Non-interpolated
    * so the regex backslash survives.
    */
  private val exactEdgeCtes: String =
    """exg AS (
      |  SELECT doc_id, min(doc_id) OVER (PARTITION BY
      |    trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS canon
      |  FROM documents),
      |ep AS (SELECT canon AS a, doc_id AS b FROM exg WHERE doc_id <> canon)"""
      .stripMargin

  /** WITH RECURSIVE prelude ending in CTE `lab(doc_id, cluster_id)`: the
    * near-dup edge set (exact-dup ∪ brute-force Jaccard ≥ threshold — the
    * same set the engine's LSH+verify provably recovers, asserted by
    * doc_ngram_jaccard's own oracle) resolved to components by transitive
    * closure + min — re-deriving BOTH engine CC formulations (min-label and
    * large-star/small-star are label-identical at convergence).
    */
  private val clusterOracleCtes: String =
    s"""WITH RECURSIVE ${Dedup.shingleCtes},
       |jp AS (
       |  SELECT a.doc_id AS a, b.doc_id AS b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE len(a.sh) > 0 AND len(b.sh) > 0
       |    AND cast(len(list_intersect(a.sh, b.sh)) as double) /
       |        len(list_distinct(list_concat(a.sh, b.sh)))
       |        >= ${Dedup.JaccardThreshold}),
       |$exactEdgeCtes,
       |und AS (SELECT a, b FROM jp UNION SELECT a, b FROM ep),
       |edges AS (SELECT a, b FROM und UNION SELECT b AS a, a AS b FROM und),
       |r AS (
       |  SELECT doc_id, doc_id AS reach FROM documents
       |  UNION
       |  SELECT r.doc_id, e.b AS reach FROM r JOIN edges e ON r.reach = e.a),
       |lab AS (SELECT doc_id, min(reach) AS cluster_id FROM r GROUP BY doc_id)"""
      .stripMargin

  private val clusterLabelOracle: String =
    s"""$clusterOracleCtes
       |SELECT doc_id, cluster_id,
       |  count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       |  doc_id = cluster_id AS is_canonical
       |FROM lab ORDER BY doc_id""".stripMargin

  /** Corpus-trained add-one-smoothed unigram model attached back onto the
    * (doc, term) tf grain — the shared fit/score front half of
    * doc_lm_score and doc_ccnet_bucket. Shape at scale: the unigram dim is
    * OPEN-VOCABULARY (corpus-sized at 100 TB), so the score join stays
    * KEYED on term — never broadcast-hinted; AQE broadcasts it when it is
    * actually small (the doc_bigram_lm rule). The two corpus scalars
    * (t_tokens, vocab) come from a ONE-ROW aggregate over the unigram
    * grain cross-joined back — not a single-partition window over the
    * vocab grain, which would funnel the whole vocabulary through one
    * task. The tf subtree feeds three consumers, but its shuffle is
    * byte-identical in each, so exchange reuse collapses them onto one
    * physical scan (PlanSpec locks the scan budget and the absence of
    * foldable-partition windows / vocab-grain broadcast hints).
    */
  /** Stored (doc_id, lang, term, tf) token-frequency index — the shared
    * front half of six text operators (LM scoring, CCNet bucketing, DSIR
    * weighting, TF-IDF, token entropy, Zipf), each of which previously
    * re-ran the tokenize→explode→count pass per execution. `lang` is a
    * document attribute, so the (doc_id, lang, term) and (doc_id, term)
    * grains hold the SAME rows — one index serves both key shapes by
    * column selection. Pinned/partitioned on `term` because every
    * scoring join keys on it. Forced by `buildTfIndex` (its own Bench
    * line item, the stored-table pattern).
    */
  private val tfCache = graft.Caches.dfCache()

  private[operators] def tfIndex(s: SparkSession, d: String): DataFrame =
    tfCache.getOrElseUpdate(s, d)(graft.Caches.pinLayout(
      docs(s, d)
        .select(col("doc_id"), col("lang"),
          explode(TextOps.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "lang", "term")
        .agg(count(lit(1)).as("tf")),
      partKeys = Seq(col("term")), order = Seq(col("term"), col("doc_id"))))

  /** Force the one-time token-frequency index (Bench line item). */
  def buildTfIndex(s: SparkSession, d: String): Long =
    tfIndex(s, d).count()

  private def unigramScoredTf(s: SparkSession, d: String,
      withLang: Boolean): DataFrame = {
    val keys = if (withLang) Seq("doc_id", "lang") else Seq("doc_id")
    val tf = tfIndex(s, d).select((keys :+ "term" :+ "tf").map(col): _*)
    val unigram = tf.groupBy("term").agg(sum("tf").as("c"))
    val totals = unigram.agg(sum("c").as("t_tokens"),
      count(lit(1)).as("vocab"))
    tf.join(unigram, Seq("term")).crossJoin(broadcast(totals))
  }

  val defs: Map[String, Q] = Map(
    // ----------------------------------------------------------------
    // Stratified sampling: per-source keep rates from a broadcast config
    // dim. The rate table is tiny (one row per stratum) and the keep
    // decision is row-local, so the whole operator is one map-only pass.
    "doc_sample_stratified" -> Q(
      (s, d) => {
        val rates = s.range(20).select(
          concat(lit("src"), col("id").cast("string")).as("source"),
          (lit(200) + (col("id") % 5) * 150).as("rate_permille"))
        docs(s, d)
          .join(broadcast(rates), "source")
          // doc_id reduced mod a prime BEFORE the LCG multiply: raw
          // billion-range ids overflow Long under ANSI (the sf1 failure),
          // and the reduction keeps the keep-decision row-local + exact
          // in both engines
          .filter(((col("doc_id") % 1000000007L) * 1103515245L + 12345L)
            % SampleMod < col("rate_permille"))
          .select(col("doc_id"), col("source"), col("rate_permille"))
          .orderBy("doc_id")
      },
      """WITH rates AS (
        |  SELECT 'src' || cast(i as varchar) AS source,
        |    200 + (i % 5) * 150 AS rate_permille
        |  FROM generate_series(0, 19) t(i))
        |SELECT doc_id, d.source, rate_permille
        |FROM documents d JOIN rates r ON d.source = r.source
        |WHERE ((doc_id % 1000000007) * 1103515245 + 12345) % 1000 < rate_permille
        |ORDER BY doc_id""".stripMargin),

    // ----------------------------------------------------------------
    // Sequence packing: split each document into fixed-token training
    // chunks, measured in REAL subword tokens (the BPE expression — a
    // training job packs subword sequences, not whitespace words). Map-only
    // (sequence + slice over a BOUND token column — inlining the tokenizer
    // would re-split per chunk). The oracle re-derives BPE in SQL
    // (Bpe.oracleDocCte), so chunk boundaries AND chunk text hash-match.
    "doc_chunk_pack" -> Q(
      (s, d) => {
        val toks = docs(s, d)
          .select(col("doc_id"), TextOps.bpeTokens(col("text")).as("w"))
          .filter(size(col("w")) > 0)
        toks
          .select(col("doc_id"), col("w"),
            explode(sequence(lit(0),
              ((size(col("w")) - 1) / ChunkTokens).cast("int"))).as("chunk_id"))
          .select(col("doc_id"), col("chunk_id").cast("long").as("chunk_id"),
            least(lit(ChunkTokens),
              size(col("w")) - col("chunk_id") * ChunkTokens)
              .cast("long").as("chunk_tokens"),
            array_join(slice(col("w"),
              col("chunk_id") * ChunkTokens + 1, lit(ChunkTokens)), " ")
              .as("chunk_text"))
          .orderBy("doc_id", "chunk_id")
      },
      s"""WITH ${graft.functions.Bpe.oracleDocCte},
         |toks AS (
         |  SELECT doc_id, string_split(bpe_stream, ' ') AS w
         |  FROM bpe_doc WHERE n_bpe_tokens > 0),
         |ch AS (
         |  SELECT doc_id, w,
         |    unnest(generate_series(0, (len(w) - 1) // $ChunkTokens)) AS chunk_id
         |  FROM toks)
         |SELECT doc_id, chunk_id,
         |  least($ChunkTokens, len(w) - chunk_id * $ChunkTokens) AS chunk_tokens,
         |  array_to_string(w[chunk_id * $ChunkTokens + 1 : chunk_id * $ChunkTokens + $ChunkTokens], ' ')
         |    AS chunk_text
         |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),

    // ----------------------------------------------------------------
    // Training-shard manifest: deterministic hash-sharding of the corpus
    // plus the per-shard statistics a training job reads before pulling
    // data (doc/token counts, source mix, id range). Map-only assignment
    // + one aggregate shuffle on the shard key; real deployments swap the
    // oracle-reproducible LCG for xxhash64(id) % shards.
    "doc_shard_manifest" -> Q(
      (s, d) => docs(s, d)
        .select(col("doc_id"), col("source"),
          // real subword counts — the number a training job budgets by
          size(TextOps.bpeTokens(col("text"))).cast("long").as("n_tokens"))
        // mod-prime reduction before the LCG multiply — see
        // doc_sample_stratified (raw billion-range ids overflow under ANSI)
        .withColumn("shard",
          ((col("doc_id") % 1000000007L) * 1103515245L + 12345L) % 16)
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("total_tokens"),
          countDistinct(col("source")).as("n_sources"),
          min(col("doc_id")).as("min_doc_id"),
          max(col("doc_id")).as("max_doc_id"))
        .orderBy("shard"),
      s"""WITH ${graft.functions.Bpe.oracleDocCte}
        |SELECT ((doc_id % 1000000007) * 1103515245 + 12345) % 16 AS shard,
        |  count(*) AS n_docs,
        |  cast(sum(b.n_bpe_tokens) as bigint) AS total_tokens,
        |  count(DISTINCT source) AS n_sources,
        |  min(doc_id) AS min_doc_id, max(doc_id) AS max_doc_id
        |FROM documents JOIN bpe_doc b USING (doc_id)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ----------------------------------------------------------------
    // k-anonymity suppression — the privacy gate of a data release: any
    // document whose quasi-identifier combination (source, lang) matches
    // fewer than K rows is suppressed, so no released row is identifiable
    // within a group smaller than K. One window count over the
    // quasi-identifier shuffle (no groupBy-then-rejoin second pass).
    "doc_kanon_suppress" -> Q(
      (s, d) => {
        val grp = Window.partitionBy("source", "lang")
        docs(s, d).select("doc_id", "source", "lang")
          .withColumn("group_size", count(lit(1)).over(grp))
          .withColumn("suppressed", col("group_size") < 10)
          .orderBy("doc_id")
      },
      """SELECT doc_id, source, lang,
        |  count(*) OVER (PARTITION BY source, lang) AS group_size,
        |  count(*) OVER (PARTITION BY source, lang) < 10 AS suppressed
        |FROM documents ORDER BY doc_id""".stripMargin),

    // ----------------------------------------------------------------
    // TF-IDF top-k terms per document. Two partial-agg shuffles (doc-term
    // tf, term df); the df table is vocabulary-sized so the re-join onto
    // the doc-term grain broadcasts. Scores round to 6dp in BOTH engines
    // (ln differs in the last ulp across libm implementations); ranking
    // ties break on the raw score then term, which is cross-engine stable
    // because equal (tf, df) pairs produce bit-equal scores.
    "doc_tfidf_topk" -> Q(
      (s, d) => {
        val tf = tfIndex(s, d).select("doc_id", "term", "tf")
        val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
        val n = docs(s, d).agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(dfreq, "term").crossJoin(broadcast(n))
          .withColumn("tfidf", col("tf").cast("double") *
            log((col("n_docs") + 1).cast("double") / (col("df") + 1)))
        scored
          .withColumn("rnk", row_number().over(Window.partitionBy("doc_id")
            .orderBy(col("tfidf").desc, col("term"))))
          .filter(col("rnk") <= TfIdfTopK)
          .select(col("doc_id"), col("rnk").cast("long").as("rnk"),
            col("term"), col("tf"), col("df"),
            round(col("tfidf"), 6).as("tfidf"))
          .orderBy("doc_id", "rnk")
      },
      s"""WITH terms AS (
         |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\\s+')) AS term
         |  FROM documents),
         |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
         |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT count(*) AS n_docs FROM documents),
         |scored AS (
         |  SELECT doc_id, term, tf, df,
         |    cast(tf as double) * ln(cast(n_docs + 1 as double) / (df + 1)) AS tfidf
         |  FROM tf JOIN dfreq USING (term) CROSS JOIN n),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, term) AS rnk
         |  FROM scored)
         |SELECT doc_id, rnk, term, tf, df, round(tfidf, 6) AS tfidf
         |FROM ranked WHERE rnk <= $TfIdfTopK
         |ORDER BY doc_id, rnk""".stripMargin),

    // ----------------------------------------------------------------
    // End-to-end corpus dedup: resolve near-dup clusters, keep each
    // cluster's canonical doc, report per-source retention — the summary a
    // curation run publishes. Composes the cluster operator (its iterative
    // cost is already session-bounded) with one broadcast-sized join and
    // one aggregate shuffle. Oracled through the recursive-closure labels.
    "doc_corpus_dedup" -> Q(
      (s, d) => {
        val cl = defs("doc_dedup_clusters").fn(s, d)
          .select("doc_id", "is_canonical")
        docs(s, d).select("doc_id", "source")
          .join(cl, "doc_id")
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when(col("is_canonical"), 1L).otherwise(0L)).as("n_kept"))
          .withColumn("retention",
            round(col("n_kept").cast("double") / col("n_docs"), 6))
          .orderBy("source")
      },
      s"""$clusterOracleCtes
         |SELECT d.source, count(*) AS n_docs,
         |  cast(sum(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END)
         |    as bigint) AS n_kept,
         |  round(cast(sum(CASE WHEN l.doc_id = l.cluster_id THEN 1 ELSE 0 END)
         |    as double) / count(*), 6) AS retention
         |FROM lab l JOIN documents d ON l.doc_id = d.doc_id
         |GROUP BY d.source ORDER BY d.source""".stripMargin),

    // ----------------------------------------------------------------
    // Distributed heavy hitters over the token stream: per-partition
    // space-saving sketches (bounded M entries each — a bounded-memory
    // streaming sketch is the one shape built-in aggregates can't express,
    // so this is a justified mapPartitions), candidates unioned and
    // broadcast back for an EXACT recount, then top-k. The full-cardinality
    // groupBy this replaces shuffles every distinct key; here the shuffle
    // carries only ≤ M×partitions candidate keys + the recount's
    // candidate-filtered partials. Zipfian data puts every true heavy
    // hitter far above the n/M sketch error, which the spec verifies
    // against the exact top-k.
    "doc_heavy_hitters" -> Q(
      (s, d) => {
        import s.implicits._
        val topK = 20
        val m = 512
        val toks = docs(s, d)
          .select(explode(TextOps.tokens(col("text"))).as("term")).as[String]
        val candidates = toks.mapPartitions { it =>
          val counts = scala.collection.mutable.HashMap.empty[String, Long]
          it.foreach { k =>
            if (counts.contains(k) || counts.size < m)
              counts(k) = counts.getOrElse(k, 0L) + 1
            else { // space-saving eviction: new key inherits min count + 1
              val (mk, mv) = counts.minBy(_._2)
              counts.remove(mk)
              counts(k) = mv + 1
            }
          }
          counts.keysIterator
        }.toDF("term").distinct()
        toks.toDF("term")
          .join(broadcast(candidates), "term")
          .groupBy("term").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("term")).limit(topK)
      },
      // exact-recount oracle: hash-matching asserts the space-saving
      // candidate set contains every true heavy hitter (its standard
      // guarantee — all top-k here sit far above the n/M sketch error)
      """WITH toks AS (
        |  SELECT unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents)
        |SELECT term, count(*) AS n FROM toks GROUP BY term
        |ORDER BY n DESC, term LIMIT 20""".stripMargin),

    // ----------------------------------------------------------------
    // Unigram language-model quality score: corpus-trained add-one-
    // smoothed token probabilities, each document scored by mean negative
    // log-likelihood (low = in-distribution, the classic perplexity-filter
    // stage). Two partial-agg shuffles (term counts, doc score); the
    // per-term nll is exact-int-derived and the order-dependent double sum
    // rounds to 6dp on both engines.
    "doc_lm_score" -> Q(
      (s, d) => {
        unigramScoredTf(s, d, withLang = false)
          .groupBy("doc_id")
          .agg(sum(col("tf")).cast("long").as("n_tokens"),
            round((sum(col("tf").cast("double") *
              log((col("t_tokens") + col("vocab")).cast("double") / (col("c") + 1))) /
              sum(col("tf"))), 6).as("avg_nll"))
          .orderBy("doc_id")
      },
      """WITH terms AS (
        |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM terms GROUP BY 1, 2),
        |unigram AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
        |totals AS (SELECT sum(c) AS t_tokens, count(*) AS vocab FROM unigram)
        |SELECT doc_id, cast(sum(tf) as bigint) AS n_tokens,
        |  round(sum(cast(tf as double) *
        |    ln(cast(t_tokens + vocab as double) / (c + 1))) / sum(tf), 6)
        |    AS avg_nll
        |FROM tf JOIN unigram USING (term) CROSS JOIN totals
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ----------------------------------------------------------------
    // Bigram LM perplexity (the CCNet/KenLM-shaped upgrade of the unigram
    // filter): P(w2|w1) with add-one smoothing over the corpus-trained
    // bigram table, scored as per-doc mean NLL. Shape at scale: the
    // (doc, prev, term) tf grain joins the bigram counts on a KEYED
    // shuffle and the context counts on `prev` — neither side is
    // broadcast-hinted because an open vocabulary makes both
    // corpus-sized at 100 TB (AQE still broadcasts them when they're
    // small); only the scalar vocab size crosses as a literal join. The
    // per-doc window for bigram formation partitions on doc_id — state
    // bounded by document length.
    "doc_bigram_lm" -> Q(
      (s, d) => {
        // bigrams form MAP-ONLY from the bound token array in ONE codegen
        // pass (structs of views into the array — R16OptSpec pins it
        // against the zip_with(slice, slice) HOF it replaced, which
        // allocated two sliced copies per doc plus a lambda walk per pair;
        // that HOF had itself replaced the posexplode + lag window)
        val bt = docs(s, d)
          .select(col("doc_id"), TextOps.tokens(col("text")).as("w"))
          .select(col("doc_id"),
            explode(graft.functions.HashExprs.tokenBigramPairs(col("w")))
              .as("p"))
          .select(col("doc_id"), col("p.prev").as("prev"),
            col("p.term").as("term"))
          .groupBy("doc_id", "prev", "term").agg(count(lit(1)).as("tf"))
        val bigram = bt.groupBy("prev", "term").agg(sum("tf").as("c2"))
        val context = bigram.groupBy("prev").agg(sum("c2").as("c1"))
        // distinct-term count from the stored tf index (same term set)
        val vocab = tfIndex(s, d).agg(countDistinct(col("term")).as("vocab"))
        bt.join(bigram, Seq("prev", "term")).join(context, Seq("prev"))
          .crossJoin(broadcast(vocab))
          .groupBy("doc_id")
          .agg(sum(col("tf")).cast("long").as("n_bigrams"),
            round(sum(col("tf").cast("double") *
              log((col("c1") + col("vocab")).cast("double") / (col("c2") + 1))) /
              sum(col("tf")), 6).as("avg_nll"))
          .orderBy("doc_id")
      },
      """WITH toks AS (
        |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS w
        |  FROM documents),
        |grams AS (
        |  SELECT doc_id, unnest([{'p': w[i], 't': w[i+1]}
        |    for i in generate_series(1, len(w) - 1)]) AS g
        |  FROM toks),
        |bt AS (SELECT doc_id, g.p AS prev, g.t AS term, count(*) AS tf
        |  FROM grams GROUP BY 1, 2, 3),
        |bigram AS (SELECT prev, term, sum(tf) AS c2 FROM bt GROUP BY 1, 2),
        |context AS (SELECT prev, sum(c2) AS c1 FROM bigram GROUP BY 1),
        |vocab AS (SELECT count(DISTINCT t) AS vocab
        |  FROM (SELECT unnest(w) AS t FROM toks))
        |SELECT doc_id, cast(sum(tf) as bigint) AS n_bigrams,
        |  round(sum(cast(tf as double) *
        |    ln(cast(c1 + vocab as double) / (c2 + 1))) / sum(tf), 6)
        |    AS avg_nll
        |FROM bt JOIN bigram USING (prev, term) JOIN context USING (prev)
        |  CROSS JOIN vocab
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin),

    // ----------------------------------------------------------------
    // Near-dup cluster resolution: connected components over the union of
    // the exact-dup edges and the Jaccard-verified near-dup edges, via
    // min-label propagation. Each round is one shuffle (edge join + min
    // agg); rounds are bounded by component diameter, and the loop exits
    // as soon as a round changes nothing. At 100 TB the same loop runs
    // with large-star/small-star alternation so a mega-cluster's hub key
    // can't concentrate a whole component on one reducer.
    // Oracled: DuckDB re-derives the labels by recursive transitive
    // closure over the same edge set; PipelineSpec additionally checks a
    // driver-side union-find.
    "doc_dedup_clusters" -> Q(
      (s, d) => {
        val sizes = Window.partitionBy("cluster_id")
        clusterLabels(s, d)
          .withColumn("cluster_size", count(lit(1)).over(sizes))
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            (col("doc_id") === col("cluster_id")).as("is_canonical"))
          .orderBy("doc_id")
      },
      clusterLabelOracle),

    // ----------------------------------------------------------------
    // The SAME component resolution via alternating large-star/small-star
    // — the 100 TB formulation (bounded per-key fan-in, O(log²) rounds)
    // §5 commits to. Same output grain as doc_dedup_clusters; PipelineSpec
    // asserts the two labelings are identical.
    "doc_cc_bigstar" -> Q(
      (s, d) => {
        val sizes = Window.partitionBy("cluster_id")
        bigStarCached(s, d)
          .withColumn("cluster_size", count(lit(1)).over(sizes))
          .select(col("doc_id"), col("cluster_id"), col("cluster_size"),
            (col("doc_id") === col("cluster_id")).as("is_canonical"))
          .orderBy("doc_id")
      },
      clusterLabelOracle),

    // ----------------------------------------------------------------
    // DSIR-style importance weight (data selection via importance
    // resampling): per-doc length-normalized log-likelihood ratio of a
    // target unigram distribution (here: the lang='en' slice stands in for
    // the high-quality target corpus) against the raw-corpus distribution,
    // add-1 smoothed over the shared vocabulary. Docs scoring high look
    // target-like and get up-sampled by a resampling pass.
    // Scale: two partial-agg token-count shuffles build the LLR dim over
    // an OPEN vocabulary (corpus-sized at 100 TB), so the scoring join
    // stays KEYED on term — no broadcast hint; AQE still broadcasts the
    // dim when it is actually small. The three corpus totals cross the
    // plan as a 1-row aggregate (the doc_lm_score shape), never as a
    // whole-frame window over the vocab grain.
    "doc_importance_weight" -> Q(
      (s, d) => {
        // the stored tf index: (doc, term) counts feed both the vocab-
        // grain LLR dim (conditional agg folds target + raw counts into
        // one pass) and the per-doc scoring join (sum tf·llr ≡ per-token
        // sum)
        val tf = tfIndex(s, d)
        val counts = tf.groupBy("term")
          .agg(sum("tf").as("c_raw"),
            sum(when(col("lang") === "en", col("tf")).otherwise(0L)).as("c_tgt"))
        val totals = counts.agg(sum("c_raw").as("t_raw"),
          sum("c_tgt").as("t_tgt"), count(lit(1)).as("vocab"))
        val llr = counts.crossJoin(broadcast(totals))
          .select(col("term"),
            (log((col("c_tgt") + 1).cast("double") /
                (col("t_tgt") + col("vocab")).cast("double")) -
              log((col("c_raw") + 1).cast("double") /
                (col("t_raw") + col("vocab")).cast("double"))).as("llr"))
        tf.join(llr, Seq("term"))
          .groupBy("doc_id")
          .agg(sum("tf").cast("long").as("n_tokens"),
            round(sum(col("llr") * col("tf")) / sum("tf"), 6).as("llr_per_token"))
          .orderBy("doc_id")
      },
      """WITH toks AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |rawc AS (SELECT term, count(*) AS c_raw FROM toks GROUP BY 1),
        |tgtc AS (SELECT term, count(*) AS c_tgt FROM toks
        |         WHERE lang = 'en' GROUP BY 1),
        |totals AS (
        |  SELECT (SELECT sum(c_raw) FROM rawc) AS t_raw,
        |    (SELECT count(*) FROM rawc) AS vocab,
        |    (SELECT sum(c_tgt) FROM tgtc) AS t_tgt),
        |llr AS (
        |  SELECT r.term,
        |    ln(cast(coalesce(t.c_tgt, 0) + 1 as double) /
        |       cast(tt.t_tgt + tt.vocab as double)) -
        |    ln(cast(r.c_raw + 1 as double) /
        |       cast(tt.t_raw + tt.vocab as double)) AS llr
        |  FROM rawc r LEFT JOIN tgtc t USING (term) CROSS JOIN totals tt)
        |SELECT toks.doc_id, cast(count(*) as bigint) AS n_tokens,
        |  round(sum(llr.llr) / count(*), 6) AS llr_per_token
        |FROM toks JOIN llr USING (term)
        |GROUP BY 1 ORDER BY 1""".stripMargin),

    // ----------------------------------------------------------------
    // Temperature-scaled domain mixing (the multilingual/UniMax recipe):
    // per-source sampling weights w_s ∝ p_s^τ with τ = 0.7, where p_s is
    // the source's token share — τ < 1 flattens the distribution so
    // high-resource sources are down-sampled and the tail is boosted;
    // `factor` (= w_s / p_s) is the per-source up/down-sampling multiplier
    // a sampler applies. One partial-agg shuffle to source grain (tiny),
    // then broadcast total arithmetic — the whole op is dimension-sized.
    "doc_domain_mix" -> Q(
      (s, d) => {
        val tau = lit(0.7)
        // ONE corpus-grain aggregate; the normalizations then run as
        // whole-frame windows over the source grain, which is
        // dimension-sized by contract — re-deriving the corpus agg per
        // normalization (the crossJoin-an-agg formulation) scans the
        // corpus three times (PlanSpec locks the exchange budget)
        val w = Window.partitionBy(lit(1))
        docs(s, d)
          .select(col("source"),
            size(TextOps.tokens(col("text"))).cast("long").as("n_tokens"))
          .groupBy("source")
          .agg(count(lit(1)).as("n_docs"), sum("n_tokens").as("n_tokens"))
          .withColumn("p",
            col("n_tokens").cast("double") / sum("n_tokens").over(w))
          .withColumn("pw", pow(col("p"), tau))
          .withColumn("z", sum("pw").over(w))
          .select(col("source"), col("n_docs"), col("n_tokens"),
            round(col("p"), 6).as("p"),
            round(col("pw") / col("z"), 6).as("w"),
            round(col("pw") / col("z") / col("p"), 6).as("factor"))
          .orderBy("source")
      },
      """WITH by_src AS (
        |  SELECT source, count(*) AS n_docs,
        |    sum(len(regexp_split_to_array(trim(text), '\s+'))) AS n_tokens
        |  FROM documents GROUP BY 1),
        |p AS (
        |  SELECT *, cast(n_tokens as double) /
        |    (SELECT sum(n_tokens) FROM by_src) AS p
        |  FROM by_src),
        |pw AS (SELECT *, pow(p, 0.7) AS pw FROM p)
        |SELECT source, n_docs, cast(n_tokens as bigint) AS n_tokens,
        |  round(p, 6) AS p,
        |  round(pw / (SELECT sum(pw) FROM pw), 6) AS w,
        |  round(pw / (SELECT sum(pw) FROM pw) / p, 6) AS factor
        |FROM pw ORDER BY source""".stripMargin),

    // ----------------------------------------------------------------
    // CCNet-style perplexity bucketing: within each language, split docs
    // into head/middle/tail tertiles by unigram-LM average NLL
    // (doc_lm_score's statistic) — the classic "keep head+middle, drop or
    // re-filter tail" curation gate. CCNet's tertiles are QUANTILE
    // THRESHOLDS, so the cut points are computed as per-lang discrete
    // tertile values and bucketing is a broadcast join + map-only
    // comparisons (the ev_rfm pattern) — NOT a per-lang global ntile,
    // which would sort every document of a dominant language in ONE task
    // at 100 TB. The cut points come from a cumulative histogram over the
    // (lang, micro-NLL) grain: quantizing the already-6dp-rounded NLL to
    // integer micro-units bounds that grain by the quantization (≤ range
    // ×1e6 rows per lang, independent of corpus size) and makes the
    // threshold choice pure integer arithmetic — t1 = the ceil(n/3)-th
    // smallest value, t2 = the ceil(2n/3)-th — reproducible bit-exactly by
    // the oracle, with none of the cross-engine FP interpolation risk a
    // percentile at the non-dyadic fraction 1/3 would carry. Ties share a
    // bucket by construction (value-based semantics).
    "doc_ccnet_bucket" -> Q(
      (s, d) => {
        val nll = unigramScoredTf(s, d, withLang = true)
          .groupBy("doc_id", "lang")
          .agg(round((sum(col("tf").cast("double") *
            log((col("t_tokens") + col("vocab")).cast("double") / (col("c") + 1))) /
            sum(col("tf"))), 6).as("avg_nll"))
          .withColumn("nm", round(col("avg_nll") * 1e6).cast("long"))
        val hist = nll.groupBy("lang", "nm").agg(count(lit(1)).as("cnt"))
        // cumulative counts over the BOUNDED histogram grain — the window
        // partitions on lang (never a foldable/global partition spec)
        val cum = hist.withColumn("cum",
          sum("cnt").over(Window.partitionBy("lang").orderBy("nm")))
        val n = hist.groupBy("lang").agg(sum("cnt").as("n"))
        val th = cum.join(broadcast(n), "lang")
          .groupBy("lang")
          .agg(min(when(col("cum") >= expr("(n + 2) div 3"), col("nm"))).as("t1"),
            min(when(col("cum") >= expr("(2 * n + 2) div 3"), col("nm"))).as("t2"))
        nll.join(broadcast(th), "lang")
          .withColumn("tertile",
            when(col("nm") <= col("t1"), lit(1L))
              .when(col("nm") <= col("t2"), lit(2L))
              .otherwise(lit(3L)))
          .withColumn("bucket",
            when(col("tertile") === 1, lit("head"))
              .when(col("tertile") === 2, lit("middle"))
              .otherwise(lit("tail")))
          .select(col("doc_id"), col("lang"), col("avg_nll"),
            col("tertile"), col("bucket"))
          .orderBy("doc_id")
      },
      """WITH terms AS (
        |  SELECT doc_id, lang,
        |    unnest(regexp_split_to_array(trim(text), '\s+')) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, lang, term, count(*) AS tf
        |       FROM terms GROUP BY 1, 2, 3),
        |unigram AS (SELECT term, count(*) AS c FROM terms GROUP BY 1),
        |totals AS (SELECT sum(c) AS t_tokens, count(*) AS vocab FROM unigram),
        |nll AS (
        |  SELECT doc_id, lang,
        |    round(sum(cast(tf as double) *
        |      ln(cast(t_tokens + vocab as double) / (c + 1))) / sum(tf), 6)
        |      AS avg_nll
        |  FROM tf JOIN unigram USING (term) CROSS JOIN totals
        |  GROUP BY 1, 2),
        |q AS (SELECT *, cast(round(avg_nll * 1e6) AS bigint) AS nm FROM nll),
        |hist AS (SELECT lang, nm, count(*) AS cnt FROM q GROUP BY 1, 2),
        |cum AS (SELECT lang, nm,
        |    sum(cnt) OVER (PARTITION BY lang ORDER BY nm) AS cum
        |  FROM hist),
        |n AS (SELECT lang, count(*) AS n FROM q GROUP BY 1),
        |th AS (SELECT lang,
        |    min(CASE WHEN cum >= (n + 2) // 3 THEN nm END) AS t1,
        |    min(CASE WHEN cum >= (2 * n + 2) // 3 THEN nm END) AS t2
        |  FROM cum JOIN n USING (lang) GROUP BY 1)
        |SELECT doc_id, lang, avg_nll,
        |  cast(CASE WHEN nm <= t1 THEN 1 WHEN nm <= t2 THEN 2 ELSE 3 END
        |    AS bigint) AS tertile,
        |  CASE WHEN nm <= t1 THEN 'head' WHEN nm <= t2 THEN 'middle'
        |    ELSE 'tail' END AS bucket
        |FROM q JOIN th USING (lang)
        |ORDER BY doc_id""".stripMargin)
  )
}
