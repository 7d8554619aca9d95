package graft.sources

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, StandardCopyOption}

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.Bridge
import org.apache.spark.sql.types.{DataType, IntegerType, StructType}
import org.json4s._
import org.json4s.jackson.JsonMethods

/** Dependency-free atomic-commit table layout — the engine's analogue of the
  * reference's transactional MERGE target (reference
  * sql/05_merge_canonical.sql:1, a Snowflake MERGE whose visibility is
  * governed by the warehouse's commit protocol).
  *
  * Layout: immutable data directories under `data/<table>/`, immutable
  * per-version manifests (`MANIFEST.v{N}` — the commit points AND the
  * time-travel handles), and a mutable `MANIFEST` live-pointer cache at
  * the table root. Readers resolve every table's file list exclusively
  * through the manifest, so data files are invisible until a commit
  * publishes them; writers write data first, then commit by EXCLUSIVELY
  * creating version N's manifest (`Files.createLink` of a complete tmp
  * file — POSIX `link(2)` fails atomically on EEXIST, so of any racing
  * writers exactly one wins the version and the rest rebase on the
  * winner's state and retry: optimistic concurrency, the Delta commit
  * protocol). A crash at ANY point before the version file lands leaves
  * the previously-committed state byte-identical and fully readable; the
  * orphaned data dirs are garbage-collected by the next successful commit
  * (with an in-flight guard so a winner's GC never deletes dirs a
  * concurrent writer may still commit). This is the same two-phase shape
  * Delta/Iceberg use (write files → create one commit object), restated
  * with zero dependencies; on real object storage the exclusive create
  * becomes the store's conditional-put primitive.
  *
  * One manifest spans MULTIPLE tables: a micro-batch that merges the
  * canonical header, line, and anomaly grains publishes all three with the
  * SAME pointer swap, so a crash can never expose a header without its lines
  * — the multi-table transaction the reference gets from warehouse commit
  * semantics (sql/05_merge_canonical.sql:1 + sql/06_anomaly_detection.sql:1).
  *
  * Replay detection keys on (queryId, batchId), not batchId alone:
  * micro-batch ids are only stable per checkpoint, so a query restarted with
  * a FRESH checkpoint (ids reset to 0) against an existing table must not
  * have its batches skipped — on a query-id mismatch the merge proceeds and
  * the manifest adopts the new id (the Delta txn-identity pattern).
  *
  * The manifest also records each table's schema (as Spark StructType JSON)
  * and per-bucket min/max column stats:
  *   - schema versioning lets a column added mid-stream publish cleanly —
  *     older generation dirs null-backfill on read because every reader scans
  *     under the manifest's unified schema;
  *   - bucket stats (observed during the write pass via `Dataset.observe`,
  *     zero extra scans) let range predicates on NON-bucket-key columns skip
  *     buckets whose [min,max] can't overlap — the micro-partition-pruning
  *     analogue of Snowflake's metadata skipping.
  */
object ManifestTable {

  val ManifestName = "MANIFEST"

  /** Table name the single-table sinks use. */
  val DefaultTable = "t"

  /** One tracked column's per-generation bounds, TAGGED with the
    * comparison domain they were collected under — `num` (numeric and
    * temporal values, decimal-rendered, timestamps as epoch micros) or
    * `str` (string bounds, compared as UTF-8 bytes — Spark's own binary
    * string ordering). The tag is what makes string pruning safe: bounds
    * only ever compare inside the domain they were recorded in, so a
    * string column whose values happen to parse numerically ("9", "12")
    * can never have its LEXICAL bounds misread as numeric ones (or vice
    * versa after a type evolution) — a domain mismatch just keeps the
    * generation.
    */
  case class ColStat(kind: String, lo: String, hi: String)

  /** One immutable generation dir: its path relative to the table root,
    * tagged min/max stats per tracked column, and its exact row count
    * (−1 = unknown, for generations committed before counts were
    * recorded). Counts cost nothing to collect (the write observes them
    * on the stream it already materializes) and buy metadata-only
    * `COUNT(*)` — the reference's warehouse answers bare counts from
    * micro-partition metadata without scanning, and so does every other
    * table format (Delta's OptimizeMetadataOnlyDeltaQuery).
    */
  case class BucketGen(path: String, stats: Map[String, ColStat],
      rows: Long = -1L, search: Seq[String] = Nil,
      /** Per-column HLL distinct-count sketches (base64 of the
        * datasketches updatable byte array Spark's own `hll_sketch_agg`
        * emits), observed on the same write pass as min/max. Sketches
        * MERGE across generations (register-max union), so the manifest
        * can answer "how many distinct values does the PRUNED selection
        * hold" at plan time — the NDV input Catalyst's CBO needs for
        * join sizing — without a scan. Collected for the stats/search
        * columns whose type [[searchKind]] supports (integral → long
        * domain, string → UTF-8), so an int→long evolution keeps old
        * sketches mergeable with new ones.
        */
      ndv: Map[String, String] = Map.empty,
      /** Per-column KLL quantile sketches (base64, datasketches
        * KllDoublesSketch via [[graft.functions.KllAgg]]), observed on
        * the same write pass for NUMERIC stats columns; mergeable
        * across generations like [[ndv]], they answer rank/quantile
        * questions — metadata-only `approx_percentile` — at plan time.
        */
      kll: Map[String, String] = Map.empty)

  /** One committed change-feed delta: the generation dir holding the rows a
    * commit inserted/updated/deleted in this table, tagged `_change_type`.
    */
  case class ChangeGen(version: Long, path: String)

  /** A bucket holds a LIST of generations — the micro-partition set. Append
    * batches add one narrow-stats generation (so range predicates skip
    * whole files, the Snowflake micro-partition shape); a merge rewrite
    * collapses the bucket back to a single generation.
    *
    * `changes` is the table's retained change feed (one entry per feed
    * commit, ascending version); `feedFrom` is the earliest version the
    * feed can serve COMPLETELY — -1 when no feed is active. A version in
    * [feedFrom, current] with no entry means that commit simply didn't
    * touch this table, which is still a complete feed.
    */
  case class TableState(schemaJson: String, buckets: Map[Long, Seq[BucketGen]],
      changes: Seq[ChangeGen] = Nil, feedFrom: Long = -1L,
      mergeKeys: Seq[String] = Nil, numBuckets: Int = -1,
      statsCols: Seq[String] = Nil, searchCols: Seq[String] = Nil,
      deltas: Map[Long, Seq[BucketGen]] = Map.empty,
      props: Map[String, String] = Map.empty) {
    def schema: StructType = DataType.fromJson(schemaJson).asInstanceOf[StructType]
    def gens: Seq[BucketGen] = buckets.values.flatten.toSeq

    /** Per-bucket MERGE-ON-READ delta generations, in commit order: each
      * holds key-addressed upserts and tombstones (the table schema plus
      * the [[RowOpCol]] marker) a read reconciles onto the bucket's base
      * generations — latest entry per key wins. Only row-level
      * operations on a `rowLevelMode = merge-on-read` table append here;
      * [[collapseDeltas]] (and compact) folds them back into base.
      */
    def deltaGens: Seq[BucketGen] = deltas.values.flatten.toSeq

    /** The table's exact row count from manifest metadata alone — `None`
      * when ANY generation predates count recording, or when
      * merge-on-read deltas are outstanding (tombstones/updates make the
      * base counts non-authoritative; a metadata answer must never be a
      * guess — the caller falls back to scanning).
      */
    def rowCount: Option[Long] = {
      if (deltas.nonEmpty) return None
      val gs = gens
      if (gs.exists(_.rows < 0L)) None else Some(gs.map(_.rows).sum)
    }
  }

  /** Per-commit audit record: what the commit DID (MERGE / APPEND /
    * OVERWRITE / DELETE / UPDATE / COMPACT / RECLUSTER), when, and which
    * tables it touched — the metadata a `history()` surface serves (the
    * warehouse QUERY_HISTORY / Delta DESCRIBE HISTORY shape). Recorded in
    * the version file itself, so history is exactly as durable and as
    * retained as time travel.
    */
  case class CommitInfo(operation: String, timeMs: Long, touched: Seq[String])

  /** version: monotonically increasing commit counter.
    * queryId: streaming query identity of the last committed batch.
    * lastBatch: highest batch id folded in for that query (-1 = none).
    * tables: table name → (schema, bucket → current generation dir).
    * info: audit record of the commit that produced this version
    * (pre-history manifests parse with the empty record).
    */
  case class Manifest(version: Long, queryId: String, lastBatch: Long,
      tables: Map[String, TableState],
      info: CommitInfo = CommitInfo("", -1L, Nil)) {

    def table(name: String): TableState =
      tables.getOrElse(name, TableState("", Map.empty))

    /** All tables' live data paths (GC/time-travel liveness set) —
      * including retained change-feed dirs, which GC must keep alive.
      */
    def allPaths: Seq[String] =
      tables.values.flatMap(ts =>
        ts.gens.map(_.path) ++ ts.deltaGens.map(_.path) ++
          ts.changes.map(_.path)).toSeq

    /** Fold a committed batch in. On a query-id change the batch counter
      * RESTARTS (ids from a fresh checkpoint begin at 0 again); continuing
      * `max` across ids from different checkpoints is exactly the silent
      * skip this field exists to prevent.
      *
      * Change-feed bookkeeping per updated table:
      *   - a feed commit appends its ChangeGen and (if the feed was
      *     inactive) opens the feed at this version;
      *   - a NON-feed data mutation on a table with an active feed breaks
      *     completeness — the feed resets (entries dropped, feedFrom -1)
      *     rather than silently serving a feed with holes. Physical-only
      *     rewrites (compaction) set `logicalChange = false` and leave the
      *     feed intact;
      *   - entries older than [[ChangeRetainVersions]] prune, and
      *     `feedFrom` advances past the pruned prefix so a reader asking
      *     for vacuumed history errors instead of reconstructing wrongly.
      */
    def advance(qid: String, batchId: Long,
        updates: Map[String, TableUpdate], op: String = "WRITE"): Manifest = {
      val nextVersion = version + 1
      val merged = updates.foldLeft(tables) { case (acc, (name, u)) =>
        val prevState = acc.getOrElse(name, TableState("", Map.empty))
        val prev = prevState.buckets
        val next =
          if (u.append)
            u.buckets.foldLeft(prev) { case (bs, (b, gens)) =>
              bs + (b -> (bs.getOrElse(b, Nil) ++ gens))
            }
          else if (u.replaceAll) u.buckets // overwrite: untouched buckets drop
          else prev ++ u.buckets
        val (changes, feedFrom) = u.changePath match {
          case Some(rel) =>
            val opened =
              if (prevState.feedFrom < 0) nextVersion else prevState.feedFrom
            val all = prevState.changes :+ ChangeGen(nextVersion, rel)
            val cutoff = nextVersion -
              intProp(prevState, "changeRetainVersions", ChangeRetainVersions)
            val (pruned, kept) = all.partition(_.version <= cutoff)
            // feedFrom advances only past versions whose entries were
            // ACTUALLY pruned: on a sparse feed (few commits far apart)
            // the retained entries still serve versions older than the
            // nominal cutoff completely — advancing unconditionally would
            // strand consumers restarting from a perfectly valid offset
            val from = pruned.map(_.version).maxOption
              .map(v => math.max(opened, v + 1)).getOrElse(opened)
            (kept, from)
          case None if u.logicalChange && prevState.feedFrom >= 0 =>
            (Nil, -1L) // feed gap: reset instead of serving holes
          case None => (prevState.changes, prevState.feedFrom)
        }
        val (mk, nb) =
          if (u.mergeKeys.nonEmpty) (u.mergeKeys, u.numBuckets)
          else (prevState.mergeKeys, prevState.numBuckets)
        // recorded layout follows the writer, like the merge keys: the
        // latest explicit statsCols/searchCols become the table's
        // defaults so follow-up writers (SQL INSERTs especially) need no
        // out-of-band knowledge of what to track
        val sc = if (u.statsCols.nonEmpty) u.statsCols else prevState.statsCols
        val xc = if (u.searchCols.nonEmpty) u.searchCols else prevState.searchCols
        // merge-on-read bookkeeping: a base overwrite drops every delta
        // (nothing survives to reconcile onto); a collapsing writer
        // names the buckets whose deltas its base rewrite absorbed;
        // delta commits append per bucket in commit order (the order
        // reconciliation resolves latest-wins by)
        val afterClear =
          if (u.replaceAll) Map.empty[Long, Seq[BucketGen]]
          else if (u.clearDeltas.nonEmpty) prevState.deltas -- u.clearDeltas
          else prevState.deltas
        val nextDeltas = u.deltaBuckets.foldLeft(afterClear) {
          case (ds, (b, gens)) => ds + (b -> (ds.getOrElse(b, Nil) ++ gens))
        }
        // a props entry carrying the removal sentinel DELETES the key —
        // `ALTER TABLE … UNSET TBLPROPERTIES` (dropping a row policy,
        // mask, constraint, metric, default, maintenance threshold)
        val pr =
          if (u.props.nonEmpty)
            (prevState.props ++ u.props).filterNot(_._2 == PropRemoved)
          else prevState.props
        acc + (name -> TableState(u.schemaJson, next, changes, feedFrom,
          mk, nb, sc, xc, nextDeltas, pr))
      }
      val nextBatch =
        if (queryId == qid) math.max(lastBatch, batchId) else batchId
      Manifest(nextVersion, qid, nextBatch, merged,
        CommitInfo(op, System.currentTimeMillis(), updates.keys.toSeq.sorted))
    }
  }

  /** Z-order rank resolution: each clustering dimension quantile-ranks
    * into 2^ZBits levels before the bit interleave — fine enough that an
    * equal-count curve cut (any realistic slice count) never collapses
    * cells, coarse enough that the rank expression stays one bounded
    * codegen'd sum per dimension.
    */
  val ZBits = 6
  val ZLevels: Int = 1 << ZBits

  /** Change-feed retention: entries this many versions back are served;
    * older ones prune (and their dirs GC) — the CDF analogue of the
    * snapshot retention window, sized larger because feeds are deltas
    * (size tracks churn, not table size).
    */
  val ChangeRetainVersions = 8

  /** One table's contribution to a commit: its (possibly evolved) schema and
    * the generation dirs written this batch — replacing each touched
    * bucket's list (merge rewrite) or appending to it (append batch).
    * `changePath` is the change-feed dir recorded for this commit (feed
    * batches only); `logicalChange = false` marks physical-only rewrites
    * (compaction) that must not break an active feed. `mergeKeys` /
    * `numBuckets` record the writer's bucketing in the manifest (Nil/-1 =
    * leave the table's recorded layout unchanged — physical rewrites),
    * which is what lets a READER prune a key-equality predicate to the
    * single covering bucket without being told the layout out of band.
    */
  case class TableUpdate(schemaJson: String, buckets: Map[Long, Seq[BucketGen]],
    append: Boolean, changePath: Option[String] = None,
    logicalChange: Boolean = true,
    mergeKeys: Seq[String] = Nil, numBuckets: Int = -1,
    replaceAll: Boolean = false,
    statsCols: Seq[String] = Nil, searchCols: Seq[String] = Nil,
    deltaBuckets: Map[Long, Seq[BucketGen]] = Map.empty,
    clearDeltas: Seq[Long] = Nil,
    props: Map[String, String] = Map.empty)

  val empty: Manifest = Manifest(0L, "", -1L, Map.empty)

  /** One commit's DELTA log entry — what a non-checkpoint version file
    * records instead of a full snapshot: exactly the [[Manifest.advance]]
    * inputs (writer identity, operation, per-table updates) plus the
    * commit timestamp, so replaying the entry through `advance` itself
    * reconstructs the manifest bit-for-bit. The Delta-log shape: commit
    * cost tracks the COMMIT's size (touched generations), not the
    * table's, and every [[CheckpointInterval]]-th commit writes a full
    * snapshot so reads fold at most an interval of deltas.
    */
  private[sources] case class CommitDelta(version: Long, queryId: String,
    batchId: Long, op: String, timeMs: Long,
    updates: Map[String, TableUpdate])

  /** Fold one delta entry onto its base snapshot — the SAME `advance`
    * the writer ran, with the recorded commit timestamp restored (the
    * only non-deterministic input).
    */
  private def applyDelta(prev: Manifest, d: CommitDelta): Manifest = {
    require(prev.version == d.version - 1,
      s"delta v${d.version} cannot fold onto snapshot v${prev.version}")
    val next = prev.advance(d.queryId, d.batchId, d.updates, d.op)
    next.copy(info = next.info.copy(timeMs = d.timeMs))
  }

  // ---- serialization (JSON via the json4s that ships in Spark) ----

  private def genJson(g: BucketGen): JObject = JObject(
    List(
      "path" -> JString(g.path),
      "rows" -> JLong(g.rows),
      "stats" -> JObject(g.stats.toSeq.sortBy(_._1).map { case (c, s) =>
        c -> (JArray(List(JString(s.kind), JString(s.lo), JString(s.hi)))
          : JValue)
      }.toList)) ++
    (if (g.search.isEmpty) Nil
     else List("search" -> (JArray(g.search.map(JString(_)).toList): JValue))) ++
    (if (g.ndv.isEmpty) Nil
     else List("ndv" -> (JObject(g.ndv.toSeq.sortBy(_._1).map {
       case (c, s) => c -> (JString(s): JValue) }.toList): JValue))) ++
    (if (g.kll.isEmpty) Nil
     else List("kll" -> (JObject(g.kll.toSeq.sortBy(_._1).map {
       case (c, s) => c -> (JString(s): JValue) }.toList): JValue))))

  private def bucketsJson(bs: Map[Long, Seq[BucketGen]]): JObject =
    JObject(bs.toSeq.sortBy(_._1).map { case (b, gens) =>
      b.toString -> (JArray(gens.map(genJson).toList): JValue)
    }.toList)

  private def propsJson(ps: Map[String, String]): JObject =
    JObject(ps.toSeq.sorted.map { case (k, v) => k -> (JString(v): JValue) }.toList)

  /** Render a full snapshot. With `ckptRef` set the per-table
    * generation lists are NOT serialized inline — they live in the
    * referenced parquet checkpoint ([[writeCkpt]]) and the JSON carries
    * only the metadata header (schemas, feeds, layout, props) plus the
    * reference — so snapshot cost stops being O(table) driver-side JSON
    * (the Delta parquet-checkpoint shape).
    */
  private def render(m: Manifest, ckptRef: Option[String] = None): String = {
    val tables = JObject(m.tables.toSeq.sortBy(_._1).map { case (name, ts) =>
      name -> JObject(
        List(
          "schema" -> (JString(ts.schemaJson): JValue),
          "changes" -> (JArray(ts.changes.map(c => JObject(
            "version" -> JLong(c.version),
            "path" -> JString(c.path))).toList): JValue),
          "feedFrom" -> (JLong(ts.feedFrom): JValue),
          "mergeKeys" -> (JArray(ts.mergeKeys.map(JString(_)).toList): JValue),
          "numBuckets" -> (JLong(ts.numBuckets.toLong): JValue),
          "statsCols" -> (JArray(ts.statsCols.map(JString(_)).toList): JValue),
          "searchCols" -> (JArray(ts.searchCols.map(JString(_)).toList): JValue),
          "props" -> (propsJson(ts.props): JValue)) ++
        (if (ckptRef.isEmpty)
           List("buckets" -> (bucketsJson(ts.buckets): JValue),
             "deltas" -> (bucketsJson(ts.deltas): JValue))
         else Nil))
    }.toList)
    JsonMethods.pretty(JsonMethods.render(JObject(
      List(
        "version" -> (JLong(m.version): JValue),
        "queryId" -> (JString(m.queryId): JValue),
        "lastBatch" -> (JLong(m.lastBatch): JValue),
        "op" -> (JString(m.info.operation): JValue),
        "ts" -> (JLong(m.info.timeMs): JValue),
        "touched" -> (JArray(m.info.touched.map(JString(_)).toList): JValue),
        "tables" -> (tables: JValue)) ++
      ckptRef.map(r => "ckpt" -> (JString(r): JValue)).toList)))
  }

  private def parse(text: String, root: File): Manifest = {
    val j = JsonMethods.parse(text)
    def str(v: JValue): String = v match {
      case JString(s) => s
      case other => other.values.toString
    }
    def long(v: JValue): Long = v match {
      case JLong(n) => n
      case JInt(n) => n.toLong
      case other => other.values.toString.toLong
    }
    def gen(gv: JValue): BucketGen = {
      val stats = (gv \ "stats") match {
        case JObject(ss) => ss.collect {
          case (c, JArray(List(kind, lo, hi))) =>
            c -> ColStat(str(kind), str(lo), str(hi))
          // pre-tagging layout: only numeric/temporal columns ever
          // recorded stats, so untagged bounds ARE numeric-domain
          case (c, JArray(List(lo, hi))) => c -> ColStat("num", str(lo), str(hi))
        }.toMap
        case _ => Map.empty[String, ColStat]
      }
      val rows = (gv \ "rows") match {
        case JNothing => -1L // pre-count manifests: unknown, never guessed
        case v => long(v)
      }
      val search = (gv \ "search") match {
        case JArray(cs) => cs.map(str)
        case _ => Nil // pre-search-index manifests: no sidecars recorded
      }
      val ndv = (gv \ "ndv") match {
        case JObject(ns) => ns.collect { case (c, JString(s)) => c -> s }.toMap
        case _ => Map.empty[String, String] // pre-NDV manifests
      }
      val kll = (gv \ "kll") match {
        case JObject(ns) => ns.collect { case (c, JString(s)) => c -> s }.toMap
        case _ => Map.empty[String, String]
      }
      BucketGen(str(gv \ "path"), stats, rows, search, ndv, kll)
    }
    def bucketsOf(v: JValue): Map[Long, Seq[BucketGen]] = v match {
      case JObject(bs) => bs.map { case (b, gvs) =>
        b.toLong -> (gvs match {
          case JArray(gens) => gens.map(gen)
          case single => Seq(gen(single))
        })
      }.toMap
      case _ => Map.empty[Long, Seq[BucketGen]]
    }
    def propsOf(v: JValue): Map[String, String] = v match {
      case JObject(ps) => ps.collect { case (k, JString(s)) => k -> s }.toMap
      case _ => Map.empty
    }
    val tables = (j \ "tables") match {
      case JObject(fields) => fields.map { case (name, tv) =>
        val buckets = bucketsOf(tv \ "buckets")
        val changes = (tv \ "changes") match {
          case JArray(cs) => cs.map(cv =>
            ChangeGen(long(cv \ "version"), str(cv \ "path")))
          case _ => Nil
        }
        val feedFrom = (tv \ "feedFrom") match {
          case JNothing => -1L
          case v => long(v)
        }
        val mergeKeys = (tv \ "mergeKeys") match {
          case JArray(ks) => ks.map(str)
          case _ => Nil
        }
        val numBuckets = (tv \ "numBuckets") match {
          case JNothing => -1
          case v => long(v).toInt
        }
        def cols(field: String): Seq[String] = (tv \ field) match {
          case JArray(cs) => cs.map(str)
          case _ => Nil
        }
        name -> TableState(str(tv \ "schema"), buckets, changes, feedFrom,
          mergeKeys, numBuckets, cols("statsCols"), cols("searchCols"),
          bucketsOf(tv \ "deltas"), propsOf(tv \ "props"))
      }.toMap
      case _ => Map.empty[String, TableState]
    }
    val info = CommitInfo(
      (j \ "op") match { case JString(s) => s; case _ => "" },
      (j \ "ts") match { case JNothing => -1L; case v => long(v) },
      (j \ "touched") match { case JArray(ts) => ts.map(str); case _ => Nil })
    // a columnar snapshot carries its generation lists in a parquet
    // checkpoint sidecar instead of inline JSON
    val withGens = (j \ "ckpt") match {
      case JString(ref) =>
        val byTable = readCkpt(root, ref)
        tables.map { case (name, ts) =>
          val (bs, ds) = byTable.getOrElse(name,
            (Map.empty[Long, Seq[BucketGen]], Map.empty[Long, Seq[BucketGen]]))
          name -> ts.copy(buckets = bs, deltas = ds)
        }
      case _ => tables
    }
    Manifest(long(j \ "version"), str(j \ "queryId"), long(j \ "lastBatch"),
      withGens, info)
  }

  private def renderDelta(d: CommitDelta): String = {
    val updates = JObject(d.updates.toSeq.sortBy(_._1).map { case (name, u) =>
      name -> JObject(
        "schema" -> JString(u.schemaJson),
        "append" -> JBool(u.append),
        "replaceAll" -> JBool(u.replaceAll),
        "logicalChange" -> JBool(u.logicalChange),
        "buckets" -> bucketsJson(u.buckets),
        "changePath" -> u.changePath.map(JString(_)).getOrElse(JNothing),
        "mergeKeys" -> JArray(u.mergeKeys.map(JString(_)).toList),
        "numBuckets" -> JLong(u.numBuckets.toLong),
        "statsCols" -> JArray(u.statsCols.map(JString(_)).toList),
        "searchCols" -> JArray(u.searchCols.map(JString(_)).toList),
        "deltaBuckets" -> bucketsJson(u.deltaBuckets),
        "clearDeltas" -> JArray(u.clearDeltas.map(JLong(_)).toList),
        "props" -> propsJson(u.props))
    }.toList)
    JsonMethods.pretty(JsonMethods.render(JObject(
      "version" -> JLong(d.version),
      "queryId" -> JString(d.queryId),
      "batchId" -> JLong(d.batchId),
      "op" -> JString(d.op),
      "ts" -> JLong(d.timeMs),
      "delta" -> updates)))
  }

  private def parseDelta(j: JValue): CommitDelta = {
    def str(v: JValue): String = v match {
      case JString(s) => s
      case other => other.values.toString
    }
    def long(v: JValue): Long = v match {
      case JLong(n) => n
      case JInt(n) => n.toLong
      case other => other.values.toString.toLong
    }
    def gen(gv: JValue): BucketGen = {
      val stats = (gv \ "stats") match {
        case JObject(ss) => ss.collect {
          case (c, JArray(List(kind, lo, hi))) =>
            c -> ColStat(str(kind), str(lo), str(hi))
        }.toMap
        case _ => Map.empty[String, ColStat]
      }
      val search = (gv \ "search") match {
        case JArray(cs) => cs.map(str)
        case _ => Nil
      }
      val ndv = (gv \ "ndv") match {
        case JObject(ns) => ns.collect { case (c, JString(s)) => c -> s }.toMap
        case _ => Map.empty[String, String]
      }
      val kll = (gv \ "kll") match {
        case JObject(ns) => ns.collect { case (c, JString(s)) => c -> s }.toMap
        case _ => Map.empty[String, String]
      }
      BucketGen(str(gv \ "path"), stats, long(gv \ "rows"), search, ndv, kll)
    }
    val updates = (j \ "delta") match {
      case JObject(fields) => fields.map { case (name, uv) =>
        def cols(field: String): Seq[String] = (uv \ field) match {
          case JArray(cs) => cs.map(str)
          case _ => Nil
        }
        def bucketsOf(v: JValue): Map[Long, Seq[BucketGen]] = v match {
          case JObject(bs) => bs.map { case (b, gvs) =>
            b.toLong -> (gvs match {
              case JArray(gens) => gens.map(gen)
              case single => Seq(gen(single))
            })
          }.toMap
          case _ => Map.empty[Long, Seq[BucketGen]]
        }
        name -> TableUpdate(
          str(uv \ "schema"),
          bucketsOf(uv \ "buckets"),
          append = (uv \ "append") == JBool(true),
          changePath = (uv \ "changePath") match {
            case JString(s) => Some(s)
            case _ => None
          },
          logicalChange = (uv \ "logicalChange") != JBool(false),
          mergeKeys = cols("mergeKeys"),
          numBuckets = long(uv \ "numBuckets").toInt,
          replaceAll = (uv \ "replaceAll") == JBool(true),
          statsCols = cols("statsCols"), searchCols = cols("searchCols"),
          deltaBuckets = bucketsOf(uv \ "deltaBuckets"),
          clearDeltas = (uv \ "clearDeltas") match {
            case JArray(vs) => vs.map(long)
            case _ => Nil
          },
          props = (uv \ "props") match {
            case JObject(ps) => ps.collect { case (k, JString(s)) => k -> s }.toMap
            case _ => Map.empty
          })
      }.toMap
      case _ => Map.empty[String, TableUpdate]
    }
    CommitDelta(long(j \ "version"), str(j \ "queryId"),
      long(j \ "batchId"), str(j \ "op"), long(j \ "ts"), updates)
  }

  /** Full snapshots at or under this many generation entries serialize
    * inline (zero-dependency JSON reads — every small table, every
    * test fixture, every legacy manifest); past it the generation lists
    * write as a COLUMNAR parquet checkpoint and the version file keeps
    * only the metadata header + a reference — snapshot cost stops being
    * O(table) pretty-printed JSON on the driver (Delta's
    * parquet-checkpoint shape).
    */
  val CheckpointInlineMax = 512

  private val ckptCache = scala.collection.concurrent.TrieMap.empty[String,
    Map[String, (Map[Long, Seq[BucketGen]], Map[Long, Seq[BucketGen]])]]

  private def ckptSchema = StructType(Seq(
    org.apache.spark.sql.types.StructField("table",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("bucket",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("kind",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("pos",
      org.apache.spark.sql.types.IntegerType),
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("rows",
      org.apache.spark.sql.types.LongType),
    org.apache.spark.sql.types.StructField("stats",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("search",
      org.apache.spark.sql.types.ArrayType(
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("ndv",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType)),
    org.apache.spark.sql.types.StructField("kll",
      org.apache.spark.sql.types.MapType(
        org.apache.spark.sql.types.StringType,
        org.apache.spark.sql.types.StringType))))

  /** Serialize every table's generation lists (base + delta) as one
    * parquet checkpoint dir under `_ckpt/`; returns the manifest-root
    * relative reference the snapshot JSON records.
    */
  private def writeCkpt(root: File, m: Manifest, nonce: String): String = {
    val spark = SparkSession.active
    val rows = new java.util.ArrayList[org.apache.spark.sql.Row]()
    m.tables.foreach { case (name, ts) =>
      def add(kind: String, bs: Map[Long, Seq[BucketGen]]): Unit =
        bs.foreach { case (b, gens) =>
          gens.zipWithIndex.foreach { case (g, i) =>
            val statsJson = JsonMethods.compact(JsonMethods.render(JObject(
              g.stats.toSeq.sortBy(_._1).map { case (c, s) =>
                c -> (JArray(List(JString(s.kind), JString(s.lo),
                  JString(s.hi))): JValue)
              }.toList)))
            rows.add(org.apache.spark.sql.Row(name, b, kind, i, g.path,
              g.rows, statsJson, g.search, g.ndv, g.kll)): Unit
          }
        }
      add("base", ts.buckets)
      add("delta", ts.deltas)
    }
    val rel = s"_ckpt/ckpt-v${m.version}-$nonce"
    spark.createDataFrame(rows, ckptSchema)
      .write.mode("overwrite").parquet(new File(root, rel).toString)
    rel
  }

  /** Load (and cache — checkpoint dirs are immutable) one parquet
    * checkpoint's generation lists, grouped per table.
    */
  private def readCkpt(root: File, ref: String)
      : Map[String, (Map[Long, Seq[BucketGen]], Map[Long, Seq[BucketGen]])] = {
    val key = new File(root, ref).getCanonicalPath
    ckptCache.getOrElseUpdate(key, {
      val spark = SparkSession.active
      val rows = spark.read.schema(ckptSchema).parquet(key).collect()
      rows.groupBy(_.getString(0)).map { case (table, rs) =>
        def side(kind: String): Map[Long, Seq[BucketGen]] =
          rs.filter(_.getString(2) == kind).groupBy(_.getLong(1))
            .map { case (b, gs) =>
              b -> gs.sortBy(_.getInt(3)).toSeq.map { r =>
                val stats = JsonMethods.parse(r.getString(6)) match {
                  case JObject(ss) => ss.collect {
                    case (c, JArray(List(JString(k), JString(lo),
                        JString(hi)))) => c -> ColStat(k, lo, hi)
                  }.toMap
                  case _ => Map.empty[String, ColStat]
                }
                BucketGen(r.getString(4), stats, r.getLong(5),
                  r.getSeq[String](7),
                  if (r.isNullAt(8)) Map.empty
                  else r.getMap[String, String](8).toMap,
                  if (r.isNullAt(9)) Map.empty
                  else r.getMap[String, String](9).toMap)
              }
            }
        table -> (side("base"), side("delta"))
      }
    })
  }

  /** One version file, either shape: Right = full snapshot (checkpoint
    * commits, DDL commits, and every pre-checkpointing manifest — the
    * legacy layout keeps parsing), Left = delta log entry.
    */
  private def parseEntry(text: String,
      root: File): Either[CommitDelta, Manifest] = {
    val j = JsonMethods.parse(text)
    (j \ "delta") match {
      case _: JObject => Left(parseDelta(j))
      case _ => Right(parse(text, root))
    }
  }

  /** Reconstruct the manifest AT version `v` from the log: parse the
    * version file; a delta entry folds onto the reconstruction of `v-1`
    * (walk bounded by [[CheckpointInterval]] — a full snapshot is never
    * further back than one interval plus any interleaved DDL fulls).
    * None = the version (or part of its chain) aged out of retention.
    */
  private def reconstruct(root: File, v: Long): Option[Manifest] = {
    val f = versionFile(root, v)
    if (!f.exists) None
    else parseEntry(new String(Files.readAllBytes(f.toPath), UTF_8), root) match {
      case Right(full) => Some(full)
      case Left(delta) =>
        (if (v <= 1) Some(empty) else reconstruct(root, v - 1))
          .map(applyDelta(_, delta))
    }
  }

  /** The latest committed manifest. The per-version file is the COMMIT
    * POINT (created exclusively, see [[commit]]); the live pointer is only
    * a cache — a FULL snapshot refreshed on checkpoint commits — so the
    * read rolls FORWARD from the hint, probing `.v{hint+1}, .v{hint+2}…`
    * and folding delta entries until the newest committed version. The
    * probe loop is bounded by the checkpoint interval plus the handful of
    * in-flight writers.
    */
  def read(root: File): Option[Manifest] = {
    // an open transaction's overlay IS the root's current state for
    // every reader and writer in this process — read-your-own-writes
    // inside the envelope, nothing visible on disk until commitTxn
    activeTxn(root) match {
      case Some(t) => return Some(t.synchronized(t.overlay))
      case None =>
    }
    // a session with graft.session.branch set operates on that BRANCH's
    // lineage (write-audit-publish): its manifest is the current state
    activeBranch(root).foreach { b =>
      return Some(readBranch(root, b))
    }
    readDisk(root)
  }

  /** The latest MAIN-lineage manifest from disk, ignoring any session
    * branch (the publish gate and branch forking read through this).
    */
  private def readDisk(root: File): Option[Manifest] = {
    val f = new File(root, ManifestName)
    // only a FULL snapshot can seed the fold — a pointer holding a delta
    // entry (possible after operator interference; a crashed writer
    // never leaves one) is ignored rather than misfolded
    val hint: Option[Manifest] =
      if (!f.exists) None
      else scala.util.Try(
        parseEntry(new String(Files.readAllBytes(f.toPath), UTF_8), root))
        .toOption.flatMap {
          case Right(full) => Some(full)
          case Left(_) => None
        }
    var latest = hint
    var v = hint.map(_.version + 1).getOrElse {
      // no usable pointer: fold from the oldest retained log entry — by
      // the sweep's anchor invariant that entry is a checkpoint (or v1,
      // which folds from the empty manifest)
      val present = Option(root.listFiles).getOrElse(Array.empty)
        .map(_.getName).filter(_.startsWith(ManifestName + ".v"))
        .map(_.stripPrefix(ManifestName + ".v"))
        .filter(s => s.nonEmpty && s.forall(_.isDigit)).map(_.toLong)
      if (present.nonEmpty) present.min
      // a fresh root whose FIRST commit is a decided-but-unpromoted
      // cross-root prepare still recovers (the fold loop's promote arm)
      else if (preparedFile(root, 1L).exists) 1L
      else return None
    }
    var vf = versionFile(root, v)
    // the promotePrepared arm is the cross-root envelope's recovery
    // path: a prepared version whose coordinator DECIDED materializes
    // under any reader, so a crash mid-promote can't strand one root a
    // version behind its siblings (one cheap exists-probe when nothing
    // is prepared)
    while (vf.exists || promotePrepared(root, v)) {
      val entry = parseEntry(new String(Files.readAllBytes(vf.toPath), UTF_8), root)
      latest = entry match {
        case Right(full) => Some(full)
        case Left(delta) => Some(applyDelta(
          latest.getOrElse(empty), delta))
      }
      v += 1
      vf = versionFile(root, v)
    }
    latest
  }

  /** Thrown when another writer committed this version first. The loser's
    * written generation dirs are orphans the next GC collects; retry by
    * re-reading the latest manifest and re-deriving the batch against it
    * (what [[mergeBatch]] does internally).
    */
  class ConcurrentCommitException(version: Long)
    extends RuntimeException(
      s"version $version was committed by a concurrent writer")

  // ---- writable branches (write-audit-publish) ----
  //
  // The Iceberg-WAP shape the named refs lack: a BRANCH is a persisted
  // side lineage forked from the main head. A session with
  // `graft.session.branch = <name>` reads and writes the branch — every
  // verb (INSERT/MERGE/owner verbs/streams) commits onto the branch
  // file, main stays byte-untouched, and OTHER sessions see main. The
  // audit step is just reading the branch (same conf). `branchPublish`
  // FAST-FORWARDS: if main still sits at the fork version, the whole
  // branch squashes into ONE main commit (change-feed entries netted,
  // exactly like the envelope's publishable()); if main advanced, the
  // publish refuses with nothing published — re-create and re-run, the
  // same optimistic contract every writer follows. GC safety: gc() never
  // runs under an active branch session, and main-side sweeps treat
  // every branch manifest's dirs as live; dropping a branch orphans its
  // unpublished dirs for the next sweep.

  /** Session conf selecting the branch lineage (the `spark.wap.branch`
    * shape): every read and commit on this root routes to the branch.
    */
  val BranchConf = "graft.session.branch"

  private def branchFile(root: File, name: String): File =
    new File(root, s"BRANCH.$name")

  private def branchBaseFile(root: File, name: String): File =
    new File(root, s"BRANCH.$name.base")

  private val branchLocks =
    scala.collection.concurrent.TrieMap.empty[String, Object]

  private def branchLock(root: File, name: String): Object =
    branchLocks.getOrElseUpdate(root.getCanonicalPath + "#" + name,
      new Object)

  /** Publish must commit to MAIN while the caller's session may still
    * carry the branch conf — thread-local bypass for its inner commit.
    */
  private val branchBypass = new ThreadLocal[Boolean] {
    override def initialValue(): Boolean = false
  }

  /** The session's active branch on `root`, when its file exists. */
  private def activeBranch(root: File): Option[String] =
    if (branchBypass.get) None
    else org.apache.spark.sql.SparkSession.getActiveSession
      .flatMap(s => scala.util.Try(
        s.conf.getOption(BranchConf)).toOption.flatten)
      .filter(n => branchFile(root, n).exists)

  /** The session's active branch name (cache-identity input for
    * [[GraftSqlTable]]: a branch read must never equal a main read).
    */
  private[graft] def sessionBranch(root: File): Option[String] =
    activeBranch(root)

  private def branchVersionFile(root: File, name: String, v: Long): File =
    new File(root, s"BRANCH.$name.v$v")

  /** The branch head: the pointer file is a CACHE (a full snapshot);
    * the per-version files are the COMMIT POINTS — roll forward from
    * the pointer probing `.v{v+1}, .v{v+2}…` (each a full snapshot, so
    * the newest present file wins), exactly the main log's shape.
    */
  private def readBranch(root: File, name: String): Manifest = {
    var latest = parse(new String(
      Files.readAllBytes(branchFile(root, name).toPath), UTF_8), root)
    var vf = branchVersionFile(root, name, latest.version + 1)
    while (vf.exists) {
      latest = parse(new String(Files.readAllBytes(vf.toPath), UTF_8), root)
      vf = branchVersionFile(root, name, latest.version + 1)
    }
    latest
  }

  /** Commit a branch head. The per-version file is created with
    * link(2) — the same exclusive-creation CAS the main log uses — so a
    * concurrent writer in ANOTHER process loses with
    * ConcurrentCommitException instead of silently overwriting (an
    * atomic move detects nothing). Generation lists spill to a columnar
    * checkpoint past the same inline cap as the main log: a branch over
    * a 100k-generation table must not rewrite a megabyte manifest per
    * commit. The pointer refresh after the CAS is cache maintenance —
    * readers roll forward from it regardless.
    */
  private def writeBranchFile(root: File, name: String, m: Manifest)
      : Unit = {
    val nonce = newNonce()
    val genCount =
      m.tables.values.map(ts => ts.gens.size + ts.deltaGens.size).sum
    val ckptRef =
      if (genCount > CheckpointInlineMax &&
          org.apache.spark.sql.SparkSession.getActiveSession.nonEmpty)
        Some(writeCkpt(root, m, nonce))
      else None
    val body = render(m, ckptRef)
    val tmp = new File(root, s".BRANCH.$name.$nonce.tmp")
    Files.write(tmp.toPath, body.getBytes(UTF_8))
    try Files.createLink(
      branchVersionFile(root, name, m.version).toPath, tmp.toPath): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(m.version)
    } finally Files.deleteIfExists(tmp.toPath)
    val ptmp = new File(root, s".BRANCH.$name.$nonce.ptr.tmp")
    Files.write(ptmp.toPath, body.getBytes(UTF_8))
    Files.move(ptmp.toPath, branchFile(root, name).toPath,
      StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING): Unit
  }

  /** Branch POINTER names on `root` (BRANCH.<name> — branch names carry
    * no dots, which separates pointers from .v<k>/.base/.tmp siblings).
    */
  private def branchNames(root: File): Seq[String] =
    Option(root.listFiles).getOrElse(Array.empty).toSeq
      .map(_.getName)
      .filter(n => n.startsWith("BRANCH.") &&
        !n.stripPrefix("BRANCH.").contains('.'))
      .map(_.stripPrefix("BRANCH."))
      .sorted

  /** All live branch HEAD manifests on `root` — their paths are GC-live
    * (superseded intra-branch states are not: their dirs sweep like any
    * other superseded generation).
    */
  private def branchManifests(root: File): Seq[Manifest] =
    branchNames(root)
      .flatMap(n => scala.util.Try(readBranch(root, n)).toOption)

  /** Fork a writable branch from the MAIN head (exclusive creation —
    * the link(2) CAS refuses a concurrent same-name fork). Returns the
    * fork version the publish gate fast-forwards against.
    */
  def branchCreate(root: File, name: String): Long = {
    require(name.nonEmpty &&
      name.forall(c => c.isLetterOrDigit || c == '_' || c == '-'),
      s"branch name '$name' must be alphanumeric/_/- only")
    Files.createDirectories(root.toPath)
    val base = readDisk(root).getOrElse(empty)
    val nonce = newNonce()
    val genCount =
      base.tables.values.map(ts => ts.gens.size + ts.deltaGens.size).sum
    val ckptRef = // same inline cap as the main log (see writeBranchFile)
      if (genCount > CheckpointInlineMax &&
          org.apache.spark.sql.SparkSession.getActiveSession.nonEmpty)
        Some(writeCkpt(root, base, nonce))
      else None
    val tmp = new File(root, s".BRANCH.$name.$nonce.tmp")
    Files.write(tmp.toPath, render(base, ckptRef).getBytes(UTF_8))
    try Files.createLink(branchFile(root, name).toPath, tmp.toPath): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new IllegalArgumentException(
          s"branch '$name' already exists on $root")
    } finally Files.deleteIfExists(tmp.toPath)
    Files.write(branchBaseFile(root, name).toPath,
      base.version.toString.getBytes(UTF_8))
    base.version
  }

  /** Publish: squash the branch into ONE main commit (CDF entries netted
    * per keyed table). Fast-forwards when main still sits at the fork;
    * when main has advanced, the publish REBASES onto the new head iff
    * the branch's touched tables are provably DISJOINT from every main
    * commit since the fork (each commit's audit `touched` record is the
    * proof) — a genuine overlap is refused with NOTHING published. The
    * branch is consumed only on success.
    */
  def branchPublish(root: File, name: String): Long = {
    require(branchFile(root, name).exists,
      s"no branch '$name' on $root")
    val branch = readBranch(root, name)
    val base = new String(Files.readAllBytes(
      branchBaseFile(root, name).toPath), UTF_8).trim.toLong
    // the op marker pins WHICH branch head got published
    val marker = s"PUBLISH:$name@${branch.version}"
    def refuse(headV: Long, why: String): Nothing =
      throw new FinalConflict(headV, Some(
        s"branch '$name' forked at v$base but main is at v$headV " +
          s"and $why — publish refused, NOTHING was published; " +
          "re-create the branch from the new head and re-run its script"))
    // the loop reads and commits MAIN while the caller's session may
    // still carry the branch conf
    branchBypass.set(true)
    val publishedV = try commitLoop(root, sweep = false) { head =>
      // crash-recovery idempotency: publish is commit-then-drop, so a
      // crash BETWEEN the two leaves the branch behind with main
      // already past its base. If some commit since the fork carries
      // THIS branch head's own marker (a same-named successor branch
      // can't forge it — branchCreate refuses while this one lives,
      // and any earlier same-name publish sits at a version ≤ this
      // fork's base), the publish DID land: consume the branch and
      // return that version. The marker's @<branchV> pin is what makes
      // this safe — commits made to the still-live branch AFTER a
      // crashed publish change branch.version, the marker no longer
      // matches, and those commits are never silently dropped.
      val ops = (base + 1 to head.version).map(v => v -> entryOp(root, v))
      val landed = ops.collectFirst { case (v, Some(op)) if op == marker => v }
      if (landed.isEmpty)
        for ((v, Some(op)) <- ops if op.startsWith(s"PUBLISH:$name@"))
          throw new IllegalStateException(
            s"main v$v is '$op' but branch '$name' has advanced to " +
              s"v${branch.version} since that publish landed — its " +
              "post-publish commits were never published; re-create " +
              "a branch from the new head and re-apply them")
      landed match {
        case Some(v) => Finish(v)
        // audit-only branch: nothing to publish
        case None if branch.version == base => Finish(base)
        case None =>
          // the branch's touched set, diffed against the FORK state (on
          // the fast-forward path head IS the fork); includes branch-side
          // drops
          val fork =
            if (head.version == base) head
            else if (base == 0L) empty
            else reconstruct(root, base).getOrElse(refuse(head.version,
              s"the fork manifest v$base has aged out, so the branch's " +
                "tables cannot be proven disjoint from main's later commits"))
          val branchTouched = (branch.tables.keySet ++ fork.tables.keySet)
            .toSeq.sorted
            .filter(n => branch.tables.get(n) != fork.tables.get(n))
          if (head.version > base) {
            // disjoint-table rebase gate
            val mainTouched = (base + 1 to head.version).flatMap { v =>
              entryTouched(root, v).getOrElse(refuse(head.version,
                s"main's v$v audit record is unavailable, so the branch's " +
                  "tables cannot be proven disjoint from it"))
            }.toSet
            val overlap = branchTouched.filter(mainTouched)
            if (overlap.nonEmpty) refuse(head.version,
              s"tables [${overlap.mkString(", ")}] were modified by BOTH " +
                "the branch and main since the fork")
          }
          val publishV = head.version + 1
          val remapped = branch.tables.collect {
            case (n, ts) if branchTouched.contains(n) =>
              val (above, below) = ts.changes.partition(_.version > base)
              val collapsed =
                if (above.size < 2 || ts.mergeKeys.isEmpty)
                  above.map(_.copy(version = publishV))
                else netChanges(root, n, ts, above, publishV)
              val feedFrom =
                if (ts.feedFrom > publishV) publishV else ts.feedFrom
              n -> ts.copy(changes = below ++ collapsed, feedFrom = feedFrom)
          }
          val droppedOnBranch = branchTouched.filterNot(branch.tables.contains)
          // (queryId, lastBatch) is the SINGLE-SLOT replay watermark of the
          // most recent batch commit — on main, every later commit already
          // overwrites it, so the rebase keeps the HEAD's (main's last
          // commit is the most recent on the published lineage), merging
          // the batch floor when both sides advanced the SAME query; a
          // fast-forward keeps the branch's, which IS the newest
          val batch =
            if (head.version == base) (branch.queryId, branch.lastBatch)
            else if (head.queryId == branch.queryId)
              (head.queryId, math.max(head.lastBatch, branch.lastBatch))
            else (head.queryId, head.lastBatch)
          // a concurrent main writer landing between the head read and
          // the commit takes publishV: the loop re-reads and re-gates
          Publish(marker, Swap(head.tables -- droppedOnBranch ++ remapped,
            branchTouched, Some(batch)), publishV)
      }
    } finally branchBypass.set(false)
    branchDrop(root, name): Unit
    // an audit-only branch published nothing to sweep
    if (publishedV != base) gc(root, readDisk(root).getOrElse(empty))
    publishedV
  }

  /** Drop a branch: its unpublished data dirs orphan for the next main
    * sweep. Returns false when absent.
    */
  def branchDrop(root: File, name: String): Boolean = {
    val existed = branchFile(root, name).exists
    Files.deleteIfExists(branchFile(root, name).toPath)
    Files.deleteIfExists(branchBaseFile(root, name).toPath)
    Option(root.listFiles).getOrElse(Array.empty) // per-version commit files
      .filter(_.getName.matches(
        s"BRANCH.${java.util.regex.Pattern.quote(name)}\\.v\\d+"))
      .foreach(f => Files.deleteIfExists(f.toPath))
    existed
  }

  /** Live branches on `root` with (name, fork version, head version).
    * The head read is Try-guarded (mirroring [[branchManifests]]): a
    * concurrent branch_drop between the name listing and the pointer
    * read just OMITS the vanished branch instead of throwing.
    */
  def branches(root: File): Seq[(String, Long, Long)] =
    branchNames(root)
      .flatMap { n =>
        val base = scala.util.Try(new String(Files.readAllBytes(
          branchBaseFile(root, n).toPath), UTF_8).trim.toLong).getOrElse(-1L)
        scala.util.Try(readBranch(root, n).version).toOption
          .map(v => (n, base, v))
      }

  // ---- multi-statement transaction envelope ----
  //
  // The reference's runbook executes its load script as ONE session
  // (main.sql: staging COPY → canonical MERGEs → anomaly MERGE), so a
  // crash mid-script publishes nothing and readers never see a header
  // without its lines. graft's per-statement commits are already atomic
  // per verb; the envelope batches consecutive verbs into ONE manifest
  // swap: begin() snapshots the root, every statement commits into an
  // in-memory OVERLAY (read-your-own-writes — later statements resolve
  // tables the earlier ones wrote, exactly like the runbook), and
  // commitTxn() publishes the final state as a SINGLE version file (a
  // full snapshot — delta entries replay per-statement advances, which
  // the collapsed commit deliberately does not preserve). A crash or
  // rollback() before that point leaves the disk byte-identical; the
  // statements' data dirs are orphans a later GC collects. Scope: the
  // envelope is per-root and process-wide — the coordinating runbook
  // pattern — and a conflicting external commit surfaces at commitTxn
  // as ConcurrentCommitException with NOTHING published.

  private class Txn(val base: Manifest) {
    var overlay: Manifest = base
    var versions: Map[Long, Manifest] = Map(base.version -> base)
    var ops: Vector[String] = Vector.empty
  }

  private val txns =
    scala.collection.concurrent.TrieMap.empty[String, Txn]

  private def txnKey(root: File): String = root.getCanonicalPath

  private def activeTxn(root: File): Option[Txn] = txns.get(txnKey(root))

  /** Open a transaction on `root`. Refuses a second concurrent envelope
    * on the same root (the runbook is one session).
    */
  def begin(root: File): Long = {
    Files.createDirectories(root.toPath)
    val base = read(root).getOrElse(empty)
    val t = new Txn(base)
    require(txns.putIfAbsent(txnKey(root), t).isEmpty,
      s"a transaction is already open on $root")
    base.version
  }

  /** The envelope's publishable snapshot — base.version + 1 with
    * change-feed entries remapped onto the single published version —
    * or None when no statement changed anything.
    *
    * Several statements touching the SAME keyed table NET their feed
    * entries into one change dir first: a key updated twice would
    * otherwise leave two postimage rows at the one published version,
    * and [[applyChanges]]' per-version last-wins rule would keep both
    * (duplicate rows on feed-based snapshot reconstruction). The net is
    * the collapse an external observer sees anyway — the FIRST touching
    * statement's preimage (the key's state at base) against the LAST
    * one's postimage, an insert-then-delete vanishing entirely.
    * Key-less (append-mode) feeds are insert-only and concatenate
    * correctly as-is, so they skip the net.
    */
  private def publishable(root: File, t: Txn): Option[Manifest] = {
    val (overlay, ops) = t.synchronized((t.overlay, t.ops))
    if (overlay eq t.base) return None
    val publishV = t.base.version + 1
    val remapped = overlay.tables.map { case (name, ts) =>
      val (above, below) = ts.changes.partition(_.version > t.base.version)
      val collapsed =
        if (above.size < 2 || ts.mergeKeys.isEmpty)
          above.map(_.copy(version = publishV))
        else netChanges(root, name, ts, above, publishV)
      val feedFrom =
        if (ts.feedFrom > publishV) publishV else ts.feedFrom
      name -> ts.copy(changes = below ++ collapsed, feedFrom = feedFrom)
    }
    val touched = overlay.tables.keys.toSeq.sorted.filter(n =>
      !t.base.tables.get(n).contains(overlay.tables(n)))
    Some(Manifest(publishV, overlay.queryId, overlay.lastBatch,
      remapped,
      CommitInfo("TXN:" + ops.distinct.mkString("+"),
        System.currentTimeMillis(), touched)))
  }

  /** Collapse a txn envelope's per-statement change entries for one
    * keyed table into a single NETTED change dir at `publishV` (see
    * [[publishable]]): per key, the first touching statement's
    * preimage nets against the last one's postimage —
    * insert+update → insert(final), update+update → one pre/post pair,
    * insert+delete → nothing. Insert-only envelopes (append-mode
    * feeds, where duplicate keys across statements are legitimate)
    * return the entries merely remapped — a plain union is already
    * correct there. Cost: one shuffle over the ENVELOPE's change rows
    * (statement churn, never table size), on the driver's session at
    * commit time.
    */
  private def netChanges(root: File, name: String, ts: TableState,
      entries: Seq[ChangeGen], publishV: Long): Seq[ChangeGen] = {
    val spark = org.apache.spark.sql.SparkSession.active
    val schema = ts.schema.add(ChangeTypeCol, "string")
    val all = entries.map(e =>
      spark.read.schema(schema).parquet(new File(root, e.path).toString)
        .withColumn("__v", lit(e.version)))
      .reduce(_ unionByName _).persist()
    try {
      if (all.filter(col(ChangeTypeCol) =!= "insert").isEmpty)
        return entries.map(_.copy(version = publishV))
      val keys = ts.mergeKeys
      val retract = col(ChangeTypeCol).isin("update_preimage", "delete")
      val forward = col(ChangeTypeCol).isin("insert", "update_postimage")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col).toIndexedSeq: _*)
      val keyed = all
        .withColumn("__vf", min(col("__v")).over(w))
        .withColumn("__vl", max(col("__v")).over(w))
        // prior state existed iff the FIRST touching statement retracted
        // something; final state exists iff the LAST one wrote rows
        .withColumn("__prior", max(when(col("__v") === col("__vf")
          && retract, 1).otherwise(0)).over(w))
        .withColumn("__final", max(when(col("__v") === col("__vl")
          && forward, 1).otherwise(0)).over(w))
      val dataCols = ts.schema.fieldNames.toIndexedSeq.map(col)
      val pre = keyed
        .filter(col("__v") === col("__vf") && retract)
        .select(dataCols :+ when(col("__final") === 1,
          lit("update_preimage")).otherwise(lit("delete"))
          .as(ChangeTypeCol): _*)
      val post = keyed
        .filter(col("__v") === col("__vl") && forward)
        .select(dataCols :+ when(col("__prior") === 1,
          lit("update_postimage")).otherwise(lit("insert"))
          .as(ChangeTypeCol): _*)
      val netted = pre.unionByName(post)
      if (netted.isEmpty) Nil // every key's changes netted to zero
      else Seq(ChangeGen(publishV, writeChanges(root,
        s"data/$name/chg-v$publishV-txn${newNonce()}", netted)))
    } finally { all.unpersist(); () }
  }

  /** Publish the open transaction as ONE commit (base version + 1) and
    * close it. Change-feed entries recorded at intermediate overlay
    * versions remap to the published version, so CDF consumers see the
    * envelope exactly as one commit. A concurrent external commit of
    * the same version aborts the WHOLE envelope — nothing publishes —
    * and the caller re-runs the script against the new state.
    */
  def commitTxn(root: File): Long = {
    val t = txns.remove(txnKey(root)).getOrElse(
      throw new IllegalStateException(s"no open transaction on $root"))
    publishable(root, t) match {
      case None => t.base.version // empty envelope: no-op
      case Some(merged) =>
        try commit(root, merged) // full snapshot: one version file
        catch {
          case e: ConcurrentCommitException =>
            throw new ConcurrentCommitException(merged.version) {
              override def getMessage: String =
                s"transaction on $root lost the race for version " +
                  s"${merged.version} to a concurrent writer — NOTHING " +
                  "was published; re-run the script against the new " +
                  s"state (${e.getMessage})"
            }
        }
        gc(root, merged)
        merged.version
    }
  }

  /** Abandon the open transaction: disk state is untouched; the
    * statements' data dirs become orphans a later GC collects. Returns
    * false when no envelope was open.
    */
  def rollback(root: File): Boolean = txns.remove(txnKey(root)).nonEmpty

  /** Savepoint of the OPEN envelope's in-memory state, as a restore
    * thunk (None when no envelope is open). Running the thunk rewinds
    * the envelope to the captured overlay — everything staged after the
    * savepoint becomes orphan data dirs a later GC collects, exactly
    * like a rollback but scoped to the tail. This is the abort path for
    * a staged DDL riding an envelope the USER opened (CALL
    * graft.system.begin): the DDL must compensate only its own piece,
    * never throw away the session's earlier buffered statements.
    * Single-session semantics (the envelope's own contract): statements
    * interleaved between savepoint and restore are rewound with it.
    */
  def savepointTxn(root: File): Option[() => Unit] =
    activeTxn(root).map { t =>
      val (o, v, ops) = t.synchronized((t.overlay, t.versions, t.ops))
      () => t.synchronized { t.overlay = o; t.versions = v; t.ops = ops }
    }

  /** Scala-side envelope: `transaction(root) { …verbs… }` — commits on
    * success, rolls back on any throw.
    */
  def transaction[A](root: File)(body: => A): A = {
    begin(root)
    try { val a = body; commitTxn(root); a }
    catch { case e: Throwable => rollback(root); throw e }
  }

  // ---- cross-namespace envelope (two-phase commit) ----
  //
  // A warehouse script sometimes spans ROOTS (one namespace per domain).
  // begin over several roots opens the per-root envelope on each; the
  // multi-root commit publishes them as ONE logically atomic decision:
  //
  //  1. PREPARE — each changed root stages its would-be version file as
  //     `MANIFEST.v{n}.prepared` (exclusive create; body = the full
  //     snapshot plus the coordinator's path and the txn id). Invisible
  //     to readers.
  //  2. DECIDE — one exclusive record `_txn/<txid>.committed` in the
  //     coordinator root (path-order first changed root). This single
  //     file creation is the WHOLE envelope's commit point.
  //  3. PROMOTE — each prepared file becomes its root's real version
  //     file (same link(2) CAS as every commit). Crash-safe: ANY reader
  //     that finds a prepared version whose decide record exists
  //     promotes it during [[read]]'s fold-forward, so once the decide
  //     record lands every root serves its new version no matter where
  //     the committing process died; before it, nothing is visible and
  //     the staged files age into GC.
  //
  // Scope matches the per-root envelope: the coordinating process IS the
  // runbook. An external writer taking one of the staged version slots
  // before the decide record aborts the WHOLE envelope with nothing
  // published; the unavoidable two-phase in-doubt window (a slot raced
  // EXACTLY between the last pre-decide check and the decide record)
  // surfaces as that root's promote losing its CAS — loudly, with the
  // decide record left in place so the other roots still converge.

  private def preparedFile(root: File, v: Long): File =
    new File(root, s"$ManifestName.v$v.prepared")

  /** If `root` holds a prepared version `v` whose coordinator decided,
    * promote it to the real version file. Returns whether the real file
    * exists afterwards (true also when someone else promoted first).
    * Reader-callable: promotion is idempotent (exclusive create).
    */
  private def promotePrepared(root: File, v: Long): Boolean = {
    val pf = preparedFile(root, v)
    if (!pf.exists) return versionFile(root, v).exists
    if (versionFile(root, v).exists) return true // promoted or outraced
    val parsed = scala.util.Try(JsonMethods.parse(
      new String(Files.readAllBytes(pf.toPath), UTF_8))).getOrElse(return false)
    def s(v: JValue): Option[String] = v match {
      case JString(x) => Some(x); case _ => None
    }
    val decided = (for {
      coord <- s(parsed \ "coordinator")
      txid <- s(parsed \ "txid")
    } yield new File(new File(coord, "_txn"), s"$txid.committed").exists)
      .getOrElse(false)
    if (!decided) return false
    val body = s(parsed \ "manifest").getOrElse(return false)
    val nonce = newNonce()
    val vtmp = new File(root, s".${ManifestName}.v.$nonce.tmp")
    Files.write(vtmp.toPath, body.getBytes(UTF_8))
    try Files.createLink(versionFile(root, v).toPath, vtmp.toPath): Unit
    catch { case _: java.nio.file.FileAlreadyExistsException => () }
    finally Files.deleteIfExists(vtmp.toPath)
    Files.deleteIfExists(pf.toPath)
    true
  }

  /** Open one envelope per root, all-or-nothing. */
  def beginAll(roots: Seq[File]): Unit = {
    val distinct = roots.map(_.getCanonicalFile).distinct
    var opened = List.empty[File]
    try distinct.foreach { r => begin(r); opened ::= r }
    catch { case e: Throwable => opened.foreach(rollback); throw e }
  }

  def rollbackAll(roots: Seq[File]): Boolean =
    roots.map(_.getCanonicalFile).distinct.map(rollback).exists(identity)

  /** Publish every root's open envelope as one atomic decision; returns
    * each root's published (or unchanged) version keyed by root name.
    * Roots whose envelope changed nothing just close. One changed root
    * degenerates to the plain single-root publish (no coordination).
    */
  def commitTxnAll(roots: Seq[File]): Map[String, Long] = {
    val distinct = roots.map(_.getCanonicalFile).distinct
      .sortBy(_.getPath)
    val open = distinct.map(r => r -> activeTxn(r).getOrElse(
      throw new IllegalStateException(s"no open transaction on $r")))
    val staged = open.flatMap { case (r, t) => publishable(r, t).map(r -> _) }
    if (staged.size <= 1)
      return distinct.map(r => r.getName -> commitTxn(r)).toMap
    val txid = newNonce()
    val coordinator = staged.head._1
    val decideFile =
      new File(new File(coordinator, "_txn"), s"$txid.committed")
    val written = scala.collection.mutable.ListBuffer.empty[File]
    try {
      // PREPARE
      staged.foreach { case (r, m) =>
        if (versionFile(r, m.version).exists)
          throw new ConcurrentCommitException(m.version)
        val pf = preparedFile(r, m.version)
        // a leftover prepared file for this slot can only be an ABORTED
        // envelope's (a decided one would have been promoted by the
        // version-slot probe above reading the root): clear it
        Files.deleteIfExists(pf.toPath)
        val body = JsonMethods.compact(JsonMethods.render(JObject(List(
          "coordinator" -> (JString(coordinator.getPath): JValue),
          "txid" -> (JString(txid): JValue),
          "manifest" -> (JString(render(m)): JValue)))))
        Files.write(pf.toPath, body.getBytes(UTF_8),
          java.nio.file.StandardOpenOption.CREATE_NEW)
        written += pf
      }
      // last pre-decide check: every staged slot still free
      staged.foreach { case (r, m) =>
        if (versionFile(r, m.version).exists)
          throw new ConcurrentCommitException(m.version)
      }
      // DECIDE — the envelope's single commit point
      Files.createDirectories(decideFile.getParentFile.toPath)
      Files.write(decideFile.toPath,
        staged.map { case (r, m) => s"${r.getPath}\tv${m.version}" }
          .mkString("\n").getBytes(UTF_8),
        java.nio.file.StandardOpenOption.CREATE_NEW)
    } catch {
      case e: Throwable =>
        written.foreach(f => Files.deleteIfExists(f.toPath))
        distinct.foreach(r => txns.remove(txnKey(r)))
        throw e
    }
    // decided: close the envelopes, then PROMOTE each root (readers can
    // beat us here through read()'s recovery — harmless)
    distinct.foreach(r => txns.remove(txnKey(r)))
    staged.foreach { case (r, m) =>
      promotePrepared(r, m.version): Unit
      read(r).foreach(gc(r, _))
    }
    Files.deleteIfExists(decideFile.toPath)
    val published = staged.map { case (r, m) => r.getName -> m.version }.toMap
    distinct.map(r => r.getName -> published.getOrElse(r.getName,
      read(r).map(_.version).getOrElse(0L))).toMap
  }

  /** A failure plausibly caused by a concurrent winner's GC collecting this
    * attempt's in-flight files mid-write: a missing-file error anywhere in
    * the cause chain (Spark wraps executor-side failures in SparkException
    * layers). The shapes, in the order a vanished generation dir produces
    * them on a local filesystem:
    *
    *  - `FileNotFoundException` / `NoSuchFileException` — a read or rename
    *    of a collected file;
    *  - `IOException: Mkdirs failed to create …/_temporary/…` — the
    *    winner's GC deleted the attempt's decided-loss generation dir
    *    while its write task was still creating `_temporary` subdirs, and
    *    Hadoop's ChecksumFileSystem reports the vanished parent as a
    *    failed mkdir, not a missing file;
    *  - `ExitCodeException` / "No such file or directory" — Hadoop's
    *    RawLocalFileSystem shells out (chmod/stat) and surfaces a
    *    vanished `_temporary` dir as the shell's message.
    *
    * The bare "does not exist" wording is shared with deterministic
    * analysis errors ("Table or view does not exist"), so it only counts
    * when the message names a filesystem path — analysis errors, bad
    * schemas, and corrupt input must SURFACE on the first attempt, not
    * re-execute full bucket rewrites MaxCommitAttempts times before
    * diagnosis.
    */
  private def isFileRace(e: Throwable): Boolean =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).take(16).exists {
      case _: java.io.FileNotFoundException => true
      case _: java.nio.file.NoSuchFileException => true
      case t =>
        val msg = t.getMessage
        val pathShaped = msg != null && (msg.contains("/") || msg.contains("file:"))
        msg != null && (msg.contains("FileNotFoundException") ||
          msg.contains("Mkdirs failed to create") ||
          msg.contains("No such file or directory") ||
          t.getClass.getSimpleName == "ExitCodeException" ||
          (msg.contains("does not exist") && pathShaped))
    }

  /** Snapshots retained by [[gc]]: readers may time-travel this many
    * versions back (current + RetainVersions-1 older), and a reader still
    * iterating a recent pre-GC snapshot keeps its files — the same
    * retention contract a Delta VACUUM window provides. This is the
    * DEFAULT; each table may widen (or narrow) its own window with
    * `TBLPROPERTIES ('retainVersions'='N')` — the root's physical
    * retention (what GC keeps reconstructible) is the WIDEST table's
    * window, since one manifest spans the namespace, while time travel
    * on a specific table gates on THAT table's window
    * ([[readTable]]) — the per-table analogue of the warehouse's
    * `DATA_RETENTION_TIME_IN_DAYS`.
    */
  val RetainVersions = 3

  /** A positive-int table property with its compile-time default —
    * `retainVersions`, `changeRetainVersions`, `checkpointInterval` all
    * ride TBLPROPERTIES through this.
    */
  private def intProp(ts: TableState, key: String, dflt: Int): Int =
    ts.props.get(key)
      .flatMap(v => scala.util.Try(v.trim.toInt).toOption)
      .filter(_ > 0).getOrElse(dflt)

  /** Positive-integer table properties. */
  val IntProps: Set[String] =
    Set("retainVersions", "changeRetainVersions", "checkpointInterval",
      "retainHours", "maintCompactSmallRows", "maintReclusterSlices",
      "maintOverlapBudget", "metricIntervalMs")

  /** The keys [[createTable]]/[[alterTable]] accept as table properties:
    * the operating integers, the row-level mode, and the mart
    * self-declaration keys ([[graft.plans.MartRewriteRule]]) — the
    * latter normally stamped by [[graft.streaming.IncrementalMart]] on
    * every maintenance commit, settable by hand to adopt an existing
    * rollup table as a mart.
    */
  val KnownProps: Set[String] =
    IntProps ++ Set("rowLevelMode", "isolationLevel", "martOf",
      "martSourceRoot", "martGroupCols", "martValueCols", "martMaxCols",
      "martMinCols", "martSourceVersion",
      "maintReclusterCols", "maintZorder")

  /** Sentinel a [[TableUpdate]] props entry carries to DELETE the key
    * from the table state (`ALTER TABLE … UNSET TBLPROPERTIES`). Never
    * persists: the manifest fold filters it out.
    */
  val PropRemoved: String = "__graft_unset__"
  /** Row-level operation isolation levels (the Iceberg property shape):
    * `serializable` (default) aborts a statement when ANY concurrent
    * commit changed its table; `snapshot` narrows the conflict to the
    * statement's own read/write buckets — bucket-disjoint concurrent
    * row-level commits rebase and both publish.
    */
  val IsolationLevels: Set[String] = Set("serializable", "snapshot")

  /** The buckets whose content differs between two snapshots of a table
    * (base generations OR merge-on-read deltas) — the conflict footprint
    * a concurrent commit left.
    */
  private def changedBuckets(a: TableState, b: TableState): Set[Long] = {
    def diff(x: Map[Long, Seq[BucketGen]], y: Map[Long, Seq[BucketGen]]) =
      (x.keySet ++ y.keySet).filter(k => x.get(k) != y.get(k))
    diff(a.buckets, b.buckets) ++ diff(a.deltas, b.deltas)
  }

  /** Snapshot-isolation conflict check for a row-level commit computed
    * against `baseTs` while the table has moved to `ts`: rebase is sound
    * iff the table's LAYOUT is untouched (schema, keys, bucketing,
    * props — any of those changing alters what the staged rows mean) and
    * every bucket the concurrent commits changed is disjoint from the
    * statement's read/write footprint. Throws otherwise.
    */
  private def checkSnapshotRebase(ts: TableState, baseTs: TableState,
      footprint: Set[Long], version: Long): Unit = {
    val layoutSame = ts.schemaJson == baseTs.schemaJson &&
      ts.mergeKeys == baseTs.mergeKeys &&
      ts.numBuckets == baseTs.numBuckets &&
      ts.statsCols == baseTs.statsCols &&
      ts.searchCols == baseTs.searchCols &&
      ts.props == baseTs.props
    if (!layoutSame || changedBuckets(ts, baseTs).exists(footprint))
      throw new FinalConflict(version)
  }

  /** Can a race-losing [[mergeBatch]] attempt's staged update — derived
    * against `base` — be rebased onto the table's new state `now`
    * without re-deriving? Yes when the winner left the table alone, or
    * changed only what the staged work never read: same layout (schema,
    * keys, bucketing, stats/search declarations, props), same
    * outstanding deltas (a new delta would re-apply OVER our rewritten
    * base in reconcile order), same feed origin (a reset feed changes
    * what our change entries mean), and a changed-bucket set disjoint
    * from the buckets we rewrote.
    */
  private def rebasableUpdate(base: TableState, now: TableState,
      upd: TableUpdate): Boolean =
    now == base || {
      val layoutSame = now.schemaJson == base.schemaJson &&
        now.mergeKeys == base.mergeKeys &&
        now.numBuckets == base.numBuckets &&
        now.statsCols == base.statsCols &&
        now.searchCols == base.searchCols &&
        now.props == base.props
      layoutSame && now.deltas == base.deltas &&
        now.feedFrom == base.feedFrom &&
        !changedBuckets(now, base).exists(upd.buckets.keySet)
    }

  /** Rename a staged update's generation (and change) dirs onto a new
    * target version and return the update with rewritten paths — None
    * if any rename fails (a concurrent GC swept a dir: the caller
    * restages from scratch; already-renamed dirs become orphans under
    * the NEW version name, which the in-flight guard holds until a
    * commit at that version decides them).
    */
  private def rebaseStaged(root: File, upd: TableUpdate, newV: Long)
      : Option[TableUpdate] = {
    def renamed(path: String): Option[String] = {
      val dir = new File(root, path)
      val newName = dir.getName.replaceFirst("-v\\d+-", s"-v$newV-")
      if (newName == dir.getName) Some(path)
      else if (dir.renameTo(new File(dir.getParentFile, newName)))
        Some(path.take(path.lastIndexOf('/') + 1) + newName)
      else None
    }
    val buckets = upd.buckets.map { case (b, gens) =>
      b -> gens.map(g => g.copy(path = renamed(g.path).getOrElse(return None)))
    }
    val chg = upd.changePath.map(p => renamed(p).getOrElse(return None))
    Some(upd.copy(buckets = buckets, changePath = chg))
  }

  private[sources] def retainVersionsOf(ts: TableState): Int =
    intProp(ts, "retainVersions", RetainVersions)

  /** TIME-based retention (`TBLPROPERTIES ('retainHours'='N')` — the
    * warehouse `DATA_RETENTION_TIME_IN_DAYS` semantics, in hours): a
    * version stays time-travelable and GC-protected while its commit
    * timestamp is within the window, REGARDLESS of how many commits have
    * landed since. Composes with the count window: a version is retained
    * when EITHER window covers it; no `retainHours` = count-only (the
    * previous behavior).
    */
  private[sources] def retainHoursOf(ts: TableState): Option[Long] =
    ts.props.get("retainHours")
      .flatMap(v => scala.util.Try(v.trim.toLong).toOption).filter(_ > 0)

  /** The root's widest declared time window, in ms. */
  private def retainMsOf(m: Manifest): Option[Long] =
    m.tables.values.toSeq.flatMap(retainHoursOf(_))
      .reduceOption(_ max _).map(_ * 3600000L)

  /** Commit timestamp of version `v`'s log entry — both entry shapes
    * carry a top-level `ts`; a light parse that never loads parquet
    * checkpoints.
    */
  private def entryTs(root: File, v: Long): Option[Long] = {
    val f = versionFile(root, v)
    if (!f.exists) None
    else scala.util.Try {
      (JsonMethods.parse(
        new String(Files.readAllBytes(f.toPath), UTF_8)) \ "ts") match {
        case JInt(x) => x.toLong
        case JLong(x) => x
        case _ => -1L
      }
    }.toOption.filter(_ >= 0)
  }

  /** Operation marker of version `v`'s log entry (e.g. `PUBLISH:<name>`)
    * — the same light parse as [[entryTs]], used by the publish
    * crash-recovery check.
    */
  private def entryOp(root: File, v: Long): Option[String] = {
    val f = versionFile(root, v)
    if (!f.exists) None
    else scala.util.Try {
      (JsonMethods.parse(
        new String(Files.readAllBytes(f.toPath), UTF_8)) \ "op") match {
        case JString(s) => s
        case _ => ""
      }
    }.toOption.filter(_.nonEmpty)
  }

  /** Audit `touched` record of version `v`'s log entry — the tables the
    * commit modified, the proof the publish rebase gate needs to show a
    * branch's tables are disjoint from main's intervening commits. None
    * when the entry is gone (aged out) or unreadable: the gate must then
    * refuse rather than assume disjointness.
    */
  private def entryTouched(root: File, v: Long): Option[Seq[String]] = {
    val f = versionFile(root, v)
    if (!f.exists) None
    else scala.util.Try {
      val j = JsonMethods.parse(
        new String(Files.readAllBytes(f.toPath), UTF_8))
      (j \ "touched") match {
        case JArray(ts) => Some(ts.collect { case JString(s) => s })
        case _ => (j \ "delta") match {
          // a delta entry's update map is keyed by table — exactly the
          // commit's touched set (full snapshots carry `touched`; a
          // pre-history full with neither proves nothing → None)
          case JObject(fields) => Some(fields.map(_._1))
          case _ => None
        }
      }
    }.toOption.flatten
  }

  /** Is `v` within `root`'s time window (when one is declared)? */
  private def withinTimeWindow(root: File, ms: Option[Long], v: Long): Boolean =
    ms.exists(w => entryTs(root, v).exists(
      _ >= System.currentTimeMillis() - w))

  /** The root's physical retention window: the widest table's. */
  private def retainOf(m: Manifest): Int =
    (RetainVersions +: m.tables.values.toSeq.map(retainVersionsOf)).max

  /** The root's snapshot interval: the most eager table's (a smaller
    * interval only ADDS full snapshots — always safe for every reader).
    */
  private def checkpointIntervalOf(m: Manifest): Int = {
    val declared = m.tables.values.toSeq
      .map(ts => intProp(ts, "checkpointInterval", CheckpointInterval))
    if (declared.isEmpty) CheckpointInterval else declared.min
  }

  /** Every Nth commit writes a FULL snapshot version file (and refreshes
    * the live pointer); the commits between write delta entries sized by
    * what they touched. Commit cost therefore tracks the batch, not the
    * table: a one-bucket merge on a 100k-generation table serializes one
    * bucket's worth of JSON, with the full-snapshot cost amortized 1/N —
    * the Delta log-compaction shape.
    */
  val CheckpointInterval = 10

  /** Publish with optimistic concurrency. The per-version manifest
    * (`.v{N}`) is created via an EXCLUSIVE hard link of a fully-written
    * tmp file — `link(2)` atomically fails with EEXIST if the version
    * already exists, so of any number of racing writers exactly ONE wins
    * version N and the rest get [[ConcurrentCommitException]] (the Delta
    * optimistic-commit protocol, expressed with POSIX primitives; a plain
    * rename would be last-writer-wins and silently DROP the loser's
    * commit). Only after winning does the live pointer refresh — it is a
    * best-effort cache; a crash between the two writes just leaves a
    * stale hint that [[read]]'s roll-forward skips past. Content is never
    * torn: the link source is complete before the link lands, and both
    * tmp names carry the writer's nonce so racing writers never scribble
    * on each other's tmp files.
    */
  def commit(root: File, m: Manifest,
      delta: Option[CommitDelta] = None): Unit = {
    // inside a transaction the commit point is the OVERLAY, not the
    // filesystem: the same OCC contract holds in memory (a stale base
    // version still loses), and nothing lands on disk until commitTxn
    activeTxn(root) match {
      case Some(t) =>
        t.synchronized {
          if (m.version != t.overlay.version + 1)
            throw new ConcurrentCommitException(m.version)
          t.overlay = m
          t.versions += (m.version -> m)
          t.ops :+= m.info.operation
        }
        return
      case None =>
    }
    // under an active session branch the commit point is the BRANCH
    // file, never the main version log — same OCC contract against the
    // branch's own head (the JVM lock serializes local writers; the
    // atomic move is the cross-process commit point)
    activeBranch(root) match {
      case Some(b) if !branchBypass.get =>
        branchLock(root, b).synchronized {
          val cur = readBranch(root, b)
          if (m.version != cur.version + 1)
            throw new ConcurrentCommitException(m.version)
          writeBranchFile(root, b, m)
        }
        return
      case _ =>
    }
    Files.createDirectories(root.toPath)
    delta.foreach(d => require(d.version == m.version,
      s"delta v${d.version} does not describe commit v${m.version}"))
    val nonce = newNonce()
    val full = delta.isEmpty || m.version % checkpointIntervalOf(m) == 0
    // large manifests snapshot columnar: the generation lists land in a
    // parquet checkpoint (written BEFORE the commit point like every
    // data dir — a crash orphans it for the sweep) and the version file
    // carries the header + reference
    val genCount =
      m.tables.values.map(ts => ts.gens.size + ts.deltaGens.size).sum
    val ckptRef =
      if (full && genCount > CheckpointInlineMax &&
          SparkSession.getActiveSession.nonEmpty)
        Some(writeCkpt(root, m, nonce))
      else None
    val body = if (full) render(m, ckptRef) else renderDelta(delta.get)
    val vtmp = new File(root, s".${ManifestName}.v.$nonce.tmp")
    Files.write(vtmp.toPath, body.getBytes(UTF_8))
    try Files.createLink(versionFile(root, m.version).toPath, vtmp.toPath): Unit
    catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        throw new ConcurrentCommitException(m.version)
    } finally Files.deleteIfExists(vtmp.toPath)
    // the live pointer (a full-snapshot CACHE reads fold forward from)
    // refreshes only on full commits — a per-commit refresh would put
    // the whole-table serialization back on every commit's path. A root
    // with no pointer yet (first commits of a fresh table) bootstraps
    // one immediately so readers always have a fold base.
    if (full || !new File(root, ManifestName).exists) {
      val tmp = new File(root, s".${ManifestName}.$nonce.tmp")
      Files.write(tmp.toPath, render(m, ckptRef).getBytes(UTF_8))
      Files.move(tmp.toPath, new File(root, ManifestName).toPath,
        StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING): Unit
    }
  }

  // ---- the OCC commit loop: every verb reads the head manifest,
  // derives its change against it, and publishes through ONE step;
  // a lost race re-reads and re-derives ----

  /** Commit-conflict retries: each retry re-reads the latest manifest and
    * re-derives the change against it (a full rebase, not a blind
    * re-send), so contending writers serialize correctly. Past the cap
    * the conflict propagates — livelock under pathological contention
    * fails loudly.
    */
  val MaxCommitAttempts = 10

  /** Test-only fault injection: called once per publish, after the
    * attempt's dirs are written and just before its commit, with the
    * attempt's base manifest version. A spec can move the manifest (a
    * competing commit) and throw the exact failure shape a winner's GC
    * inflicts on a loser's in-flight write, making the race-casualty
    * classification deterministic instead of thread-timing-dependent.
    * Production value: no-op.
    */
  private[graft] var commitFaultInjector: (File, Long) => Unit = (_, _) => ()

  /** A conflict no rebase can cure — a row-level statement whose answer
    * went stale, a refused branch publish: it surfaces on the attempt
    * that found it instead of retrying.
    */
  private class FinalConflict(version: Long, why: Option[String] = None)
      extends ConcurrentCommitException(version) {
    override def getMessage: String = why.getOrElse(super.getMessage)
  }

  /** What one commit publishes onto its base manifest. */
  private sealed trait Change

  /** Per-table updates [[Manifest.advance]] folds in, committed as a delta
    * entry (a full snapshot at checkpoint versions). `batch` is the
    * (queryId, batchId) the commit records — by default the base's own,
    * so a maintenance verb never moves a stream's replay watermark.
    */
  private case class Fold(updates: Map[String, TableUpdate],
      batch: Option[(String, Long)] = None) extends Change

  /** The whole next table map, committed as a full snapshot — the
    * metadata verbs (create, clone, restore, view, drop, rename, branch
    * publish) that replace table entries wholesale.
    */
  private case class Swap(tables: Map[String, TableState],
      touched: Seq[String], batch: Option[(String, Long)] = None)
      extends Change

  /** One attempt's decision against its base manifest. */
  private sealed trait Attempt[+A]

  /** Commit nothing and return `value` (a no-op or an early exit). */
  private case class Finish[+A](value: A) extends Attempt[A]

  /** Publish `change` recorded as `op`, then return `value`. */
  private case class Publish[+A](op: String, change: Change, value: A)
      extends Attempt[A]

  /** The publish step — the only place a next manifest is derived and
    * committed: fold `change` onto `base` with `op` as its one recorded
    * operation (full and delta entries alike), give the test hook its
    * turn, then run the OCC [[commit]]. Returns the published manifest.
    */
  private def publish(root: File, base: Manifest, op: String,
      change: Change): Manifest = {
    val (next, delta) = change match {
      case Fold(updates, batch) =>
        val (qid, batchId) = batch.getOrElse((base.queryId, base.lastBatch))
        val next = base.advance(qid, batchId, updates, op)
        (next, Some(CommitDelta(next.version, qid, batchId, op,
          next.info.timeMs, updates)))
      case Swap(tables, touched, batch) =>
        val (qid, lastBatch) = batch.getOrElse((base.queryId, base.lastBatch))
        (Manifest(base.version + 1, qid, lastBatch, tables,
          CommitInfo(op, System.currentTimeMillis(), touched)), None)
    }
    commitFaultInjector(root, base.version)
    commit(root, next, delta)
    next
  }

  /** The one retry rule, shared by [[commitLoop]] and [[mergeBatch]]: an
    * attempt against `base` that failed with `e` retries when it lost the
    * version race, or when it failed on a missing file ([[isFileRace]])
    * while the manifest moved under it — a winner's GC collected its
    * in-flight dirs. Anything else, a [[FinalConflict]], or the last of
    * [[MaxCommitAttempts]] surfaces.
    */
  private def retryable(root: File, e: Throwable, tries: Int,
      base: Manifest): Boolean =
    tries < MaxCommitAttempts - 1 && (e match {
      case _: FinalConflict => false
      case _: ConcurrentCommitException => true
      case _ => isFileRace(e) &&
        read(root).map(_.version).getOrElse(0L) != base.version
    })

  /** The OCC loop every verb but [[mergeBatch]] commits through: run
    * `prepare` (the copy-on-write verbs fold merge-on-read deltas there),
    * read the head manifest, run `attempt` against it and publish what it
    * decided; a [[retryable]] failure starts over from a fresh head. A
    * published commit is swept by [[gc]] when `sweep` is set — outside
    * the retry, so a sweep failure can never re-run a landed commit.
    */
  private def commitLoop[A](root: File, sweep: Boolean = true,
      prepare: () => Unit = () => ())(attempt: Manifest => Attempt[A]): A = {
    @scala.annotation.tailrec
    def run(tries: Int): A = {
      prepare()
      val base = read(root).getOrElse(empty)
      val outcome =
        try Right(attempt(base) match {
          case Finish(value) => (value, None)
          case Publish(op, change, value) =>
            (value, Some(publish(root, base, op, change)))
        })
        catch { case e: Throwable if retryable(root, e, tries, base) => Left(e) }
      outcome match {
        case Right((value, next)) =>
          if (sweep) next.foreach(gc(root, _))
          value
        case Left(_) => run(tries + 1)
      }
    }
    run(0)
  }

  /** Write one commit's change-feed rows as the dir `rel` — the single
    * change-dir writer. The rebalance hint lets adaptive execution
    * coalesce a small feed into one file while a large one still fans
    * out, so a feed consumer opens few files per commit.
    */
  private def writeChanges(root: File, rel: String, rows: DataFrame): String = {
    rows.hint("rebalance").write.mode("overwrite")
      .parquet(new File(root, rel).toString)
    rel
  }

  /** Writer-attempt nonce: distinguishes concurrent writers' tmp files and
    * generation dirs (dashless so dir-name version parsing stays trivial).
    */
  private def newNonce(): String =
    java.util.UUID.randomUUID().toString.replace("-", "")

  /** Run independent job chains (one table of a [[mergeBatch]], one
    * bucket of a [[reclusterBy]]) concurrently, at most `width` at once,
    * on a private driver pool, each under the caller's active session and
    * local properties (job group, streaming query id), and return every
    * task's outcome in input order. It waits for EVERY started task
    * before it returns or throws, so no task outlives the call: neither a
    * failure nor an interrupt of the caller leaves a sibling writing dirs
    * after the caller has moved on to a retry, a GC or a stop. Once a
    * task fails or the caller is interrupted, tasks not yet started fail
    * without running; running ones are waited for, never interrupted (an
    * interrupt only abandons a submitted Spark job, which keeps writing).
    * An interrupted caller gets its InterruptedException once every task
    * has settled. A caller that needs the values takes `.map(_.get)`,
    * which surfaces the first failure in input order. One task runs
    * inline.
    */
  private def settleAll[A](spark: SparkSession, width: Int,
      tasks: Seq[() => A]): Seq[scala.util.Try[A]] =
    if (tasks.size <= 1) tasks.map(t => scala.util.Try(t()))
    else {
      import java.util.concurrent.{CancellationException, ExecutionException}
      val ids = new java.util.concurrent.atomic.AtomicInteger
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.min(tasks.size, width), { (r: Runnable) =>
          val t = new Thread(r, s"graft-driver-task-${ids.incrementAndGet()}")
          t.setDaemon(true)
          t
        })
      val halted = new java.util.concurrent.atomic.AtomicBoolean
      val session = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      val futures =
        try tasks.map(t => org.apache.spark.sql.execution.SQLExecution
          .withThreadLocalCaptured(session, pool) {
            if (halted.get) throw new CancellationException(
              "not started: a sibling task failed or the caller was interrupted")
            try t() catch { case e: Throwable => halted.set(true); throw e }
          })
        finally pool.shutdown()
      var interrupted: Option[InterruptedException] = None
      val settled = futures.map { f =>
        var out: Option[scala.util.Try[A]] = None
        while (out.isEmpty)
          try out = Some(scala.util.Success(f.get())) catch {
            case e: ExecutionException => out = Some(scala.util.Failure(e.getCause))
            case e: CancellationException => out = Some(scala.util.Failure(e))
            case e: InterruptedException =>
              halted.set(true)
              if (interrupted.isEmpty) interrupted = Some(e)
          }
        out.get
      }
      interrupted.foreach(e => throw e)
      settled
    }

  private def versionFile(root: File, v: Long): File =
    new File(root, s"$ManifestName.v$v")

  /** Version embedded in a generation dir name (`b3-v7-nonce`,
    * `b3-c7-nonce`, `b3-d7-g0-nonce`, `b3-u7-g0-nonce`, `chg-v7-nonce`,
    * `b3-rb7-nonce`, and the keyed writer's stage dirs
    * `stage-v7-wnonce`, `stage-d7-wnonce`, `stage-rb7-wnonce`; legacy
    * `b3-7`): the second dash token with its operation marker (v=write,
    * c=compact/collapse/recluster, d=delete, dd=row delta, u=update,
    * m=row-level merge, rb=rebucket) stripped. Unparseable →
    * 0, i.e. always collectible, matching the pre-versioned-naming
    * behavior. The marker set must cover every writer's naming scheme:
    * a dir GC can't date is a dir GC may collect out from under an
    * in-flight writer (survivable — the race-casualty retry rebases —
    * but wasteful).
    */
  private def dirVersion(name: String): Long = {
    val parts = name.split('-')
    if (parts.length < 2) 0L
    else {
      val tok = parts(1)
        .dropWhile(c => c == 'v' || c == 'c' || c == 'd' || c == 'u' ||
          c == 'm' || c == 'r' || c == 'b')
      if (tok.nonEmpty && tok.forall(_.isDigit)) tok.toLong else 0L
    }
  }

  /** Data paths (across ALL tables) a retained version resolves; Nil if the
    * version's manifest is gone (aged out or never published).
    */
  def readVersionBuckets(root: File, v: Long): Seq[String] =
    reconstruct(root, v).map(_.allPaths).getOrElse(Nil)

  /** Versions pinned by NAMED REFS (`TBLPROPERTIES ('ref.<name>' =
    * '<version>')`, the Iceberg-tag shape): each stays retained —
    * time-travelable (`VERSION AS OF '<name>'`) and GC-protected,
    * including its reconstruction chain — regardless of the count/time
    * windows, until its ref is UNSET.
    */
  private def refVersionsOf(m: Manifest): Seq[Long] =
    m.tables.values.toSeq.flatMap(_.props.toSeq.collect {
      case (k, v) if k.startsWith("ref.") =>
        scala.util.Try(v.trim.toLong).toOption
    }.flatten).filter(v => v >= 0 && v <= m.version).distinct.sorted

  /** Versions pinned by refs declared ON ONE TABLE — the set the
    * TABLE-scoped time-travel gate honors. GC/retention keeps using the
    * manifest-wide [[refVersionsOf]] (data protection is rightly global:
    * a version any table pins must stay reconstructible), but a ref on
    * table A must not widen table B's own declared travel window.
    */
  private def refVersionsOfTable(ts: TableState): Seq[Long] =
    ts.props.toSeq.collect {
      case (k, v) if k.startsWith("ref.") =>
        scala.util.Try(v.trim.toLong).toOption
    }.flatten.filter(_ >= 0).distinct.sorted

  private def retainedVersions(root: File, m: Manifest): Seq[Long] = {
    val countFloor = (m.version - retainOf(m) + 1) max 0
    // a declared time window extends retention below the count floor:
    // walk down while entries are still inside it (the log is
    // contiguous above the sweep line, so the first miss ends it)
    val ms = retainMsOf(m)
    var floor = countFloor
    if (ms.nonEmpty) {
      var v = countFloor - 1
      while (v >= 0 && withinTimeWindow(root, ms, v)) { floor = v; v -= 1 }
    }
    // named refs pin BELOW the floor: their data stays live, and the
    // version-file anchor (computed from this seq's min) keeps their
    // fold chain reconstructible
    refVersionsOf(m).filter(_ < floor) ++ (floor to m.version)
  }

  /** One vacuum sweep's report: file count and bytes it removed — or,
    * under `dryRun`, WOULD remove (the operational affordance every
    * warehouse vacuum exposes; Delta's `VACUUM … DRY RUN` shape).
    */
  case class GcStats(files: Long, bytes: Long) {
    def +(o: GcStats): GcStats = GcStats(files + o.files, bytes + o.bytes)
  }

  private def measure(f: File): GcStats =
    if (f.isDirectory) {
      val kids = f.listFiles
      if (kids == null) GcStats(0L, 0L)
      else kids.foldLeft(GcStats(0L, 0L))((acc, k) => acc + measure(k))
    } else GcStats(1L, f.length)

  /** Vacuum: drop every generation directory no RETAINED snapshot references
    * (superseded generations past the retention window, and orphans from
    * crashed writers), plus per-version manifests that aged out of the
    * window or were never published. Runs strictly AFTER a successful
    * commit, so nothing a retained snapshot resolves is ever deleted.
    * Returns what it swept; `dryRun` reports without deleting (and
    * without touching caches).
    */
  def gc(root: File, m: Manifest, dryRun: Boolean = false): GcStats = {
    var swept = GcStats(0L, 0L)
    def sweep(f: File): Unit = {
      swept += measure(f)
      if (!dryRun) deleteRecursively(f)
    }
    // never vacuum under an open transaction: the overlay references
    // dirs no on-disk version knows about yet, and the final commit's
    // own GC sweeps once the envelope publishes
    if (activeTxn(root).nonEmpty) return swept
    // same rule under an active session BRANCH: the branch's dirs live
    // only in its branch file, and `m` here is branch state — a sweep
    // computed from it would collect MAIN's dirs
    if (activeBranch(root).nonEmpty) return swept
    val retained = retainedVersions(root, m)
    val live: Set[String] =
      retained.flatMap(readVersionBuckets(root, _)).toSet ++ m.allPaths ++
        // unpublished branch lineages pin their dirs until publish/drop
        branchManifests(root).flatMap(_.allPaths)
    val inflight = inflightNonces(root)
    val tableDirs = new File(root, "data").listFiles
    if (tableDirs != null) tableDirs.filter(_.isDirectory).foreach { td =>
      td.listFiles
        .filterNot(d => live.contains(s"data/${td.getName}/${d.getName}"))
        // in-flight guard: a dir named for a version AT OR ABOVE the one
        // this GC runs under may belong to a concurrent writer that can
        // still use it — a version strictly newer is an in-flight commit
        // target, and a dir AT this version is a same-version race
        // loser's staged rewrite, which the loser's retry REBASES onto
        // its next attempt (renaming it) when the conflict was
        // bucket-disjoint. Dirs strictly below the current version are
        // decided: committed (then referenced, kept above) or abandoned
        // (the retry either renamed them away or restaged) — safe to
        // collect.
        .filter(d => dirVersion(d.getName) < m.version)
        // intent-ledger guard: a dir carrying a LIVE intent's writer
        // nonce belongs to a declared in-flight mergeBatch whatever
        // version its name targets (a rebase renames across versions
        // mid-flight) — sparing it closes the rename-vs-sweep restage
        // window entirely; crashed writers age out via IntentTtlMs
        .filterNot(d => inflight.exists(d.getName.contains))
        .foreach(sweep)
    }
    // version-file sweep anchor: every retained version must stay
    // RECONSTRUCTIBLE, so the sweep keeps the log back to the newest
    // interval checkpoint at-or-below the oldest retained version — and
    // never deletes above the live pointer's version either, so the
    // pointer's fold-forward chain survives even when a checkpoint
    // commit crashed between its commit point and the pointer refresh
    val pointerV = {
      val p = new File(root, ManifestName)
      if (!p.exists) 0L
      else scala.util.Try(
        parse(new String(Files.readAllBytes(p.toPath), UTF_8), root).version)
        .getOrElse(0L)
    }
    // the anchor can't assume fulls sit at multiples of the CURRENT
    // interval — a per-table checkpointInterval property may have
    // changed mid-history — so walk down from the oldest retained
    // version to the newest entry that actually IS a full snapshot
    // (bounded by the widest interval the history ever used)
    val fullAnchor = {
      var v = retained.min
      var found = -1L
      while (found < 0 && v >= 0) {
        val f = versionFile(root, v)
        if (!f.exists) found = v // already swept below here: safe floor
        else if (scala.util.Try(parseEntry(
            new String(Files.readAllBytes(f.toPath), UTF_8), root).isRight)
            .getOrElse(true)) found = v
        else v -= 1
      }
      found max 0L
    }
    val anchor = math.min(fullAnchor, pointerV)
    val stale = root.listFiles
    if (stale != null)
      stale.filter { f =>
        val n = f.getName
        n.startsWith(s"$ManifestName.v") && {
          val tok = n.stripPrefix(s"$ManifestName.v")
          if (tok.nonEmpty && tok.forall(_.isDigit))
            // the v > m.version in-flight guard (a concurrent writer's
            // commit point) is implied: anchor <= m.version always
            tok.toLong < anchor
          else n.endsWith(".prepared") && {
            // a cross-root staging file whose version slot is already
            // decided (versions are contiguous up to m.version) is a
            // leftover from an aborted/outraced envelope: sweep it.
            // Slots ABOVE the current version stay — they may be a
            // live envelope's prepare phase
            val d = tok.stripSuffix(".prepared")
            d.nonEmpty && d.forall(_.isDigit) && d.toLong <= m.version
          }
        }
      }.foreach(sweep)
    // parquet checkpoint dirs sweep with their version files: a ckpt
    // below the anchor can no longer be referenced (the pointer's
    // version is >= anchor by construction). Orphans from crashed
    // checkpoint commits age below the anchor and sweep then.
    // checkpoint dirs referenced by LIVE branch heads are pinned
    // whatever version their name carries: a long-lived branch's fork
    // version can fall below the main anchor while the branch still
    // resolves through its spilled generation lists
    val branchCkpts: Set[String] =
      Option(root.listFiles).getOrElse(Array.empty).toSeq
        .filter(f => f.getName.startsWith("BRANCH.") &&
          !f.getName.endsWith(".base") && !f.getName.endsWith(".tmp"))
        .flatMap(f => scala.util.Try {
          val body = new String(Files.readAllBytes(f.toPath), UTF_8)
          """"ckpt"\s*:\s*"([^"]+)"""".r
            .findAllMatchIn(body).map(_.group(1)).toSeq
        }.getOrElse(Nil)).toSet
    val ckptDirs = new File(root, "_ckpt").listFiles
    if (ckptDirs != null) ckptDirs.filter { d =>
      val n = d.getName
      n.startsWith("ckpt-v") && !branchCkpts.contains(s"_ckpt/$n") && {
        val tok = n.stripPrefix("ckpt-v").takeWhile(_.isDigit)
        tok.nonEmpty && tok.toLong < anchor
      }
    }.foreach { d =>
      if (!dryRun) ckptCache.remove(d.getCanonicalPath)
      sweep(d)
    }
    swept
  }

  private[sources] def resolve(root: File, version: Option[Long]): Manifest =
    version match {
      case None =>
        read(root).getOrElse(throw new java.io.FileNotFoundException(
          s"no $ManifestName under $root"))
      case Some(v) if activeTxn(root)
          .exists(t => t.synchronized(t.versions.contains(v))) =>
        // an intermediate envelope state (a statement's OCC base within
        // the transaction) resolves from the overlay chain — those
        // versions have no files yet
        activeTxn(root).get.synchronized(
          activeTxn(root).get.versions(v))
      case Some(v) =>
        val live = read(root)
        def fromMain(): Manifest = {
          // the RETENTION window gates time travel, not mere log-file
          // presence: the sweep keeps extra entries below the window
          // only as the fold chain's anchor, and their DATA dirs are
          // already vacuumed — serving them would resolve a snapshot
          // whose files are gone
          val current = live.map(_.version).getOrElse(0L)
          val window = live.map(retainOf).getOrElse(RetainVersions)
          val timeOk = // a declared retainHours window extends travel
            withinTimeWindow(root, live.flatMap(retainMsOf), v)
          // a NAMED REF pins its version through the gate: its data
          // dirs are GC-protected for exactly as long as the ref lives
          val pinned = live.exists(m => refVersionsOf(m).contains(v))
          if (v <= current - window && !timeOk && !pinned)
            throw new java.io.FileNotFoundException(
              s"version $v of $root is not retained (window $window)")
          reconstruct(root, v).getOrElse(
            throw new java.io.FileNotFoundException(
              s"version $v of $root is not retained (window $window)"))
        }
        if (live.exists(_.version == v)) live.get
        else activeBranch(root) match {
          // a BRANCH session time-travels its OWN lineage: branch
          // commits resolve from the BRANCH.<name>.v<k> files (full
          // snapshots, all retained until the branch is consumed);
          // versions at or below the fork are shared prehistory and
          // resolve from the main log. A MAIN version past the fork is
          // NOT served — main may have advanced in parallel with the
          // same version numbers, and silently resolving the other
          // lineage is exactly the ambiguity a branch exists to prevent.
          case Some(b) =>
            val bf = branchVersionFile(root, b, v)
            val base = scala.util.Try(new String(Files.readAllBytes(
              branchBaseFile(root, b).toPath), UTF_8).trim.toLong)
              .getOrElse(-1L)
            if (bf.exists)
              parse(new String(Files.readAllBytes(bf.toPath), UTF_8), root)
            else if (v <= base) fromMain()
            else throw new java.io.FileNotFoundException(
              s"version $v is not on branch '$b' of $root " +
                s"(forked at v$base)")
          case None => fromMain()
        }
    }

  /** Resolve a committed snapshot of one table — the live one, or `version`
    * within the retention window (time travel). Missing manifest or evicted
    * version → clean error, never a partial read. Every generation dir is
    * scanned under the MANIFEST's schema, so dirs written before a column
    * was added null-backfill that column — the read side of sink schema
    * evolution.
    */
  def readTable(spark: SparkSession, root: String,
      version: Option[Long] = None, table: String = DefaultTable): DataFrame = {
    val m = resolve(new File(root), version)
    val ts = m.table(table)
    // per-table retention: the ROOT keeps the widest table's history
    // reconstructible, but time travel on THIS table honors the window
    // IT declared (TBLPROPERTIES retainVersions)
    version.foreach { v =>
      val live = read(new File(root))
      val current = live.map(_.version).getOrElse(0L)
      val window = live.map(lm => retainVersionsOf(lm.table(table)))
        .getOrElse(RetainVersions)
      val timeOk = withinTimeWindow(new File(root), // table's own hours
        live.flatMap(lm => retainHoursOf(lm.table(table)).map(_ * 3600000L)),
        v)
      // only THIS table's refs pierce ITS declared window (a ref on a
      // sibling table keeps the data alive manifest-wide but must not
      // silently widen this table's travel semantics)
      val pinned = live.exists(lm =>
        lm.tables.get(table).exists(ts =>
          refVersionsOfTable(ts).contains(v)))
      if (v <= current - window && !timeOk && !pinned)
        throw new java.io.FileNotFoundException(
          s"version $v of table '$table' is not retained " +
            s"(table window $window)")
    }
    reconcileDeltas(spark, root, ts,
      readDirs(spark, root, ts, ts.gens.map(_.path)))
  }

  private def readDirs(spark: SparkSession, root: String, ts: TableState,
      rels: Seq[String]): DataFrame = {
    if (rels.isEmpty) {
      if (ts.schemaJson.nonEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], ts.schema)
      else throw new java.io.FileNotFoundException(s"empty table under $root")
    } else {
      val dirs = rels.sorted.map(rel => new File(root, rel).toString)
      if (ts.schemaJson.nonEmpty)
        spark.read.schema(ts.schema).parquet(dirs: _*)
      else spark.read.parquet(dirs: _*)
    }
  }

  /** Manifest-level file skipping for point lookups: the sink hash-buckets
    * its rows on the merge key, so a key can only live in ONE bucket — a
    * lookup resolves just the covering bucket dirs from the manifest and
    * never opens the rest (the bucketed-table analogue of partition
    * pruning, done at the table-metadata layer). `numBuckets` must match
    * the writer's bucketing.
    */
  def bucketsForKeys(spark: SparkSession, keys: Seq[Long],
      numBuckets: Int): Seq[Long] = {
    // evaluate the SAME Catalyst expression the writer's
    // pmod(xxhash64(col), lit(n)) compiles to, driver-side: a point
    // lookup must stay metadata-only — launching a Spark job to hash five
    // literals would pay the very scheduling latency pruning avoids
    import org.apache.spark.sql.catalyst.expressions.{Literal, XxHash64}
    keys.map { k =>
      val h = XxHash64(Seq(Literal(k)), 42L).eval(null).asInstanceOf[Long]
      ((h % numBuckets) + numBuckets) % numBuckets
    }.distinct
  }

  def readTableForKeys(spark: SparkSession, root: String, keyCol: String,
      keys: Seq[Long], numBuckets: Int,
      table: String = DefaultTable): DataFrame = {
    val m = resolve(new File(root), None)
    val ts = m.table(table)
    val covering = bucketsForKeys(spark, keys, numBuckets).toSet
    val rels = ts.buckets.filter { case (b, _) => covering.contains(b) }
      .values.flatten.map(_.path).toSeq
    readDirs(spark, root, ts, rels).filter(col(keyCol).isin(keys: _*))
  }

  // ---- min/max stats: rendering, pruning ----

  /** Stats domain a column's TYPE collects and prunes under: `num` for
    * numeric/temporal (temporal values as epoch micros, so a date column
    * compares correctly against timestamp bounds; everything else via
    * BigDecimal), `str` for strings (UTF-8 byte order — Spark's own binary
    * string comparison, so what the stats rank is exactly what the
    * engine's `>=`/`<=` rank). Other types record no stats. Gating on the
    * DataType (not per-value parseability) plus the domain TAG on every
    * stored stat keeps a string column whose values parse numerically
    * ("9", "12") from ever having its lexical bounds (min="12", max="9")
    * misread as numeric ones — the numeric-string misprune stays
    * impossible while string clustering columns finally prune.
    */
  private def statsKind(dt: DataType): Option[String] = dt match {
    case _: org.apache.spark.sql.types.NumericType => Some("num")
    case org.apache.spark.sql.types.DateType => Some("num")
    case org.apache.spark.sql.types.TimestampType => Some("num")
    case org.apache.spark.sql.types.TimestampNTZType => Some("num")
    case org.apache.spark.sql.types.StringType => Some("str")
    case _ => None
  }

  /** String bounds longer than this are dropped (generation always kept):
    * manifest entries must stay metadata-sized even when a tracked string
    * column carries document-sized values.
    */
  private val MaxStringStatLen = 256

  /** Spark's string ordering is binary UTF-8 (UTF8String), which DIFFERS
    * from Java's UTF-16 `compareTo` for supplementary characters — string
    * pruning must rank bounds exactly as the engine ranks the filter, or
    * a generation could be wrongly skipped.
    */
  private[sources] def utf8Compare(a: String, b: String): Int = {
    val x = a.getBytes(UTF_8); val y = b.getBytes(UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c
      i += 1
    }
    x.length - y.length
  }

  private def statValue(v: Any): Option[BigDecimal] = v match {
    case null => None
    case t: java.sql.Timestamp =>
      Some(BigDecimal(math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000))
    case t: java.time.Instant =>
      Some(BigDecimal(t.getEpochSecond * 1000000L + t.getNano / 1000))
    case d: java.sql.Date =>
      Some(BigDecimal(d.toLocalDate.toEpochDay * 86400000000L))
    case d: java.time.LocalDate => Some(BigDecimal(d.toEpochDay * 86400000000L))
    case n: java.lang.Number => Some(BigDecimal(n.toString))
    case other => scala.util.Try(BigDecimal(other.toString)).toOption
  }

  // ---- search-optimization sidecars (point-lookup pruning on columns
  //      min/max spans can't skip) ----

  /** Columns eligible for a search sidecar and the domain their values
    * hash in: every integral type inserts as a long (so an int→long type
    * evolution keeps old sidecars valid), strings as UTF-8 strings.
    * Fractional/temporal/complex columns are ineligible — point equality
    * on them is either ill-posed (floating point) or better served by
    * clustering (timestamps are range-queried).
    */
  private[sources] def searchKind(dt: DataType): Option[String] = dt match {
    case org.apache.spark.sql.types.ByteType
       | org.apache.spark.sql.types.ShortType
       | org.apache.spark.sql.types.IntegerType
       | org.apache.spark.sql.types.LongType => Some("long")
    case org.apache.spark.sql.types.StringType => Some("str")
    case _ => None
  }

  /** HLL precision for per-generation NDV sketches: 2^10 registers ≈
    * ±3.2% relative error — CBO-grade, and a DENSE sketch caps at 1 KiB
    * (sparse mode keeps low-cardinality generations' sketches far
    * smaller, the common case once data clusters).
    */
  val NdvLgK = 10

  /** Stats/search columns whose type supports an NDV sketch, with the
    * domain their values hash in (same domains as [[searchKind]]).
    */
  private def ndvEligible(schema: StructType, statsCols: Seq[String],
      searchCols: Seq[String]): Seq[(String, String)] =
    (statsCols ++ searchCols).distinct.flatMap(c =>
      if (!schema.fieldNames.contains(c)) None
      else searchKind(schema(c).dataType).map(k => c -> k))

  /** The sketch aggregate for one column — integral values update in
    * the long domain so sketches stay mergeable across an int→long
    * type evolution.
    */
  private def ndvAgg(schema: StructType, c: String, kind: String)
      : org.apache.spark.sql.Column =
    org.apache.spark.sql.functions.hll_sketch_agg(
      if (kind == "long" &&
          schema(c).dataType != org.apache.spark.sql.types.LongType)
        col(c).cast("long")
      else col(c), NdvLgK).as(s"ndv_$c")

  private def ndvB64(v: Any): Option[String] = v match {
    case b: Array[Byte] if b.nonEmpty =>
      Some(java.util.Base64.getEncoder.encodeToString(b))
    case _ => None
  }

  /** Stats columns eligible for a KLL quantile sketch: plain numeric
    * types (temporal columns are range-pruned by bounds already, and
    * the double-cast semantics differ per type — scope stays honest).
    */
  private def kllEligible(schema: StructType,
      statsCols: Seq[String]): Seq[String] =
    statsCols.distinct.filter(c => schema.fieldNames.contains(c) &&
      schema(c).dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])

  private def kllAggCol(c: String): org.apache.spark.sql.Column =
    graft.functions.KllAgg(col(c).cast("double")).as(s"kll_$c")

  /** Union per-generation sketches into one distinct-count estimate.
    * None on empty input or an unparseable sketch (never a guess).
    */
  private[sources] def ndvUnion(sketchesB64: Seq[String]): Option[Long] =
    if (sketchesB64.isEmpty) None
    else scala.util.Try {
      val u = new org.apache.datasketches.hll.Union(NdvLgK)
      sketchesB64.foreach { s =>
        u.update(org.apache.datasketches.hll.HllSketch.heapify(
          org.apache.datasketches.memory.Memory.wrap(
            java.util.Base64.getDecoder.decode(s))))
      }
      math.round(u.getEstimate)
    }.toOption

  /** Search-sidecar false-positive rate: a false positive only costs an
    * extra generation scan (the engine re-applies the exact predicate);
    * 2% keeps the sidecar near the information-theoretic ~8 bits/value.
    */
  private val SearchFpp = 0.02

  private def searchSidecarName(column: String) = s"_search_$column"

  /** Write one column's membership sidecar next to the generation's
    * parquet: a 5-byte header (magic + domain tag) followed by a standard
    * Spark [[org.apache.spark.util.sketch.BloomFilter]]. The leading
    * underscore keeps it invisible to every parquet listing, so data
    * reads are untouched; it lives INSIDE the immutable generation dir,
    * so GC/time-travel liveness needs no extra bookkeeping and the
    * manifest stays metadata-sized (it records only WHICH columns are
    * indexed — [[BucketGen.search]]). Called from the EXECUTOR that
    * reduced the generation's filter (the keyed writer and the backfill
    * verb alike), so no filter's bytes funnel through the driver.
    */
  private[sources] def writeSidecarFile(
      conf: org.apache.hadoop.conf.Configuration, genDir: String,
      column: String, kind: String,
      bf: org.apache.spark.util.sketch.BloomFilter): Unit = {
    // write to an attempt-unique tmp name, then RENAME into place: with
    // task retries or speculative execution two attempts may write the
    // same sidecar concurrently, and two create-overwrite streams would
    // interleave bytes into a corrupt file (tolerated by the reader, but
    // silently costing the pruning). Rename is atomic, so the final file
    // is always ONE attempt's complete bytes, whichever lands last.
    val dest = new org.apache.hadoop.fs.Path(
      new File(genDir, searchSidecarName(column)).toString)
    val tmp = new org.apache.hadoop.fs.Path(
      new File(genDir,
        s".${searchSidecarName(column)}.${newNonce().take(8)}.tmp").toString)
    val fs = dest.getFileSystem(conf)
    val out = fs.create(tmp, true)
    try {
      out.write(Array[Byte]('G', 'S', 'B', '1',
        if (kind == "long") 'L' else 'S'))
      bf.writeTo(out)
    } finally out.close()
    fs.delete(dest, false) // rename does not overwrite on every FS
    if (!fs.rename(tmp, dest)) {
      fs.delete(tmp, false) // another attempt won the rename race
      ()
    }
  }

  /** Load a generation's search sidecar for `column`: (domain, filter), or
    * None when absent/unreadable/unknown-layout — the caller keeps the
    * generation (a sidecar problem must never become a wrong skip).
    */
  private[sources] def readSearchSidecar(conf: org.apache.hadoop.conf.Configuration,
      root: String, genRel: String, column: String)
      : Option[(String, org.apache.spark.util.sketch.BloomFilter)] =
    scala.util.Try {
      val p = new org.apache.hadoop.fs.Path(
        new File(new File(root, genRel), searchSidecarName(column)).toString)
      val in = p.getFileSystem(conf).open(p)
      try {
        val header = new Array[Byte](5)
        in.readFully(header)
        require(header(0) == 'G' && header(1) == 'S' && header(2) == 'B' &&
          header(3) == '1')
        val kind = if (header(4) == 'L') "long" else "str"
        (kind, org.apache.spark.util.sketch.BloomFilter.readFrom(in))
      } finally in.close()
    }.toOption

  /** One generation's stats aggregate: min/max per tracked field, an NDV
    * sketch per eligible column and a KLL sketch per numeric stats column
    * — grouped per key by [[writeKeyedGens]] and per existing generation
    * by [[buildIndexes]]; [[decodeStats]] reads a result row back.
    */
  private def statsAggs(schema: StructType, statFields: Seq[(String, String)],
      ndvCols: Seq[(String, String)], kllCols: Seq[String]): Seq[Column] =
    statFields.flatMap { case (c, _) =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")) } ++
      ndvCols.map { case (c, k) => ndvAgg(schema, c, k) } ++
      kllCols.map(kllAggCol)

  /** A generation's decoded stats: bounds, NDV sketches, KLL sketches. */
  private type GenStats =
    (Map[String, ColStat], Map[String, String], Map[String, String])

  /** Decode one [[statsAggs]] row into the manifest's per-generation
    * metadata: domain-tagged bounds (null bounds or document-sized
    * strings record no stat), NDV sketches, KLL sketches.
    */
  private def decodeStats(r: Row, statFields: Seq[(String, String)],
      ndvCols: Seq[(String, String)], kllCols: Seq[String]): GenStats = {
    val bounds = statFields.flatMap {
      case (c, "str") =>
        (r.getAs[Any](s"min_$c"), r.getAs[Any](s"max_$c")) match {
          case (lo: String, hi: String)
              if lo.length <= MaxStringStatLen &&
                hi.length <= MaxStringStatLen =>
            Some(c -> ColStat("str", lo, hi))
          case _ => None
        }
      case (c, _) =>
        (statValue(r.getAs[Any](s"min_$c")),
          statValue(r.getAs[Any](s"max_$c"))) match {
          case (Some(lo), Some(hi)) => Some(c -> ColStat("num",
            lo.bigDecimal.toPlainString, hi.bigDecimal.toPlainString))
          case _ => None
        }
    }.toMap
    val ndv = ndvCols.flatMap { case (c, _) =>
      ndvB64(r.getAs[Any](s"ndv_$c")).map(c -> _)
    }.toMap
    val kll = kllCols.flatMap(c =>
      ndvB64(r.getAs[Any](s"kll_$c")).map(c -> _)).toMap
    (bounds, ndv, kll)
  }

  /** The rows of `gens` under `schema`, each tagged in `keyCol` with the
    * key its generation is paired with — ONE scan however many
    * generations, the key resolving per row from the generation dir of
    * the file it was read from. This is what a keyed rewrite of several
    * generations reads: every row stays bound to the bucket (or
    * generation) it came from, whatever its columns hash to. Generation
    * dir names are unique within a table.
    */
  private def readKeyed(spark: SparkSession, root: File, schema: StructType,
      gens: Seq[(Long, BucketGen)], keyCol: String): DataFrame = {
    val keyOfDir = gens.map { case (k, g) => new File(g.path).getName -> k }.toMap
    val keyOf = udf { (f: String) =>
      val end = f.lastIndexOf('/')
      keyOfDir(f.substring(f.lastIndexOf('/', end - 1) + 1, end))
    }
    spark.read.schema(schema)
      .parquet(gens.map { case (_, g) => new File(root, g.path).toString }: _*)
      .withColumn(keyCol, keyOf(input_file_name()))
  }

  /** THE generation writer: write MANY generation dirs from one keyed
    * frame in ONE pass — every rewrite of the table layer goes through
    * it (merge buckets, delete/update generations, compaction, delta
    * collapse, group replacement, merge-on-read deltas, rebucket,
    * recluster cells). `keyed` must hold exactly `schema`'s columns plus
    * a LONG `keyCol`, and is read twice, so a caller whose frame is more
    * than a plain scan persists it: ONE aggregation job computes every
    * key's row count, bounds and sketches, ONE repartition-by-key
    * dynamic-partitioning write lands each key in its own dir (all rows
    * of a key co-locate in one task, so a key's dir is ONE file unless
    * `spread` fans it out), each key dir renames into `relFor(key)` (a
    * metadata move), and sidecars build for every key in one more job.
    * A key with no rows writes no generation. The alternative — one
    * filtered scan + write PER KEY — re-reads the frame key-count times
    * and leaves one file per input partition in every dir.
    */
  private def writeKeyedGens(spark: SparkSession, root: File,
      keyed: DataFrame, keyCol: String, schema: StructType,
      statsCols: Seq[String], searchCols: Seq[String],
      tmpRel: String, relFor: Long => String,
      spread: Option[(Int, Column)] = None): Seq[(Long, BucketGen)] = {
    val statFields = statsCols.distinct.flatMap(c =>
      if (schema.fieldNames.contains(c))
        statsKind(schema(c).dataType).map(k => c -> k)
      else None)
    val ndvEl = ndvEligible(schema, statsCols, searchCols)
    val kllEl = kllEligible(schema, statsCols)
    val keyRows = keyed.groupBy(col(keyCol))
      .agg(count(lit(1)).as("rows_"), statsAggs(schema, statFields, ndvEl,
        kllEl): _*)
      .collect().sortBy(_.getLong(0)) // bounded: one small row per key
    val search = searchCols.distinct.filter(c =>
      schema.fieldNames.contains(c) && searchKind(schema(c).dataType).nonEmpty)
    val tmpDir = new File(root, tmpRel)
    val cols = schema.fieldNames.map(col).toIndexedSeq
    // repartition by key alone caps parallelism at the KEY COUNT — fine
    // when keys are plentiful (merge buckets, recluster cells), but a
    // caller writing FEW keys from much data (rebucket down to a small
    // count) passes a row-level `spread` column so each key's rows fan
    // across tasks; partitionBy still routes every row to its key dir,
    // the dir just holds one file per (task, key)
    val writer = spread.fold(
      keyed.select(col(keyCol) +: cols: _*).repartition(col(keyCol))) {
        // explicit partition count: AQE must not coalesce the salted
        // shuffle back into fewer tasks than the fan-out asks for
        case (n, salt) => keyed.select(col(keyCol) +: cols: _*)
          .repartition(n, col(keyCol), salt)
      }
      .write.partitionBy(keyCol).mode("overwrite")
    // searched columns ALSO get parquet-native bloom filters: the
    // generation sidecar skips whole dirs, and within the dirs a lookup
    // does open, parquet-mr's row-group bloom check (driven by the
    // pushed-down equality, stock Spark) skips row groups — the two
    // levels compose like Snowflake's partition pruning + search access
    // path
    search.foldLeft(writer) { (w, c) =>
      w.option(s"parquet.bloom.filter.enabled#$c", "true")
    }.parquet(tmpDir.toString)
    val out = keyRows.toSeq.map { r =>
      val k = r.getLong(0)
      val rel = relFor(k)
      val dest = new File(root, rel)
      val src = new File(tmpDir, s"$keyCol=$k")
      require(src.isDirectory && src.renameTo(dest),
        s"cannot move keyed generation dir $src -> $dest")
      val (genStats, ndv, kll) = decodeStats(r, statFields, ndvEl, kllEl)
      k -> BucketGen(rel, genStats, r.getAs[Long]("rows_"), search, ndv, kll)
    }
    // sidecars for EVERY new generation build in ONE distributed pass
    // (per-partition partial filters keyed by (dir, column), merged by
    // reduceByKey, serialized from the reducing task — the buildIndexes
    // shape) instead of one small sequential job per generation: a
    // MERGE touching hundreds of buckets on a searched table pays one
    // job, not hundreds
    if (search.nonEmpty && out.nonEmpty) {
      import org.apache.spark.util.sketch.BloomFilter
      val conf = new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())
      val sizes = out.map { case (_, g) =>
        new File(root, g.path).getCanonicalPath -> math.max(g.rows, 1L)
      }.toMap
      val bSizes = spark.sparkContext.broadcast(sizes)
      val kinds = search.map(c =>
        c -> searchKind(schema(c).dataType).get).toMap
      val bKinds = spark.sparkContext.broadcast(kinds)
      val fpp = SearchFpp
      val rows = spark.read.schema(schema)
        .parquet(out.map { case (_, g) =>
          new File(root, g.path).toString }: _*)
        .select(input_file_name().as("__f") +:
          search.map(c => col(c)): _*)
      val searchArr = search.toArray
      rows.rdd.mapPartitions { it =>
        val partial = scala.collection.mutable.HashMap
          .empty[(String, String), BloomFilter]
        val dirCache = scala.collection.mutable.HashMap.empty[String, String]
        it.foreach { r =>
          val f = r.getString(0)
          val dir = dirCache.getOrElseUpdate(f, genDirOf(f))
          var i = 0
          while (i < searchArr.length) {
            val c = searchArr(i)
            val v = r.get(i + 1) // column i of the select after __f
            if (v != null) {
              val bf = partial.getOrElseUpdate((dir, c),
                BloomFilter.create(bSizes.value.getOrElse(dir, 1L), fpp))
              if (bKinds.value(c) == "long")
                bf.putLong(v.asInstanceOf[Number].longValue)
              else bf.putString(v.toString)
            }
            i += 1
          }
        }
        partial.iterator
      }.reduceByKey { (a, b) => a.mergeInPlace(b); a }
        .foreach { case ((dir, c), bf) =>
          writeSidecarFile(conf.value, dir, c, bKinds.value(c), bf)
        }
    }
    deleteRecursively(tmpDir)
    out
  }

  /** Generation dirs whose recorded [min,max] for `column` can overlap
    * [lower,upper] — generations with no stats for the column are always
    * kept (pruning must never turn a stats gap into a wrong answer).
    */
  def gensForRange(ts: TableState, column: String,
      lower: Any, upper: Any): Seq[BucketGen] =
    gensMatchingRange(ts, ts.gens, column, lower, upper)

  private def gensMatchingRange(ts: TableState, gens: Seq[BucketGen],
      column: String, lower: Any, upper: Any): Seq[BucketGen] = {
    // pruning is domain-gated like collection: the predicate's domain
    // comes from the column's CURRENT type, and a stored stat only
    // participates when its tag matches — a stat written under an older
    // layout or before a type evolution keeps its generation instead of
    // being reinterpreted in the wrong domain
    val kind = if (ts.schemaJson.isEmpty) None
      else ts.schema.fields.find(_.name == column)
        .flatMap(f => statsKind(f.dataType))
    kind match {
      case Some("num") =>
        val lo = statValue(lower)
        val hi = statValue(upper)
        gens.filter { g =>
          g.stats.get(column) match {
            case Some(ColStat("num", mn, mx)) =>
              val bmn = BigDecimal(mn)
              val bmx = BigDecimal(mx)
              hi.forall(bmn <= _) && lo.forall(bmx >= _)
            case _ => true
          }
        }
      case Some("str") =>
        val lo = Option(lower).map(_.toString)
        val hi = Option(upper).map(_.toString)
        gens.filter { g =>
          g.stats.get(column) match {
            case Some(ColStat("str", mn, mx)) =>
              hi.forall(utf8Compare(mn, _) <= 0) &&
                lo.forall(utf8Compare(mx, _) >= 0)
            case _ => true
          }
        }
      case _ => gens
    }
  }

  /** Range read with manifest-level data skipping on a NON-bucket-key
    * column: only generation dirs whose stats cover [lower,upper] are
    * opened (Snowflake micro-partition pruning analogue), then the exact
    * predicate still applies on the survivors.
    */
  def readTableRange(spark: SparkSession, root: String, column: String,
      lower: Any, upper: Any, table: String = DefaultTable): DataFrame =
    readTableRanges(spark, root, Seq((column, lower, upper)), table)

  /** Conjunctive multi-predicate pruned read: a generation is opened only
    * if EVERY predicate's [lower,upper] window can intersect its recorded
    * stats — the read path composite reclustering ([[reclusterBy]]) feeds,
    * where a (client_id, ts)-style mixed predicate prunes on BOTH
    * dimensions because each grid cell is tight in both.
    */
  def readTableRanges(spark: SparkSession, root: String,
      preds: Seq[(String, Any, Any)], table: String = DefaultTable): DataFrame = {
    require(preds.nonEmpty, "readTableRanges needs at least one predicate")
    val m = resolve(new File(root), None)
    val ts = m.table(table)
    val kept = preds.foldLeft(ts.gens) { case (gens, (c, lo, hi)) =>
      gensMatchingRange(ts, gens, c, lo, hi)
    }
    readDirs(spark, root, ts, kept.map(_.path))
      .filter(preds.map { case (c, lo, hi) =>
        col(c) >= lit(lo) && col(c) <= lit(hi)
      }.reduce(_ && _))
  }

  // ---- multi-table atomic merge ----

  /** One table's share of a micro-batch: rows to merge, the merge grain,
    * bucketing, which columns to track stats for, and the write mode —
    * merge (rewrite touched buckets, upsert semantics), append (add one
    * narrow-stats generation per touched bucket, never reading existing
    * data: the immutable-fact shape whose per-batch generations are what
    * ts-range skipping prunes), or replace-by-key when `deleteKeys` is set:
    * existing rows whose merge-key tuple appears in `deleteKeys` are
    * dropped, then ALL batch rows insert — the group-replacement merge an
    * incrementally-maintained derived table needs (a re-derived group may
    * emit different keys than it previously published, which a pure upsert
    * would leave stale).
    */
  case class TableBatch(name: String, rows: DataFrame, mergeKeys: Seq[String],
      numBuckets: Int, statsCols: Seq[String] = Nil, append: Boolean = false,
      deleteKeys: Option[DataFrame] = None, changeFeed: Boolean = false,
      overwrite: Boolean = false, searchCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty) {
    require(!(append && deleteKeys.nonEmpty),
      "append batches cannot carry a delete set")
    require(!(overwrite && (append || deleteKeys.nonEmpty || changeFeed)),
      "overwrite batches replace the table wholesale: no append, no delete " +
        "set, and no change feed (a full replacement is a feed reset)")
  }

  private val BucketCol = "__graft_bucket"

  /** Key column of a per-generation rewrite ([[rewriteGens]]). */
  private val GenCol = "__graft_gen"

  /** Change-feed metadata columns (the Delta CDF column names). */
  val ChangeTypeCol = "_change_type"
  val CommitVersionCol = "_commit_version"

  /** Merge-on-read delta rows carry this marker column alongside the
    * table schema: "i" insert, "u" update (upsert), "d" delete
    * (tombstone — non-key columns null).
    */
  val RowOpCol = "_row_op"

  /** Reconciliation broadcasts the touched-key side of its anti-join
    * when the manifest-recorded delta row total stays under this — the
    * scale path: the base scan never shuffles, it streams through a
    * broadcast hash anti-join. Past the bound (a table overdue for
    * compaction) the join falls back to a shuffled key join.
    */
  val BroadcastDeltaRows = 4000000L

  /** The merge-on-read read-side contract: fold a table's outstanding
    * row deltas onto `base` (the base generations' rows, table schema).
    * Per key, the LATEST delta entry wins — a tombstone removes the row,
    * an upsert replaces it; keys with no delta entry pass through
    * untouched. Delta entries order per bucket by commit order, and a
    * key hashes to exactly one bucket, so the per-bucket sequence IS the
    * key's global order.
    *
    * Shape at scale: the delta side is bounded by churn since the last
    * compaction (compact/collapseDeltas fold it away), so the plan is
    * base-scan → broadcast hash anti-join + a small windowed
    * latest-per-key over delta rows only. The base scan itself never
    * shuffles or re-sorts.
    */
  def reconcileDeltas(spark: SparkSession, root: String, ts: TableState,
      base: DataFrame): DataFrame = {
    if (ts.deltas.isEmpty) return base
    val keys = ts.mergeKeys
    require(keys.nonEmpty,
      "merge-on-read reconciliation needs recorded merge keys")
    val schema = ts.schema
    val deltaSchema = StructType(schema.fields :+
      org.apache.spark.sql.types.StructField(RowOpCol,
        org.apache.spark.sql.types.StringType))
    // per delta dir: its position in the bucket's commit order (the
    // latest-wins sequence); dirs stay few by the compaction contract
    val legs = ts.deltas.toSeq.flatMap { case (_, gens) =>
      gens.zipWithIndex.map { case (g, i) =>
        spark.read.schema(deltaSchema)
          .parquet(new File(root, g.path).toString)
          .withColumn("__seq", lit(i.toLong))
      }
    }
    val all = legs.reduce(_ unionByName _)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col).toIndexedSeq: _*)
      .orderBy(col("__seq").desc)
    val latest = all
      .withColumn("__rn", row_number().over(w)).filter(col("__rn") === 1)
      .drop("__rn", "__seq")
    val touched = latest.select(keys.map(col).toIndexedSeq: _*)
    val deltaRows = ts.deltaGens.map(_.rows)
    val small = deltaRows.forall(_ >= 0L) &&
      deltaRows.sum <= BroadcastDeltaRows
    val cond = keys.map(k => base(k) <=> touched(k)).reduce(_ && _)
    base.join(if (small) broadcast(touched) else touched, cond, "left_anti")
      .unionByName(latest.filter(col(RowOpCol) =!= "d")
        .select(schema.fieldNames.map(col).toIndexedSeq: _*))
  }

  // ---- bucket-level intent ledger (ADVISORY: correctness never depends
  // on it — the link(2) OCC commit still decides every version; intents
  // only shape who derives when, and what GC leaves alone) ----
  //
  // A mergeBatch writer declares `(timestamp, table → (bucketCount,
  // touched bucket set))` in `_intents/<nonce>.intent` the moment its
  // touched-bucket set is known (one distinct over the already-persisted
  // incoming keys — no second pass over the batch), and removes it after
  // its commit decides. Three effects:
  //  1. SAME-BUCKET rivals stop paying derive→lose→re-derive: a writer
  //     that sees an EARLIER overlapping live intent waits for it to
  //     clear (bounded), then restarts its attempt against the winner's
  //     committed state — one derivation each, serialized by declared
  //     intent instead of by wasted work.
  //  2. DISJOINT-bucket rivals already rebase (rename, zero re-derive);
  //     the ledger closes their one remaining restage window: GC spares
  //     dirs carrying a LIVE intent's nonce, so a loser's staged dirs
  //     can no longer vanish between its rebase rename and its commit.
  //  3. A crashed writer's intent expires after [[IntentTtlMs]] — it
  //     stops gating rivals and stops sparing dirs; the normal orphan
  //     collection applies from there.
  //
  // At 100 TB this is what lets N contending streams on one table cost
  // N derivations total instead of O(N²): ledger files are bytes, the
  // avoided work is shuffles.

  /** How long a declared intent is believed (crash cover). */
  private[graft] var IntentTtlMs: Long = 10 * 60 * 1000L

  /** Max total wait for earlier overlapping intents before deriving
    * anyway (OCC still protects; this only bounds politeness).
    */
  private[graft] var IntentPatienceMs: Long = 60 * 1000L

  /** Diagnostics for contention specs: how many table derivations ran,
    * and how many previously-staged updates had to be thrown away and
    * re-derived (a "restage").
    */
  private[graft] val mergeDeriveCount = new java.util.concurrent.atomic.AtomicLong
  private[graft] val mergeRestageCount = new java.util.concurrent.atomic.AtomicLong

  private case class Intent(nonce: String, ts: Long,
      tables: Map[String, (Int, Set[Long])]) {
    def overlaps(other: Intent): Boolean =
      tables.exists { case (t, (n, bs)) =>
        other.tables.get(t).exists { case (n2, bs2) =>
          n != n2 || bs.contains(-1L) || bs2.contains(-1L) ||
            bs.intersect(bs2).nonEmpty
        }
      }
    /** Ledger priority: earlier call wins; nonce breaks ties, so two
      * overlapping writers can never each wait for the other.
      */
    def before(other: Intent): Boolean =
      ts < other.ts || (ts == other.ts && nonce < other.nonce)
  }

  private def intentsDir(root: File) = new File(root, "_intents")

  private def writeIntent(root: File, i: Intent): Unit = {
    val d = intentsDir(root)
    Files.createDirectories(d.toPath)
    val body = i.ts.toString + "\n" + i.tables.map { case (t, (n, bs)) =>
      s"$t:$n:${bs.toSeq.sorted.mkString(",")}"
    }.mkString("\n")
    val tmp = new File(d, s".${i.nonce}.tmp")
    Files.write(tmp.toPath, body.getBytes(UTF_8))
    tmp.renameTo(new File(d, s"${i.nonce}.intent")): Unit
  }

  private def removeIntent(root: File, nonce: String): Unit = {
    new File(intentsDir(root), s"$nonce.intent").delete(): Unit
  }

  private def liveIntents(root: File): Seq[Intent] = {
    val fs = intentsDir(root).listFiles
    if (fs == null) return Nil
    val now = System.currentTimeMillis()
    fs.filter(_.getName.endsWith(".intent")).flatMap { f =>
      scala.util.Try {
        val lines = new String(Files.readAllBytes(f.toPath), UTF_8)
          .split("\n")
        val tables = lines.tail.filter(_.nonEmpty).map { l =>
          val parts = l.split(":", 3)
          val bs = parts(2).split(",").filter(_.nonEmpty)
            .map(_.toLong).toSet
          parts(0) -> ((parts(1).toInt, bs))
        }.toMap
        Intent(f.getName.stripSuffix(".intent"), lines.head.trim.toLong,
          tables)
      }.toOption
    }.filter(i => now - i.ts < IntentTtlMs).toSeq
  }

  /** Dir-name nonces GC must spare: every live intent's writer may still
    * commit (or rebase-rename) dirs carrying its nonce. As a side
    * effect, EXPIRED intent files (crashed writers past [[IntentTtlMs]])
    * are deleted here — GC is the natural hygiene point, and a deleted
    * expired intent spares nothing, which is exactly the contract.
    */
  private def inflightNonces(root: File): Set[String] = {
    val live = liveIntents(root).map(_.nonce).toSet
    val fs = intentsDir(root).listFiles
    if (fs != null) fs
      .filter(f => f.getName.endsWith(".intent") &&
        !live.contains(f.getName.stripSuffix(".intent")))
      .foreach(f => f.delete(): Unit)
    live
  }

  /** Block while an EARLIER overlapping live intent exists, up to the
    * ABSOLUTE `deadline` (one patience budget per mergeBatch call, so a
    * crashed rival's lingering intent can stall a writer at most once,
    * not once per attempt). Returns true when it actually waited — the
    * caller's view of the table may be stale and the attempt should
    * restart.
    */
  private def awaitIntentTurn(root: File, mine: Intent,
      deadline: Long): Boolean = {
    var waited = false
    while (System.currentTimeMillis() < deadline &&
        liveIntents(root).exists(o =>
          o.nonce != mine.nonce && o.overlaps(mine) && o.before(mine))) {
      waited = true
      Thread.sleep(25L)
    }
    waited
  }

  /** Same-thread re-entrancy marker: a mergeBatch nested inside another
    * (the deterministic fault-injection harness runs a competing writer
    * INSIDE the outer writer's commit path) must never ledger-wait on
    * its host — that would deadlock the very thread that has to clear
    * the intent.
    */
  private val inMergeBatch = new ThreadLocal[java.lang.Boolean] {
    override def initialValue(): java.lang.Boolean = false
  }

  /** Restart the current mergeBatch attempt (after an intent wait — the
    * manifest may have moved) without burning an OCC retry.
    */
  private case class RestartAttempt() extends Exception

  /** [[mergeBatch]] under the calling SESSION's governance context —
    * the provider-API analogue of the session-enforced owner verbs
    * (SQL MERGE and the CALL verbs were already policy-aware; a
    * provider user calling mergeBatch directly still wrote as owner).
    * Per governed table, rows the session's row policy HIDES are
    * untouchable: incoming rows keyed to a hidden existing row (and
    * delete keys addressing one) drop from the batch, so hidden rows
    * survive byte-exactly — the same "act on policy-visible rows only"
    * contract the policy-aware MERGE implements. The flavor covers the
    * full provider-write surface: APPEND batches drop rows keyed to a
    * hidden row (an unkeyed append passes through — it cannot touch an
    * existing row), and OVERWRITE batches replace only the visible
    * rows, carrying the hidden complement into the replacement. Session
    * attrs fold at call time; a subquery policy refuses fast, like the
    * enforced verbs. Policy-free tables pass through untouched.
    */
  def mergeBatchEnforced(spark: SparkSession, root: File, qid: String,
      batchId: Long, batches: Seq[TableBatch]): Unit = {
    // the hidden-key filter derives PER OCC ATTEMPT from that attempt's
    // manifest (the adjust hook below), never from one head snapshot: a
    // concurrent commit landing a newly-hidden key between snapshot and
    // retry would otherwise be overwritten — the retry machinery only
    // reuses staged work when the interleaved winner's buckets are
    // disjoint from ours, and a same-key conflict shares the bucket, so
    // every re-derivation sees the fresh hidden set
    val adjust: (Manifest, TableBatch) => TableBatch = { (m, tb) =>
      val ts = m.table(tb.name)
      val policySql =
        if (ts.schemaJson.isEmpty) None
        else ts.props.get(graft.plans.RowPolicyRule.PolicyKey)
      policySql match {
        case None => tb
        // a pure APPEND on an UNKEYED table cannot touch an existing
        // row by construction — nothing to enforce
        case Some(_) if tb.append && tb.mergeKeys.isEmpty => tb
        case Some(sqlTxt) =>
          val policy = GovernedRows.asColumn(GovernedRows.compile(
            spark, ts.schema, sqlTxt, s"row policy on '${tb.name}'"))
          // read the ATTEMPT manifest's own state directly (readTable
          // would re-resolve — wrong under an envelope or branch)
          val hidden =
            reconcileDeltas(spark, root.toString, ts,
              readDirs(spark, root.toString, ts, ts.gens.map(_.path)))
            .filter(!coalesce(policy, lit(false)))
          if (tb.overwrite) {
            // an enforced OVERWRITE replaces only the VISIBLE rows: the
            // hidden complement rides into the replacement unchanged
            // (aligned to the incoming schema — evolution null-backfills
            // new columns, a dropped column drops for hidden rows too,
            // the table-wide contract), and incoming rows keyed to a
            // hidden row drop — hidden rows are untouchable, exactly the
            // keyed-merge rule below
            val keep =
              if (tb.mergeKeys.isEmpty) tb.rows
              else tb.rows.join(
                hidden.select(tb.mergeKeys.map(col): _*),
                tb.mergeKeys, "left_anti")
            val aligned = tb.rows.columns.foldLeft(hidden)((df, c) =>
              if (df.columns.contains(c)) df
              else df.withColumn(c, lit(null).cast(
                tb.rows.schema(c).dataType)))
              .select(tb.rows.columns.map(col).toIndexedSeq: _*)
            tb.copy(rows = keep.unionByName(aligned))
          } else {
            val hiddenKeys = hidden.select(tb.mergeKeys.map(col): _*)
            tb.copy(
              rows = tb.rows.join(hiddenKeys, tb.mergeKeys, "left_anti"),
              deleteKeys = tb.deleteKeys.map(
                _.join(hiddenKeys, tb.mergeKeys, "left_anti")))
          }
      }
    }
    mergeBatch(root, qid, batchId, batches, adjust)
  }

  /** Multi-table idempotent merge-upsert of one micro-batch: every table's
    * touched buckets are merged and written to NEW immutable generation
    * dirs, then ALL tables publish with ONE atomic manifest swap — a crash
    * anywhere before the swap leaves every table at the previous snapshot
    * (no header-without-lines states), and replayed (queryId, batchId)
    * pairs are exact no-ops. Per-batch cost scales with the batch's key
    * spread across buckets, never with total table size.
    *
    * Schema evolution: each table's manifest schema unifies with the
    * incoming batch's (new columns append); existing generation dirs are
    * merged under the unified schema (missing columns null-backfill), so a
    * column added mid-stream flows into the committed table without
    * rewriting untouched buckets.
    *
    * Its retry loop is its own (intent-ledger restarts, staged-update
    * reuse across attempts) but retries on the shared [[retryable]] rule
    * and commits through [[publish]].
    *
    * Each attempt runs in two phases over all tables at once, on
    * [[settleAll]]: phase A plans every table concurrently (adjust,
    * staged rebase, else align, persist, enforce constraints and find
    * the touched buckets); the whole intent is then declared ONCE; phase
    * B derives every planned table concurrently (read the touched
    * generations, merge, write generations and change feed). The tables
    * write disjoint dirs and meet only in the one publish, so their job
    * chains share the cores instead of queueing behind each other.
    */
  def mergeBatch(root: File, qid: String, batchId: Long,
      batches: Seq[TableBatch],
      // per-attempt batch rewrite against THAT attempt's manifest —
      // [[mergeBatchEnforced]]'s hidden-row filter; identity otherwise
      adjust: (Manifest, TableBatch) => TableBatch = (_, tb) => tb)
      : Unit = {
    // nothing to merge never commits (see the all-empty case below)
    if (batches.isEmpty) return
    val spark = batches.head.rows.sparkSession
    var attempt = 0
    var committed: Option[Manifest] = None
    // staged bucket rewrites carried ACROSS OCC retries: per table, the
    // TableState the work was derived against and the written update. A
    // retry REUSES them (renaming the generation dirs onto the new
    // target version) when the interleaved winner provably shares
    // nothing with them — layout identical, no new deltas, changed
    // buckets disjoint from ours. This is the snapshot-isolation
    // narrowing the row-level verbs gate behind a table property,
    // sound here UNCONDITIONALLY: a bucket rewrite reads only its own
    // bucket's generations, so re-deriving against the new manifest
    // would reproduce identical work for buckets the winner never
    // touched. Contending writers on disjoint keys stop paying
    // rebase-restage; the same-bucket case restages exactly as before.
    val staged = scala.collection.mutable.Map.empty[
      String, (TableState, TableUpdate)]
    // one writer identity for the whole call: dirs are named with it, the
    // intent ledger declares it, GC spares it while the intent is live
    val nonce = newNonce()
    val writerTs = System.currentTimeMillis()
    // nested (same-thread) writers never ledger-wait — see inMergeBatch
    val nested = inMergeBatch.get.booleanValue
    inMergeBatch.set(true)
    val patienceDeadline =
      if (nested) 0L else writerTs + IntentPatienceMs
    val declared = scala.collection.mutable.Map.empty[String, (Int, Set[Long])]
    def myIntent = Intent(nonce, writerTs, declared.toMap)
    var restarts = 0
    try {
    while (committed.isEmpty) {
      // from the second attempt on the intent is fully declared: take
      // our ledger turn BEFORE re-deriving (no restart needed here — the
      // manifest is read fresh right after)
      if (declared.nonEmpty)
        awaitIntentTurn(root, myIntent, patienceDeadline): Unit
      // a copy-on-write bucket rewrite reads base generation bytes
      // directly: fold any outstanding merge-on-read deltas first so
      // the rewrite can't resurrect tombstoned or stale-versioned rows
      batches.foreach { tb =>
        if (read(root).exists(_.table(tb.name).deltas.nonEmpty))
          collapseDeltas(tb.rows.sparkSession, root, tb.name): Unit
      }
      val manifest = read(root).getOrElse(empty)
      if (manifest.queryId == qid && batchId <= manifest.lastBatch)
        return // replayed batch of the SAME query: already committed
      val plans = scala.collection.mutable.ListBuffer.empty[TablePlan]
      try {
        // phase A, plan: a table whose staged update rebases onto this
        // attempt is done (Left); every other one is planned (Right)
        val prior = staged.toMap
        val planned = settleAll(spark, batches.size, batches.map { tb0 => () =>
          val tb = adjust(manifest, tb0)
          val prev = manifest.table(tb.name)
          val reused = prior.get(tb.name).flatMap { case (base, upd) =>
            if (rebasableUpdate(base, prev, upd))
              rebaseStaged(root, upd, manifest.version + 1)
            else None
          }
          reused.map(u => Left((prev, u)))
            .getOrElse(Right(planTable(manifest, tb)))
        })
        // staged bookkeeping stays on this thread; every settled plan is
        // registered for release before a failure surfaces
        batches.zip(planned).foreach {
          case (tb, scala.util.Success(how)) =>
            if (staged.contains(tb.name) && how.isRight)
              mergeRestageCount.incrementAndGet(): Unit
            staged.remove(tb.name)
            how match {
              case Left(u) => staged += tb.name -> u
              case Right(p) => plans += p
            }
          case _ =>
        }
        val outcomes = planned.map(_.get)
        // the whole intent, declared once, BEFORE any derivation: yield
        // to earlier overlapping writers — if we actually waited, the
        // manifest may have moved, so restart the attempt
        if (plans.nonEmpty) {
          plans.foreach(p => declared(p.tb.name) = (p.tb.numBuckets,
            if (p.tb.overwrite) Set(-1L) else p.touched.toSet))
          writeIntent(root, myIntent)
          if (awaitIntentTurn(root, myIntent, patienceDeadline))
            throw RestartAttempt()
        }
        // phase B, derive: every planned table's job chain at once
        val derived = settleAll(spark, plans.size,
          plans.toSeq.map(p => () => deriveTable(root, manifest, nonce, p)))
        plans.zip(derived).foreach { case (p, d) =>
          d.foreach(_.foreach(u => staged += p.tb.name -> ((p.prev, u))))
        }
        val fresh = plans.map(_.tb.name).zip(derived.map(_.get)).toMap
        val updates: Map[String, TableUpdate] =
          batches.zip(outcomes).flatMap { case (tb, how) =>
            (how match {
              case Left((_, u)) => Some(u)
              case Right(p) => fresh(p.tb.name)
            }).map(tb.name -> _)
          }.toMap
        // an all-empty micro-batch (Spark does deliver them) must NOT
        // commit: a bucketless manifest helps no reader, and re-running
        // the empty batch is a harmless no-op, so skipping the lastBatch
        // advance is safe
        if (updates.isEmpty) return
        val op =
          if (batches.exists(_.overwrite)) "OVERWRITE"
          else if (batches.forall(_.append)) "APPEND"
          else "MERGE"
        committed = Some(publish(root, manifest, op,
          Fold(updates, Some((qid, batchId)))))
      } catch {
        case _: RestartAttempt if restarts < 10000 =>
          // an intent wait after planning: nothing was derived yet;
          // re-read the manifest and go again without burning an OCC
          // retry (the wait itself is patience-bounded)
          restarts += 1
        case e: Throwable if retryable(root, e, attempt, manifest) =>
          // lost the race, or a winner's GC collected this attempt's
          // in-flight dirs: its dirs are orphans GC collects; rebase
          attempt += 1
      } finally plans.foreach(_.release())
    }
    } finally {
      removeIntent(root, nonce)
      if (!nested) inMergeBatch.set(false)
    }
    committed.foreach(gc(root, _))
  }

  // ---- CHECK constraints (`TBLPROPERTIES ('constraint.<name>' =
  // '<boolean SQL>')`) — the Snowflake/Delta table-constraint shape:
  // declared once, enforced on EVERY write path (mergeBatch family,
  // CoW group replacement, merge-on-read deltas, update_where), with
  // adding a constraint validating existing data first (the ALTER
  // surface does that) so a declared constraint is an invariant, not a
  // hope. Standard SQL CHECK semantics: a row violates only when the
  // condition evaluates to exactly FALSE — NULL passes. ----

  /** The table's declared CHECK constraints: name → boolean SQL text. */
  private[sources] def constraintsOf(props: Map[String, String])
      : Seq[(String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith("constraint.") =>
        k.stripPrefix("constraint.") -> v
    }.sortBy(_._1)

  /** The table's declared GENERATED columns (`TBLPROPERTIES
    * ('generated.<col>' = '<sql expr>')`): column → expression text.
    * A generated column is ALWAYS derived — every write path overwrites
    * it with the expression over the batch's natural columns (the
    * Snowflake computed-column / Delta generated-column shape, with the
    * simpler always-derive contract instead of provide-and-validate:
    * writers cannot set it, so it cannot drift). Expressions see the
    * row's other columns; chaining one generated column off another is
    * undefined (single select, original bindings).
    */
  private[sources] def generatedOf(props: Map[String, String])
      : Seq[(String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith("generated.") =>
        k.stripPrefix("generated.") -> v
    }.sortBy(_._1)

  /** IDENTITY columns declared through Spark's native DDL
    * (`GENERATED ALWAYS AS IDENTITY (START WITH s INCREMENT BY k)` —
    * the Snowflake `AUTOINCREMENT` shape): the analyzer records
    * `identity.start` / `identity.step` in the field's metadata, which
    * the manifest persists verbatim through `schema.json`. Returns
    * (column, start, step) per declared identity column.
    */
  private[sources] def identityOf(schema: StructType)
      : Seq[(String, Long, Long, Boolean)] =
    schema.fields.toSeq.flatMap { f =>
      val m = f.metadata
      if (m.contains("identity.start") || m.contains("identity.step"))
        Some((f.name,
          if (m.contains("identity.start")) m.getLong("identity.start")
          else 1L,
          if (m.contains("identity.step")) m.getLong("identity.step")
          else 1L,
          if (m.contains("identity.allowExplicitInsert"))
            m.getBoolean("identity.allowExplicitInsert")
          else true))
      else None
    }

  /** Table-property key holding an identity column's high-water mark —
    * the next value the NEXT writer's block reservation starts at.
    * Advanced in the SAME atomic commit as the data it numbered, so ids
    * and their reservation can never diverge.
    */
  private[sources] def identityHwmKey(col: String): String =
    s"identity.hwm.$col"

  /** Fill NULL identity slots with engine-generated values from a block
    * reserved against the table's high-water mark. Returns (filled
    * frame, hwm props the CALLER must stamp into ITS commit, persisted
    * intermediate to unpersist after the write). Concurrent-writer
    * uniqueness is the OCC contract on every caller: a rival commit
    * that consumed ids moves the hwm property, which fails both the
    * mergeBatch staged-rebase props check and the row-level paths'
    * snapshot-rebase props check, forcing re-derivation against the
    * fresh block. One id per frame row reserves (uniqueness, not
    * density — Snowflake documents AUTOINCREMENT gaps). `skip` exempts
    * rows that must stay untouched (merge-on-read tombstones carry null
    * data columns by design).
    *
    * Fully DECLARATIVE — no RDD round-trip, the write stays codegen'd:
    * pass 1 counts rows per partition over the persisted frame (one
    * tiny job, ≤ one row per partition to the driver); pass 2 assigns
    * `hwm + step · (partition offset + row-within-partition)`, where
    * the within-partition counter is `monotonically_increasing_id`'s
    * low 33 bits and the partition's starting offset broadcast-joins in
    * on `spark_partition_id()` — both passes read the SAME cached
    * blocks, so the (pid, ridx) pairs are stable between them.
    */
  private def fillIdentitySlots(spark: SparkSession, tableSchema: StructType,
      effProps: Map[String, String], df: DataFrame,
      skip: Option[Column] = None)
      : (DataFrame, Map[String, String], Option[DataFrame]) = {
    val idCols = identityOf(tableSchema)
    if (idCols.isEmpty) return (df, Map.empty, None)
    val pre = df.persist()
    val counts = pre.groupBy(spark_partition_id().as("__pid")).count()
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = counts.map(_._2).sum
    if (n == 0L) return (pre, Map.empty, Some(pre))
    val schema = pre.schema
    var acc = 0L
    val offsets = counts.map { case (p, c) =>
      val o = acc; acc += c; Row(p, o)
    }
    val offDf = spark.createDataFrame(
      java.util.Arrays.asList(offsets: _*),
      StructType(Seq(
        org.apache.spark.sql.types.StructField("__pid", IntegerType,
          nullable = false),
        org.apache.spark.sql.types.StructField("__off",
          org.apache.spark.sql.types.LongType, nullable = false))))
    val withIdx = pre
      .withColumn("__pid", spark_partition_id())
      .withColumn("__ridx",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(broadcast(offDf), "__pid")
    val filled0 = idCols.foldLeft(withIdx) { case (d, (name, start, step, _)) =>
      val base = effProps.get(identityHwmKey(name))
        .map(_.toLong).getOrElse(start)
      val gen = (lit(base) + lit(step) * (col("__off") + col("__ridx")))
        .cast(schema(name).dataType)
      val fill = when(col(name).isNull, gen).otherwise(col(name))
      d.withColumn(name,
        skip.fold(fill)(s => when(s, col(name)).otherwise(fill)))
    }
    val filled = filled0.select(schema.fieldNames.map(col).toIndexedSeq: _*)
    (filled, idCols.map { case (name, start, step, _) =>
      val base = effProps.get(identityHwmKey(name))
        .map(_.toLong).getOrElse(start)
      identityHwmKey(name) -> (base + step * n).toString
    }.toMap, Some(pre))
  }

  /** Overwrite every declared generated column with its expression —
    * a pure per-row projection (map-side, codegen'd, no pass added).
    */
  private[sources] def applyGenerated(table: String,
      props: Map[String, String], schema: StructType,
      df: DataFrame): DataFrame = {
    val gs = generatedOf(props).filter(g => schema.fieldNames.contains(g._1))
    if (gs.isEmpty) df
    else {
      import org.apache.spark.sql.functions.expr
      gs.foldLeft(df) { case (d, (c, sql)) =>
        val e = try expr(sql) catch {
          case ex: Exception => throw new IllegalArgumentException(
            s"generated column '$c' on table '$table' does not parse: " +
              s"$sql", ex)
        }
        d.withColumn(c, e.cast(schema(c).dataType))
      }
    }
  }

  /** Enforce every declared CHECK constraint on a batch of would-be
    * rows. ONE aggregate pass over the (caller-persisted) batch counts
    * all constraints together — map-side, no shuffle, and only tables
    * that declare any pay it; the first violated constraint fetches one
    * sample row for the error. Nothing commits on violation.
    */
  private[sources] def enforceConstraints(table: String,
      props: Map[String, String], rows: DataFrame): Unit = {
    val cs = constraintsOf(props)
    if (cs.isEmpty) return
    import org.apache.spark.sql.functions.expr
    val exprs = cs.map { case (n, sql) =>
      (n, sql,
        try expr(sql) catch {
          case e: Exception => throw new IllegalArgumentException(
            s"CHECK constraint '$n' on table '$table' does not parse: " +
              s"$sql", e)
        })
    }
    def violations(e: org.apache.spark.sql.Column) =
      sum(when(e <=> lit(false), 1L).otherwise(0L))
    val counts = rows.agg(
      violations(exprs.head._3).as(exprs.head._1),
      exprs.tail.map { case (n, _, e) => violations(e).as(n) }: _*).head
    exprs.zipWithIndex.foreach { case ((n, sql, e), i) =>
      val bad = if (counts.isNullAt(i)) 0L else counts.getLong(i)
      if (bad > 0L) {
        val sample = rows.filter(e <=> lit(false)).head
        throw new IllegalArgumentException(
          s"CHECK constraint '$n' ($sql) on table '$table' violated by " +
            s"$bad row(s), e.g. $sample — nothing was committed")
      }
    }
  }

  // ---- DATA METRIC FUNCTIONS (`TBLPROPERTIES ('metric.<name>' =
  // '<sql>')`) — the Snowflake DMF surface: declarative quality metrics
  // evaluated on a maintenance sweep and RECORDED into an ops table
  // instead of refusing the write (the CHECK machinery generalized from
  // gate to gauge; the reference's anomaly pipeline,
  // sql/06_anomaly_detection.sql, is exactly this pattern at row
  // grain). ----

  /** Declared data metric functions: (name, sql expression). */
  private[sources] def metricsOf(props: Map[String, String])
      : Seq[(String, String)] =
    props.toSeq.collect {
      case (k, v) if k.startsWith("metric.") =>
        k.stripPrefix("metric.") -> v
    }.sortBy(_._1)

  /** The ops table every metric sweep records into: one row per
    * (table, metric, evaluated manifest version) — a time series, the
    * Snowflake DMF event-table shape.
    */
  val MetricsTable = "_metrics"

  /** Evaluate every table's declared metrics at the CURRENT snapshot and
    * record the results into [[MetricsTable]] as ONE atomic commit.
    * A metric expression may be either:
    *  - a boolean ROW PREDICATE (`email is null`) → the metric value is
    *    the count of rows where it holds (violation counting — CHECK
    *    semantics, recorded instead of refused);
    *  - an AGGREGATE (`count(distinct email)`, `max(load_ts)`) → its
    *    scalar value, cast to double.
    * All of one table's metrics evaluate in ONE aggregate pass (map-side
    * partials, no shuffle beyond the final reduce). A FEED-ACTIVE table
    * whose last change is already covered by a recorded sweep is skipped
    * (the `metricSrcVersion.<table>` stamp on the metrics table), so an
    * idle namespace's scheduled sweeps cost metadata probes, not scans.
    * Returns (table, metric, value) for everything evaluated this sweep.
    */
  def runMetrics(spark: SparkSession, root: File)
      : Seq[(String, String, Option[Double])] = {
    val m = read(root).getOrElse(return Nil)
    val evalV = m.version
    val metricProps = scala.collection.mutable.Map.empty[String, String]
    val recorded = scala.collection.mutable.ListBuffer
      .empty[(String, String, Option[Double])]
    m.tables.toSeq.sortBy(_._1).foreach { case (name, ts) =>
      val ms = metricsOf(ts.props)
      if (ts.schemaJson.nonEmpty && name != MetricsTable && ms.nonEmpty) {
        val already = m.table(MetricsTable).props
          .get(s"metricSrcVersion.$name")
          .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        val lastChange = ts.changes.lastOption.map(_.version)
        val feedFresh = (already, lastChange) match {
          case (Some(a), Some(c)) => c <= a // feed says nothing new
          case _ => false // no feed (or first sweep): evaluate
        }
        // non-feed tables have no change watermark; a declared
        // `metricIntervalMs` caps their sweep cadence by wall clock
        // instead (the Snowflake DMF schedule shape)
        val timeFresh = (for {
          iv <- ts.props.get("metricIntervalMs")
            .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
          at <- m.table(MetricsTable).props
            .get(s"metricMeasuredAt.$name")
            .flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        } yield System.currentTimeMillis() - at < iv).getOrElse(false)
        if (!feedFresh && !timeFresh) {
          val df = readTable(spark, root.toString, version = Some(evalV),
            table = name)
          def measure(df0: DataFrame, group: Seq[(String, String)])
              : Map[String, Option[Double]] =
            if (group.isEmpty) Map.empty
            else {
              val aggCols = group.map { case (n, sql) =>
                val e = try expr(sql) catch {
                  case ex: Exception => throw new IllegalArgumentException(
                    s"metric '$n' on table '$name' does not parse: $sql", ex)
                }
                // aggregate-shaped (analyzes under a global agg:
                // `count(…)`, `max(…)`) → its scalar; otherwise a boolean
                // row predicate → violation count. The probe must test
                // the AGG shape: a plain select() also accepts aggregates
                // (it becomes a global agg), but agg() rejects
                // non-aggregate row expressions.
                val aggShaped = scala.util.Try(
                  df0.limit(0).groupBy().agg(e).schema).isSuccess
                if (aggShaped) e.cast("double").as(n)
                else sum(when(e, lit(1L)).otherwise(lit(0L)))
                  .cast("double").as(n)
              }
              val row = df0.agg(aggCols.head, aggCols.tail: _*).head
              group.zipWithIndex.map { case ((n, _), i) =>
                n -> (if (row.isNullAt(i)) None else Some(row.getDouble(i)))
              }.toMap
            }
          // `metricGoverned.<name> = true` scopes THAT metric to the
          // sweeping session's row-policy-visible subset (tenant-scoped
          // metric consumers); default stays the OWNER view — Snowflake
          // DMF parity. Row policy only: masks rewrite values, which a
          // metric should measure as stored.
          val governedSet = ts.props.collect {
            case (k, v) if k.startsWith("metricGoverned.") &&
              v.trim.equalsIgnoreCase("true") =>
              k.stripPrefix("metricGoverned.")
          }.toSet
          val (gms, ums) = ms.partition { case (n, _) =>
            governedSet.contains(n) }
          val visible =
            if (gms.isEmpty) df
            else GovernedRows.sessionPolicy(spark, root, name)
              .map(p => df.filter(coalesce(p, lit(false))))
              .getOrElse(df)
          val vals = measure(df, ums) ++ measure(visible, gms)
          ms.foreach { case (n, _) => recorded += ((name, n, vals(n))) }
          metricProps += s"metricSrcVersion.$name" -> evalV.toString
          metricProps += s"metricMeasuredAt.$name" ->
            System.currentTimeMillis().toString
        }
      }
    }
    if (recorded.nonEmpty) {
      import spark.implicits._
      val rows = recorded.toSeq.map { case (t, n, v) =>
        (t, n, evalV, v.map(Double.box).orNull: java.lang.Double,
          new java.sql.Timestamp(System.currentTimeMillis()))
      }.toDF("table_name", "metric_name", "version", "value",
        "measured_at")
      mergeBatch(root, s"metrics-$evalV", 0L, Seq(TableBatch(
        MetricsTable, rows, Seq("table_name", "metric_name", "version"), 2,
        props = metricProps.toMap)))
    }
    recorded.toList
  }

  /** One table's phase-A outcome in a [[mergeBatch]] attempt: the
    * adjusted batch and the state it merges into, the unified schema,
    * the aligned rows with their bucket column and the delete keys (both
    * lineage-free views of persisted frames), the identity high-water
    * props, and the buckets the batch touches. [[release]] unpersists
    * the `pinned` frames under the views.
    */
  private case class TablePlan(tb: TableBatch, prev: TableState,
      unified: StructType, incoming: DataFrame, delKeys: Option[DataFrame],
      hwmProps: Map[String, String], pinned: Seq[DataFrame],
      touched: Seq[Long]) {
    def release(): Unit = pinned.foreach(_.unpersist())
  }

  /** Phase A of one table's merge: align the batch to the unified
    * schema, persist it, enforce the CHECK constraints and find the
    * touched buckets — everything before the intent is declared. The
    * plan holds views of the persisted rows that carry none of the
    * batch's lineage (`Bridge.lineageFree`), so the derivation's plans
    * stay small however long the chain that built the batch. A failure
    * releases what it pinned.
    */
  private def planTable(manifest: Manifest, tb: TableBatch): TablePlan = {
    val spark = tb.rows.sparkSession
    val prev = manifest.table(tb.name)
    // an overwrite replaces the table wholesale, schema included — nothing
    // of the previous snapshot survives to need unification
    val unified =
      if (tb.overwrite) tb.rows.schema
      else unify(
        if (prev.schemaJson.nonEmpty) Some(prev.schema) else None, tb.rows.schema)
    val effProps = prev.props ++ tb.props
    // DEFAULT columns (`TBLPROPERTIES ('default.<col>' = '<sql expr>')`):
    // a column the WRITER OMITTED fills with its default expression
    // instead of null — SQL DEFAULT semantics at the column-presence
    // grain (a batch that carries the column keeps its values, explicit
    // NULLs included; distinguishing per-row omission is not a thing a
    // DataFrame can express). The expression may reference the batch's
    // other columns, so `default.load_ts = 'current_timestamp()'` and
    // `default.currency = "'USD'"` both work.
    // engine-native column DEFAULTs (Spark DDL `DEFAULT <expr>` lands in
    // the field metadata the manifest persists) unify with the
    // `default.<col>` property surface — the property wins when both
    // declare, since it is the engine-level override knob
    val metaDefaults: Map[String, String] = unified.fields.collect {
      case f if f.metadata.contains(
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .CURRENT_DEFAULT_COLUMN_METADATA_KEY) =>
        f.name -> f.metadata.getString(
          org.apache.spark.sql.catalyst.util.ResolveDefaultColumns
            .CURRENT_DEFAULT_COLUMN_METADATA_KEY)
    }.toMap
    val defaults: Map[String, String] = metaDefaults ++ effProps.collect {
      case (k, v) if k.startsWith("default.") =>
        k.stripPrefix("default.") -> v
    }
    val aligned = applyGenerated(tb.name, effProps, unified,
      tb.rows.select(unified.fields.map { f =>
        // cast even present columns: a batch arriving with a drifted numeric
        // type (int where the manifest says double) must land under the
        // manifest's type, or the written parquet becomes unreadable through
        // the manifest schema
        if (tb.rows.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
        else defaults.get(f.name) match {
          case Some(sql) =>
            val e = try expr(sql) catch {
              case ex: Exception => throw new IllegalArgumentException(
                s"default for column '${f.name}' on table '${tb.name}' " +
                  s"does not parse: $sql", ex)
            }
            e.cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }.toIndexedSeq: _*))
    // IDENTITY columns: NULL (or writer-omitted) identity slots fill
    // with engine-generated values from a block reserved against the
    // table's high-water mark, advanced IN THIS COMMIT's props.
    // Concurrent-writer uniqueness is the OCC contract: a rival commit
    // that consumed ids moves the hwm property, which fails the staged
    // rebase's props-equality check and forces a re-derivation against
    // the fresh hwm — writers that both GENERATE ids serialize (the
    // Delta identity model), everyone else keeps the disjoint-bucket
    // fast path. One id per batch row is reserved (not per null row):
    // sequences promise uniqueness, not density — Snowflake documents
    // AUTOINCREMENT gaps — and over-reserving keeps this one pass.
    val idCols = identityOf(unified)
    // GENERATED ALWAYS (allowExplicitInsert = false) refuses an
    // INSERT-shaped batch that CARRIES non-null identity values — Spark
    // leaves this check to the connector. Only append-shaped writes are
    // gated: merge/upsert batches legitimately re-write rows carrying
    // the ids they were assigned at insert time
    idCols.foreach { case (name, _, _, allowExplicit) =>
      if (!allowExplicit && tb.append && tb.rows.columns.contains(name)) {
        val explicit = tb.rows.filter(col(name).isNotNull).limit(1).count()
        require(explicit == 0L,
          s"identity column '$name' on table '${tb.name}' is GENERATED " +
            "ALWAYS: inserts must not provide a value (omit the column " +
            "or pass NULL/DEFAULT)")
      }
    }
    val (withIds, hwmProps, idPersisted) =
      fillIdentitySlots(spark, unified, effProps, aligned)
    val bucketExpr =
      pmod(xxhash64(tb.mergeKeys.map(col).toIndexedSeq: _*), lit(tb.numBuckets))
    val rowsCached = withIds.withColumn(BucketCol, bucketExpr).persist()
    val delCached = tb.deleteKeys.map(_.select(tb.mergeKeys.map(col).toIndexedSeq: _*)
      .distinct().withColumn(BucketCol, bucketExpr).persist())
    val pinned = rowsCached +: (delCached.toSeq ++ idPersisted)
    try {
      val incoming = Bridge.lineageFree(rowsCached)
      val delKeys = delCached.map(Bridge.lineageFree)
      // CHECK constraints gate the batch BEFORE any bucket work — the
      // table's recorded constraints plus any this very batch declares
      enforceConstraints(tb.name, effProps, incoming)
      // ONE job finds both sides' buckets, each row tagged by its side;
      // delete-only buckets matter only where committed generations exist
      val isRow = "__graft_is_row"
      val sides = delKeys.foldLeft(
        incoming.select(col(BucketCol), lit(true).as(isRow)))(
        (rs, dk) => rs.unionByName(dk.select(col(BucketCol), lit(false).as(isRow))))
      val touched = sides.distinct().collect().toSeq
        .filter(r => r.getBoolean(1) || prev.buckets.contains(r.getLong(0)))
        .map(_.getLong(0)).distinct.sorted
      TablePlan(tb, prev, unified, incoming, delKeys, hwmProps, pinned, touched)
    } catch { case e: Throwable => pinned.foreach(_.unpersist()); throw e }
  }

  /** Phase B of one table's merge, past the declared intent: read the
    * touched buckets' generations, merge the planned rows into them, and
    * write the new generations and the change feed — None when the batch
    * touches no bucket.
    */
  private def deriveTable(root: File, manifest: Manifest, nonce: String,
      plan: TablePlan): Option[TableUpdate] = {
    val TablePlan(tb, prev, unified, incoming, delKeys, hwmProps, _, touched) =
      plan
    val spark = tb.rows.sparkSession
    if (touched.isEmpty) None
    else {
      // the EXPENSIVE work starts here (past any intent wait/restart):
      // this is the derivation the contention specs count
      mergeDeriveCount.incrementAndGet(): Unit
      val target = manifest.version + 1
      val inc = incoming.drop(BucketCol)
      // merge mode reads every touched bucket's generations in ONE scan,
      // each row tagged with the bucket it was read from; append and
      // overwrite never read existing data
      val existingGens =
        if (tb.append || tb.overwrite) Nil
        else touched.flatMap(b => prev.buckets.getOrElse(b, Nil).map(b -> _))
      // ONE plan for the whole table: a merge key hashes to exactly one
      // bucket, so upserting (and slicing deletes) across all touched
      // buckets at once equals doing it bucket by bucket
      val (out, changes): (DataFrame, Option[DataFrame]) =
        if (existingGens.isEmpty)
          (incoming, if (!tb.changeFeed) None
            else Some(inc.withColumn(ChangeTypeCol, lit("insert"))))
        else {
          val tagged = readKeyed(spark, root, unified, existingGens, BucketCol)
          val existing = tagged.drop(BucketCol)
          def keyMatch(l: DataFrame, r: DataFrame) =
            tb.mergeKeys.map(k => l(k) <=> r(k)).reduce(_ && _)
          // replace-by-key: drop every existing row whose key tuple is
          // in the delete set, then UPSERT the batch rows (a batch key
          // not in the set must still replace its existing row)
          val slice = delKeys.map(_.drop(BucketCol))
          val kept = slice.fold(tagged)(sl =>
            tagged.join(sl, keyMatch(tagged, sl), "left_anti"))
          // persisted: the keyed writer reads its frame twice
          val merged = graft.ingest.MergeUpsert
            .upsert(kept, incoming, tb.mergeKeys)
            .select((unified.fieldNames :+ BucketCol).map(col).toIndexedSeq: _*)
            .persist()
          val chg = if (!tb.changeFeed) None else {
            // delete preimages: rows removed by the delete set whose
            // key does NOT come back in this batch (a returning key is
            // an update, not a delete+insert pair)
            val deletes = slice.map { sl =>
              val removed = existing.join(sl, keyMatch(existing, sl),
                "left_semi")
              val incKeys = inc.select(tb.mergeKeys.map(col).toIndexedSeq: _*)
              removed.join(incKeys, keyMatch(removed, incKeys), "left_anti")
                .withColumn(ChangeTypeCol, lit("delete"))
            }
            Some(deletes.foldLeft(tagChanges(existing, inc, tb.mergeKeys))(
              _ unionByName _))
          }
          (merged, chg)
        }
      try {
        val written = writeKeyedGens(spark, root, out, BucketCol, unified,
          // explicit batch options win; otherwise the table's RECORDED
          // layout applies, so every writer — bespoke API, SQL INSERT,
          // streaming sink — keeps tracking what the table declared
          if (tb.statsCols.nonEmpty) tb.statsCols else prev.statsCols,
          if (tb.searchCols.nonEmpty) tb.searchCols else prev.searchCols,
          tmpRel = s"data/${tb.name}/stage-v$target-w$nonce",
          // one immutable generation dir per (table, bucket, ATTEMPT):
          // named by the manifest version this commit will publish
          // (unique across query identities — batch ids alone collide
          // when a fresh-checkpoint restart re-runs against an existing
          // table) PLUS the writer nonce, so two CONCURRENT writers
          // racing for the same version can never scribble on each
          // other's dirs — the loser's become orphans GC collects once
          // the version is decided (the in-flight guard in [[gc]])
          relFor = b => s"data/${tb.name}/b$b-v$target-$nonce").toMap
        // the commit's change-feed delta: one immutable dir per (table,
        // commit), written BEFORE the manifest swap like every data dir
        // — a crash leaves an orphan the next commit's GC removes
        val changePath = changes.map(
          writeChanges(root, s"data/${tb.name}/chg-v$target-$nonce", _))
        // a merged bucket left with no rows publishes NO generation (its
        // old ones drop); append and overwrite buckets always hold rows
        Some(TableUpdate(unified.json,
          touched.map(b => b -> written.get(b).toSeq).toMap, tb.append,
          changePath, mergeKeys = tb.mergeKeys, numBuckets = tb.numBuckets,
          replaceAll = tb.overwrite,
          statsCols = tb.statsCols, searchCols = tb.searchCols,
          props = tb.props ++ hwmProps))
      } finally { if (out ne incoming) out.unpersist(); () }
    }
  }

  /** Tag a merge batch's rows with their change type: a row whose merge
    * key exists in the committed bucket is an `update_postimage` (source
    * wins on match, so the incoming row IS the post-merge row), otherwise
    * an `insert`; every updated key ALSO emits its committed row as an
    * `update_preimage` (full Delta CDF shape). The preimages are what let
    * a downstream additive aggregate maintain itself DECREMENTALLY
    * (subtract preimage, add postimage — [[deltaAggregate]]) instead of
    * rescanning groups. Work on the frames the merge already reads. In
    * replace-by-key mode the returning-key slice rows are the same rows
    * this computes as preimages, so that branch adds only its true
    * deletes on top.
    */
  private def tagChanges(existing: DataFrame, inc: DataFrame,
      keys: Seq[String]): DataFrame = {
    val exKeys = existing.select(keys.map(col).toIndexedSeq: _*).distinct()
    val incKeys = inc.select(keys.map(col).toIndexedSeq: _*).distinct()
    val cond = keys.map(k => inc(k) <=> exKeys(k)).reduce(_ && _)
    val condPre = keys.map(k => existing(k) <=> incKeys(k)).reduce(_ && _)
    inc.join(exKeys, cond, "left_semi")
      .withColumn(ChangeTypeCol, lit("update_postimage"))
      .unionByName(inc.join(exKeys, cond, "left_anti")
        .withColumn(ChangeTypeCol, lit("insert")))
      .unionByName(existing.join(incKeys, condPre, "left_semi")
        .withColumn(ChangeTypeCol, lit("update_preimage")))
  }

  /** Validated feed-delta selection for `[fromVersion, toVersion]` — the
    * shared gate both [[readChangeFeed]] and the streaming scans sit on:
    * completeness errors (no active feed, or a start before what the feed
    * can serve) throw HERE, so no consumer path can read a feed with
    * holes. Returns (table state, selected deltas).
    */
  private[sources] def feedGens(root: String, fromVersion: Long,
      toVersion: Option[Long], table: String): (TableState, Seq[ChangeGen]) = {
    val m = resolve(new File(root), None)
    val ts = m.table(table)
    if (ts.feedFrom < 0) throw new IllegalStateException(
      s"table $table has no active change feed")
    if (fromVersion < ts.feedFrom) throw new IllegalStateException(
      s"change feed for $table serves versions >= ${ts.feedFrom}; " +
        s"$fromVersion is before the feed opened or past retention")
    val hi = toVersion.getOrElse(m.version)
    (ts, ts.changes.filter(c => c.version >= fromVersion && c.version <= hi))
  }

  /** The table's change feed for versions in `[fromVersion, toVersion]`
    * (default: through the live version): every row a feed commit
    * inserted, updated (postimage), or deleted (preimage), tagged
    * `_change_type` + `_commit_version` — the incremental-consumption
    * surface (Delta CDF shape). Asking for history older than the feed
    * can serve COMPLETELY (never recorded, vacuumed past
    * [[ChangeRetainVersions]], or broken by a non-feed commit) errors
    * instead of silently returning a feed with holes — an incremental
    * consumer fed a partial delta would diverge without noticing.
    */
  def readChangeFeed(spark: SparkSession, root: String, fromVersion: Long,
      toVersion: Option[Long] = None,
      table: String = DefaultTable): DataFrame = {
    val (ts, sel) = feedGens(root, fromVersion, toVersion, table)
    val schema = ts.schema.add(ChangeTypeCol, "string")
    if (sel.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        schema.add(CommitVersionCol, "long"))
    else sel.map { c =>
      spark.read.schema(schema)
        .parquet(new File(root, c.path).toString)
        .withColumn(CommitVersionCol, lit(c.version))
    }.reduce(_ unionByName _)
  }

  /** Roll a snapshot forward through a change-feed range: every key's
    * final state is ALL postimage rows of its LAST touching version in
    * the range (absent if that version deleted it), so
    * `applyChanges(snapshot(v), feed(v+1 .. w), keys) == snapshot(w)` —
    * the reconstruction contract an incremental consumer relies on. The
    * per-version (not per-row) rule makes this correct for group-grain
    * tables too (several line rows per canonical id replaced together).
    * Append-only tables consume their insert-only feed as a plain union
    * instead.
    */
  def applyChanges(snapshot: DataFrame, changes: DataFrame,
      keys: Seq[String]): DataFrame = {
    val dataCols = snapshot.columns.toIndexedSeq
    val lastV = changes
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(max(col(CommitVersionCol)).as("__graft_vlast"))
      .select(keys.map(k => col(k).as(s"__graft_k_$k"))
        :+ col("__graft_vlast"): _*)
    val condL = keys.map(k => changes(k) <=> col(s"__graft_k_$k"))
      .reduce(_ && _) && changes(CommitVersionCol) === col("__graft_vlast")
    // state rows are inserts and postimages; a version's preimage rows
    // describe what the update REPLACED, never the resulting state
    val finalRows = changes.join(lastV, condL)
      .filter(col(ChangeTypeCol).isin("insert", "update_postimage"))
      .select(dataCols.map(changes(_)): _*)
    val changedKeys = changes.select(keys.map(col).toIndexedSeq: _*).distinct()
    val condS = keys.map(k => snapshot(k) <=> changedKeys(k)).reduce(_ && _)
    snapshot.join(changedKeys, condS, "left_anti")
      .unionByName(finalRows)
  }

  /** Per-group NET deltas of a feed range for additive aggregates:
    * inserts and postimages contribute `+`, preimages and deletes `−`, so
    * `mart ⊕ deltaAggregate(feed) == aggregate(table)` — a downstream
    * SUM/COUNT mart maintains itself from the feed alone, touching one
    * row per changed group and never rescanning the table (the payoff the
    * `update_preimage` rows exist for; Snowflake consumers do the same
    * arithmetic off a STREAM's METADATA$ACTION column). Output: the group
    * columns, `delta_rows` (net row-count change), and `delta_<c>` per
    * value column. Rows whose group columns an update MOVED contribute a
    * preimage `−` in the old group and a postimage `+` in the new one —
    * group migration is handled by construction.
    */
  def deltaAggregate(changes: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String]): DataFrame =
    deltaAggregate(changes, groupCols, valueCols, Nil, Nil)

  /** [[deltaAggregate]] extended for NON-additive max/min marts
    * (VW_LOAD_AUDIT_SUMMARY's `MAX(load_ts)`, sql/07_ops_views.sql:12).
    * Max/min are not group-invertible, so the feed can't net them the way
    * it nets counts and sums; what it CAN deliver is the monotone half plus
    * a loud signal for the other half:
    *  - `max_<c>` / `min_<c>`: the extremum over the group's INSERT-side
    *    rows (inserts + postimages) — on an insert-only batch the stored
    *    mart extremum merges with this via greatest/least, never touching
    *    the source;
    *  - `delta_retracts`: how many preimage/delete rows the group carried.
    *    A retraction may have REMOVED the current extremum, which no feed
    *    arithmetic can recover — the maintainer must recompute exactly the
    *    groups with `delta_retracts > 0` from a pinned source snapshot
    *    (the fallback [[graft.streaming.IncrementalMart]] implements).
    */
  def deltaAggregate(changes: DataFrame, groupCols: Seq[String],
      valueCols: Seq[String], maxCols: Seq[String],
      minCols: Seq[String]): DataFrame = {
    val insert = col(ChangeTypeCol).isin("insert", "update_postimage")
    val sign = when(insert, lit(1L)).otherwise(lit(-1L))
    val aggs =
      // DECIMAL deltas pin to Sum's own Decimal(p+10, s) intermediate
      // (the signed multiply would otherwise widen to 38 digits and
      // drift the mart's stored partial type); decimal arithmetic is
      // exact so the cast only normalizes the declared width
      valueCols.map { c =>
        val d = sum(col(c) * sign)
        changes.schema(c).dataType match {
          case dt: org.apache.spark.sql.types.DecimalType =>
            d.cast(org.apache.spark.sql.types.DecimalType(
              math.min(dt.precision + 10, 38), dt.scale)).as(s"delta_$c")
          case _ => d.as(s"delta_$c")
        }
      } ++
        // signed NON-NULL count per value column: what makes `count(col)`
        // and `avg` (= sum/cnt) derivable from the mart, and lets the
        // rewrite restore SQL null-sum semantics (all-NULL group → NULL)
        valueCols.map(c => coalesce(
          sum(when(col(c).isNotNull, sign).otherwise(lit(0L))), lit(0L))
          .as(s"delta_cnt_$c")) ++
        maxCols.map(c => max(when(insert, col(c))).as(s"max_$c")) ++
        minCols.map(c => min(when(insert, col(c))).as(s"min_$c")) ++
        (if (maxCols.isEmpty && minCols.isEmpty) Nil
         else Seq(sum(when(insert, 0L).otherwise(1L)).as("delta_retracts")))
    changes.groupBy(groupCols.map(col).toIndexedSeq: _*)
      .agg(sum(sign).as("delta_rows"), aggs.toIndexedSeq: _*)
  }

  /** A committed table restricted to a bucket-id subset — the read an
    * incremental maintainer uses to load ONLY the groups a batch touches
    * (bucket ids computed with the writer's own key hash). None when the
    * table has never been committed; empty-with-schema when it exists but
    * none of the requested buckets do.
    */
  def readTableBuckets(spark: SparkSession, root: String, bucketIds: Set[Long],
      table: String = DefaultTable): Option[DataFrame] =
    read(new File(root)).flatMap { m =>
      val ts = m.table(table)
      if (ts.schemaJson.isEmpty) None
      else Some(readDirs(spark, root, ts,
        ts.buckets.view.filterKeys(bucketIds).values.flatten.map(_.path).toSeq))
    }

  /** DDL: publish an EMPTY table — schema and bucket layout, no data —
    * as an ordinary versioned commit, so `CREATE TABLE` is transactional,
    * OCC-serialized against concurrent writers, and visible in
    * [[history]] like every other operation.
    */
  def createTable(root: File, table: String, schema: StructType,
      mergeKeys: Seq[String], numBuckets: Int,
      statsCols: Seq[String] = Nil, searchCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty): Unit = {
    root.mkdirs()
    // merge-on-read row identity: Spark's delta-based rewrites require
    // non-nullable rowId attributes, and a null merge key has no
    // defined upsert identity anyway — record the keys non-null
    val recorded =
      if (props.get("rowLevelMode").contains("merge-on-read"))
        StructType(schema.fields.map(f =>
          if (mergeKeys.contains(f.name)) f.copy(nullable = false) else f))
      else schema
    // a key-less table records no bucket count (the rule advance applies)
    val created = TableState(recorded.json, Map.empty, mergeKeys = mergeKeys,
      numBuckets = if (mergeKeys.isEmpty) -1 else numBuckets,
      statsCols = statsCols, searchCols = searchCols, props = props)
    commitLoop(root, sweep = false) { manifest =>
      require(!manifest.tables.get(table).exists(_.schemaJson.nonEmpty),
        s"table '$table' already exists at $root")
      Publish("CREATE", Swap(manifest.tables + (table -> created), Seq(table)), ())
    }
  }

  /** DDL: extend a table's schema and/or its recorded stats/search layout
    * — the metadata-only `ALTER TABLE` verbs. Added columns APPEND to the
    * unified schema (never reorder, never retype — the same
    * unify-on-merge rule the write path applies), so every committed
    * generation null-backfills under the evolved schema with zero data
    * rewrites; the recorded statsCols/searchCols adoption makes future
    * writers track the named columns (backfilling EXISTING generations
    * is [[buildIndexes]]' job — ALTER stays a pure metadata commit). An
    * active change feed is untouched (`logicalChange = false`): schema
    * extension is exactly the sink-side evolution the CDF contract
    * already serves across a consumer restart.
    */
  def alterTable(root: File, table: String,
      addColumns: Seq[org.apache.spark.sql.types.StructField] = Nil,
      statsCols: Seq[String] = Nil, searchCols: Seq[String] = Nil,
      props: Map[String, String] = Map.empty,
      // `ALTER COLUMN <c> SET DEFAULT <sql>` / `DROP DEFAULT` (empty
      // string): updates the field's CURRENT_DEFAULT metadata — future
      // writes that omit the column fill with it; committed rows are
      // untouched (standard SQL SET DEFAULT semantics)
      columnDefaults: Map[String, String] = Map.empty): Unit =
    commitLoop(root, sweep = false) { manifest =>
      val ts = manifest.table(table)
      require(ts.schemaJson.nonEmpty, s"table '$table' does not exist at $root")
      val schema = ts.schema
      addColumns.foreach(f => require(!schema.fieldNames.contains(f.name),
        s"column '${f.name}' already exists"))
      val evolved0 = unify(Some(schema), StructType(addColumns))
      // flipping a table INTO merge-on-read adopts the non-null merge
      // key contract the delta rewrites require
      val evolved1 =
        if (props.get("rowLevelMode").contains("merge-on-read"))
          StructType(evolved0.fields.map(f =>
            if (ts.mergeKeys.contains(f.name)) f.copy(nullable = false)
            else f))
        else evolved0
      columnDefaults.keys.foreach(c =>
        require(evolved1.fieldNames.contains(c),
          s"ALTER COLUMN SET DEFAULT: column '$c' not in the table schema"))
      val evolved =
        if (columnDefaults.isEmpty) evolved1
        else StructType(evolved1.fields.map { f =>
          columnDefaults.get(f.name) match {
            case None => f
            case Some(sql) =>
              val key = org.apache.spark.sql.catalyst.util
                .ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
              val mb = new org.apache.spark.sql.types.MetadataBuilder()
                .withMetadata(f.metadata)
              if (sql.isEmpty) mb.remove(key) else mb.putString(key, sql)
              f.copy(metadata = mb.build())
          }
        })
      (statsCols ++ searchCols).foreach(c =>
        require(evolved.fieldNames.contains(c),
          s"layout column '$c' not in the table schema"))
      Publish("ALTER", Fold(Map(table -> TableUpdate(evolved.json, Map.empty,
        append = false, changePath = None, logicalChange = false,
        statsCols = statsCols, searchCols = searchCols, props = props))), ())
    }

  /** Zero-copy CLONE: register `target` as a new table whose state IS
    * `source`'s at `version` (default: current) — a pure-metadata commit
    * referencing the SAME generation dirs, no data bytes moved
    * (Snowflake `CREATE TABLE … CLONE` / Delta shallow clone). GC is
    * already reference-aware without extra bookkeeping: liveness is the
    * UNION of every table's recorded paths across the namespace's
    * retained snapshots, so a shared dir survives until NO table of any
    * retained version references it — dropping the source, rewriting
    * either side, or aging the clone out each just removes one
    * reference. The two tables evolve independently from this commit on:
    * every rewrite lands under the WRITING table's own `data/<name>/`
    * namespace, leaving the shared dirs to whoever still points at
    * them. Outstanding merge-on-read deltas clone with the base (the
    * clone reconciles identically); the change feed does NOT clone — a
    * feed is a subscription stream, not table state, so the target
    * starts feed-inactive.
    */
  def cloneTable(root: File, source: String, target: String,
      version: Option[Long] = None): Long =
    commitLoop(root) { manifest =>
      val src = resolve(root, version).table(source)
      require(src.schemaJson.nonEmpty,
        s"table '$source' does not exist at $root" +
          version.fold("")(v => s" (version $v)"))
      require(!manifest.tables.get(target).exists(_.schemaJson.nonEmpty),
        s"table '$target' already exists at $root")
      val cloned = src.copy(changes = Nil, feedFrom = -1L)
      Publish(s"CLONE:$source@v${version.getOrElse(manifest.version)}",
        Swap(manifest.tables + (target -> cloned), Seq(target)),
        manifest.version + 1)
    }

  /** CROSS-ROOT zero-copy CLONE: register `target` in `targetRoot` as a
    * new table whose state IS `source`'s at `version` in `sourceRoot` —
    * a different namespace (Snowflake's routine cross-database
    * `CREATE TABLE db2.s.t CLONE db1.s.t`). Data bytes never copy: every
    * file of every referenced generation (parquet parts, stats/search
    * sidecars, merge-on-read delta files) HARD-LINKS into the target
    * root's own `data/<target>/` namespace, renamed to the target's
    * version naming so its OCC/GC algebra applies unchanged. The
    * filesystem's link count IS the cross-root refcount — each root's
    * vacuum unlinks only its own entries and the shared inodes survive
    * until the LAST root drops its reference, so no GC coordination,
    * ref ledgers, or reachability scans across roots exist to get
    * stale. (The same POSIX dependence as the link(2) commit CAS; an
    * object-store deployment would swap this verb for a server-side
    * copy the way it swaps the commit primitive.) Cost: one link
    * syscall per FILE — metadata-rate, proportional to file count,
    * independent of data volume. Like same-root CLONE the feed does not
    * clone, and both tables evolve independently from this commit on.
    */
  def cloneTableAcross(sourceRoot: File, source: String, targetRoot: File,
      target: String, version: Option[Long] = None): Long = {
    require(sourceRoot.getCanonicalPath != targetRoot.getCanonicalPath,
      "same-root clone: use cloneTable")
    val src = resolve(sourceRoot, version).table(source)
    require(src.schemaJson.nonEmpty,
      s"table '$source' does not exist at $sourceRoot" +
        version.fold("")(v => s" (version $v)"))
    Files.createDirectories(targetRoot.toPath)
    // the linked dirs are named for the attempt's version: a lost race
    // leaves them orphans the target root's GC collects once decided
    commitLoop(targetRoot) { manifest =>
      require(!manifest.tables.get(target).exists(_.schemaJson.nonEmpty),
        s"table '$target' already exists at $targetRoot")
      val newV = manifest.version + 1
      val nonce = newNonce()
      var n = 0
      def link(gen: BucketGen, bucket: Long, kind: String): BucketGen = {
        n += 1
        val rel = s"data/$target/$kind$bucket-v$newV-$nonce-g$n"
        val dst = new File(targetRoot, rel)
        linkTree(new File(sourceRoot, gen.path), dst)
        gen.copy(path = rel)
      }
      val buckets = src.buckets.map { case (b, gens) =>
        b -> gens.map(link(_, b, "b"))
      }
      val deltas = src.deltas.map { case (b, gens) =>
        b -> gens.map(link(_, b, "d"))
      }
      val cloned = src.copy(buckets = buckets, deltas = deltas,
        changes = Nil, feedFrom = -1L)
      Publish(s"CLONE:$sourceRoot/$source@v${
          version.getOrElse(resolve(sourceRoot, None).version)}",
        Swap(manifest.tables + (target -> cloned), Seq(target)), newV)
    }
  }

  /** Recursively hard-link `src`'s files under `dst` (directories are
    * recreated, files linked — zero data bytes copied).
    */
  private def linkTree(src: File, dst: File): Unit = {
    Files.createDirectories(dst.toPath)
    val kids = src.listFiles
    if (kids != null) kids.foreach { k =>
      val d = new File(dst, k.getName)
      if (k.isDirectory) linkTree(k, d)
      else Files.createLink(d.toPath, k.toPath): Unit
    }
  }

  /** RESTORE a table to its state at a retained `version` (Delta
    * `RESTORE TABLE … TO VERSION AS OF` / Snowflake clone-from-time
    * recovery — including UNDROP: a dropped table restores from any
    * retained pre-drop snapshot). Pure-metadata commit: the restored
    * state REFERENCES the old generation dirs (path-union liveness
    * already keeps every retained snapshot's dirs alive, which is
    * exactly why only retained versions restore — aged-out history is
    * gone). An ACTIVE change feed gets the restore as an EXACT keyed
    * diff (current vs target snapshot: preimage/postimage pairs,
    * deletes, re-inserts — one join of the two snapshots, a maintenance
    * verb's cost), so CDF subscribers roll through a restore without
    * resubscribing; a schema-crossing restore (or a key-less append
    * table) resets the feed instead — a diff under two schemas is
    * ill-posed. Returns the new version (no-op when already identical).
    */
  def restoreTable(spark: SparkSession, root: File, table: String,
      version: Long): Long =
    commitLoop(root) { manifest =>
      val target = resolve(root, Some(version)).table(table)
      require(target.schemaJson.nonEmpty,
        s"table '$table' does not exist at version $version")
      val cur = manifest.table(table)
      if (cur == target) Finish(manifest.version) // already that state
      else {
        val newV = manifest.version + 1
        val (changes, feedFrom) =
          if (cur.feedFrom < 0 || cur.schemaJson.isEmpty) (Nil, -1L)
          else if (cur.schemaJson != target.schemaJson ||
              cur.mergeKeys.isEmpty || cur.mergeKeys != target.mergeKeys)
            (Nil, -1L) // diff ill-posed: reset (subscribers fail loudly)
          else {
            val keys = cur.mergeKeys
            def snap(ts: TableState): DataFrame = reconcileDeltas(spark,
              root.toString, ts,
              readDirs(spark, root.toString, ts, ts.gens.map(_.path)))
            val o = snap(cur).persist()
            val n = snap(target).persist()
            try {
              val changed = o.exceptAll(n).unionAll(n.exceptAll(o))
                .select(keys.map(col).toIndexedSeq: _*).distinct().persist()
              try {
                if (changed.isEmpty) (cur.changes, cur.feedFrom)
                else {
                  val oKeys = o.select(keys.map(col).toIndexedSeq: _*).distinct()
                  val nKeys = n.select(keys.map(col).toIndexedSeq: _*).distinct()
                  def keyCond(l: DataFrame, r: DataFrame) =
                    keys.map(k => l(k) <=> r(k)).reduce(_ && _)
                  val oCh = o.join(changed, keyCond(o, changed), "left_semi")
                  val nCh = n.join(changed, keyCond(n, changed), "left_semi")
                  val pre = oCh.join(nKeys, keyCond(oCh, nKeys), "left_semi")
                    .withColumn(ChangeTypeCol, lit("update_preimage"))
                  val del = oCh.join(nKeys, keyCond(oCh, nKeys), "left_anti")
                    .withColumn(ChangeTypeCol, lit("delete"))
                  val post = nCh.join(oKeys, keyCond(nCh, oKeys), "left_semi")
                    .withColumn(ChangeTypeCol, lit("update_postimage"))
                  val ins = nCh.join(oKeys, keyCond(nCh, oKeys), "left_anti")
                    .withColumn(ChangeTypeCol, lit("insert"))
                  val rel = writeChanges(root,
                    s"data/$table/chg-v$newV-rst${newNonce()}",
                    pre.unionByName(del).unionByName(post).unionByName(ins))
                  (cur.changes :+ ChangeGen(newV, rel), cur.feedFrom)
                }
              } finally { changed.unpersist(); () }
            } finally { o.unpersist(); n.unpersist(); () }
          }
        val restored = target.copy(changes = changes, feedFrom = feedFrom)
        Publish(s"RESTORE:$table@v$version",
          Swap(manifest.tables + (table -> restored), Seq(table)), newV)
      }
    }

  // ---- named views ----

  /** Marker prop: a manifest entry carrying `viewSql` is a NAMED VIEW —
    * stored SQL text (reference sql/07_ops_views.sql's CREATE OR REPLACE
    * VIEW verb), expanded into the referencing query's plan at analysis
    * by [[graft.plans.ResolveGraftViews]], never a storage table. Views
    * ride the same commit protocol as tables: creation/replace is one
    * versioned commit, old definitions time-travel, CLONE carries them,
    * and row policies on the UNDERLYING tables still plant (expansion
    * happens before optimization, so a view is governance-transparent —
    * the Snowflake semantics).
    */
  val ViewSqlKey = "viewSql"

  def isView(ts: TableState): Boolean = ts.props.contains(ViewSqlKey)

  /** Declare (or replace) a named view. The stored props carry the SQL
    * plus whatever the caller records (creation catalog/namespace,
    * column comments — the ViewCatalog surface's metadata).
    */
  def createView(root: File, name: String, sql: String,
      orReplace: Boolean, props: Map[String, String] = Map.empty): Unit = {
    require(sql.trim.nonEmpty, s"view '$name' needs a SQL definition")
    root.mkdirs()
    commitLoop(root, sweep = false) { manifest =>
      val existing = manifest.tables.get(name)
      require(!existing.exists(ts => !isView(ts)),
        s"'$name' is a TABLE at $root — DROP TABLE it first or pick " +
          "another name")
      if (existing.exists(isView) && !orReplace)
        throw new IllegalArgumentException(
          s"view '$name' already exists at $root (use CREATE OR REPLACE)")
      val entry = TableState(
        schemaJson = new org.apache.spark.sql.types.StructType().json,
        buckets = Map.empty,
        props = props + (ViewSqlKey -> sql))
      Publish(if (existing.isDefined) "REPLACE VIEW" else "CREATE VIEW",
        Swap(manifest.tables + (name -> entry), Seq(name)), ())
    }
  }

  /** Drop a named view (false when absent); refuses on a TABLE of that
    * name — DROP TABLE is a different, data-bearing verb.
    */
  def dropView(root: File, name: String): Boolean = {
    val m = read(root).getOrElse(empty)
    m.tables.get(name) match {
      case None => false
      case Some(ts) if !isView(ts) =>
        throw new IllegalArgumentException(
          s"'$name' at $root is a table, not a view — use DROP TABLE")
      case Some(_) => dropTable(root, name)
    }
  }

  /** The stored SQL of a named view, if `name` is one. */
  def viewSql(root: File, name: String): Option[String] =
    read(root).flatMap(_.tables.get(name)).flatMap(_.props.get(ViewSqlKey))

  /** DDL: drop a table from the root's catalog — a versioned commit; the
    * dropped generations stay readable through retained older snapshots
    * and GC collects them as those age out. Returns false when the table
    * doesn't exist.
    */
  def dropTable(root: File, table: String): Boolean =
    commitLoop(root) { manifest =>
      if (!manifest.tables.get(table).exists(_.schemaJson.nonEmpty))
        Finish(false)
      else Publish("DROP", Swap(manifest.tables - table, Seq(table)), true)
    }

  /** DDL: rename a table within its root — pure metadata (generation dirs
    * are opaque recorded paths, so no data moves), one versioned commit.
    */
  def renameTable(root: File, from: String, to: String): Unit =
    commitLoop(root, sweep = false) { manifest =>
      val ts = manifest.tables.get(from).filter(_.schemaJson.nonEmpty)
        .getOrElse(throw new IllegalStateException(
          s"table '$from' does not exist at $root"))
      require(!manifest.tables.get(to).exists(_.schemaJson.nonEmpty),
        s"table '$to' already exists at $root")
      Publish("RENAME",
        Swap(manifest.tables - from + (to -> ts), Seq(from, to)), ())
    }

  /** Commit history over the RETAINED version files (the DESCRIBE
    * HISTORY / QUERY_HISTORY surface): one row per time-travelable
    * version — operation, commit timestamp, touched tables, and the
    * writer identity — newest first. History is read from the same
    * version files time travel resolves, so the two surfaces always
    * agree on what's visitable; versions GC'd past the retention window
    * are gone from both. Pre-history commits surface with a null
    * operation/timestamp rather than a guess.
    */
  def history(spark: SparkSession, root: File): DataFrame = {
    // a BRANCH session's history is ITS lineage: the branch's own
    // commit files past the fork, plus main's shared prehistory at or
    // below it — main commits that landed in parallel stay invisible,
    // mirroring what VERSION AS OF resolves (see resolve())
    val files = Option(root.listFiles).getOrElse(Array.empty)
    def parsed(f: File) = scala.util.Try(
      parseEntry(new String(Files.readAllBytes(f.toPath), UTF_8), root))
      .toOption
    val mainEntries = files
      .filter(_.getName.startsWith(ManifestName + ".v")).flatMap(parsed)
    val entries = activeBranch(root) match {
      case Some(b) =>
        val base = scala.util.Try(new String(Files.readAllBytes(
          branchBaseFile(root, b).toPath), UTF_8).trim.toLong)
          .getOrElse(-1L)
        val prefix = s"BRANCH.$b.v"
        mainEntries.filter(_.fold(_.version, _.version) <= base) ++
          files.filter(f => f.getName.startsWith(prefix) &&
            f.getName.stripPrefix(prefix).forall(_.isDigit) &&
            f.getName.stripPrefix(prefix).nonEmpty).flatMap(parsed)
      case None => mainEntries
    }
    val rows = entries
      .map {
        case Right(m) =>
          (m.version,
            if (m.info.operation.isEmpty) null else m.info.operation,
            if (m.info.timeMs < 0) null
            else new java.sql.Timestamp(m.info.timeMs),
            m.info.touched,
            m.queryId, m.lastBatch)
        case Left(d) =>
          (d.version,
            if (d.op.isEmpty) null else d.op,
            if (d.timeMs < 0) null else new java.sql.Timestamp(d.timeMs),
            d.updates.keys.toSeq.sorted,
            d.queryId, d.batchId)
      }
      .sortBy(-_._1).toSeq
    import spark.implicits._
    rows.toDF("version", "operation", "commit_ts", "touched_tables",
      "query_id", "batch_id")
  }

  /** The newest RETAINED version whose commit timestamp is ≤ `timeMs` —
    * what `TIMESTAMP AS OF` resolves through (the warehouse
    * `AT(TIMESTAMP => …)` shape). Pre-history commits (no recorded
    * timestamp) can't participate; None when no retained commit is old
    * enough (the caller errors rather than guessing a snapshot).
    */
  def versionAt(root: File, timeMs: Long): Option[Long] = {
    // branch-lineage aware, mirroring history()/resolve(): a branch
    // session's TIMESTAMP AS OF scans the branch's own commits plus
    // main's prehistory at or below the fork
    val files = Option(root.listFiles).getOrElse(Array.empty)
    def stamps(fs: Array[File]): Array[(Long, Long)] = fs
      .flatMap { f =>
        scala.util.Try(
          parseEntry(new String(Files.readAllBytes(f.toPath), UTF_8), root)).toOption
      }
      .map {
        case Right(m) => (m.version, m.info.timeMs)
        case Left(d) => (d.version, d.timeMs)
      }
    val mains = stamps(files.filter(_.getName.startsWith(ManifestName + ".v")))
    val candidates = activeBranch(root) match {
      case Some(b) =>
        val base = scala.util.Try(new String(Files.readAllBytes(
          branchBaseFile(root, b).toPath), UTF_8).trim.toLong)
          .getOrElse(-1L)
        val prefix = s"BRANCH.$b.v"
        mains.filter(_._1 <= base) ++ stamps(files.filter(f =>
          f.getName.startsWith(prefix) &&
            f.getName.stripPrefix(prefix).nonEmpty &&
            f.getName.stripPrefix(prefix).forall(_.isDigit)))
      case None => mains
    }
    candidates
      .filter { case (_, ts) => ts >= 0 && ts <= timeMs }
      .map(_._1).maxOption
  }

  /** Rewrite every generation `touched` selects through `rewrite` in ONE
    * keyed pass ([[writeKeyedGens]], keyed by the generation's ordinal,
    * persisted so a nondeterministic predicate or SET expression is
    * evaluated once): each rewritten generation keeps its own dir,
    * `b<bucket>-<op><version>-g<index>-<nonce>`, and the pass tracks the
    * union of the stats, sketches and search columns the rewritten
    * generations carried. A generation the rewrite empties drops.
    * Returns the touched buckets' new generation lists.
    */
  private def rewriteGens(spark: SparkSession, root: File, table: String,
      ts: TableState, touched: BucketGen => Boolean, op: String,
      version: Long, nonce: String)(rewrite: DataFrame => DataFrame)
      : Map[Long, Seq[BucketGen]] = {
    val hits = (for {
      (b, gens) <- ts.buckets.toSeq.sortBy(_._1)
      (g, i) <- gens.zipWithIndex if touched(g)
    } yield (b, i, g)).toIndexedSeq
    val gens = hits.map(_._3)
    val keyed = rewrite(readKeyed(spark, root, ts.schema,
      gens.indices.map(k => k.toLong -> gens(k)), GenCol)).persist()
    val written = try writeKeyedGens(spark, root, keyed, GenCol, ts.schema,
        gens.flatMap(g => g.stats.keys ++ g.ndv.keys ++ g.kll.keys).distinct,
        gens.flatMap(_.search).distinct,
        tmpRel = s"data/$table/stage-$op$version-w$nonce",
        relFor = { k =>
          val (b, i, _) = hits(k.toInt)
          s"data/$table/b$b-$op$version-g$i-$nonce"
        }).toMap
      finally { keyed.unpersist(); () }
    val replaced = gens.indices.map(k => gens(k).path -> written.get(k.toLong))
      .toMap
    ts.buckets.collect { case (b, bg) if bg.exists(touched) =>
      b -> bg.flatMap(g => replaced.getOrElse(g.path, Some(g)))
    }
  }

  /** Predicate delete (the warehouse `DELETE FROM t WHERE …` the
    * reference's retention jobs run; Delta's DELETE shape): remove every
    * committed row matching `cond` in ONE atomic commit, touching only
    * the generations that actually hold matches.
    *
    * Two passes, both scale-bounded:
    *  1. DISCOVERY — one scan through the `format("graft")` read surface
    *     (so manifest stats/bucket/sidecar pruning applies to the
    *     predicate before any file opens, and parquet pushdown skips row
    *     groups inside them) counts the matches and collects the distinct
    *     FILES holding them; the file set maps back to generation dirs.
    *     Generations with no matching file — the vast majority under a
    *     selective predicate on a clustered or searched column — are left
    *     byte-untouched, keeping their dirs, stats, and sidecars.
    *  2. REWRITE — each touched generation rewrites alone (keep rows =
    *     `NOT coalesce(cond, false)`, the SQL DELETE null rule), so
    *     recluster slice granularity and tight stats survive; a
    *     generation emptied entirely drops from its bucket (its dir
    *     becomes an orphan the next GC collects). Search sidecars rebuild
    *     from the surviving rows.
    *
    * With an active change feed the deleted rows publish as `delete`
    * preimages in the same commit, so CDF subscribers (incremental marts,
    * index maintainers) retract them exactly; without a feed the delete
    * is an ordinary logical commit. Snapshot isolation holds throughout:
    * readers of older retained versions still see the rows. Returns the
    * number of rows deleted.
    */
  def deleteWhere(spark: SparkSession, root: File,
      cond: org.apache.spark.sql.Column, table: String = DefaultTable): Long = {
    // the CoW rewrite reads base bytes: fold merge-on-read deltas first
    val collapse = () => collapseDeltas(spark, root, table): Unit
    commitLoop(root, prepare = collapse) { manifest =>
      val ts = manifest.table(table)
      val (matched, touched) =
        if (ts.schemaJson.isEmpty) (0L, (_: BucketGen) => false)
        else matchedGens(root, spark.read.format("graft")
          .option("path", root.toString).option("table", table)
          .option("version", manifest.version.toString).load()
          .filter(cond))
      if (matched == 0L) Finish(0L)
      else {
        val nonce = newNonce()
        // an emptied generation drops; its dir orphans into GC
        val rewritten = rewriteGens(spark, root, table, ts, touched, "d",
          manifest.version + 1, nonce)(_.filter(!coalesce(cond, lit(false))))
        // active feed: the deleted rows ARE this commit's delta
        val changePath =
          if (ts.feedFrom < 0) None
          else Some(writeChanges(root,
            s"data/$table/chg-d${manifest.version + 1}-$nonce",
            spark.read.schema(ts.schema)
              .parquet(ts.gens.filter(touched)
                .map(g => new File(root, g.path).toString): _*)
              .filter(cond).withColumn(ChangeTypeCol, lit("delete"))))
        Publish("DELETE", Fold(Map(table -> TableUpdate(ts.schemaJson,
          rewritten, append = false, changePath = changePath))), matched)
      }
    }
  }

  /** Match discovery for [[deleteWhere]]/[[updateWhere]] over `matching`
    * — the rows matching the predicate, read through the
    * `format("graft")` surface so manifest stats/bucket/sidecar pruning
    * applies before any file opens, and parquet pushdown skips row groups
    * inside them. One job counts the matches PER FILE (distributed hash
    * agg, map-side partial — each task holds at most its own files' keys)
    * rather than a collect_set funneling every path through ONE reducer's
    * buffer: a broad delete at 100 TB can touch millions of files, and the
    * driver result is one small row per file either way. Returns the
    * match count and which generations hold a match.
    */
  private def matchedGens(root: File, matching: DataFrame)
      : (Long, BucketGen => Boolean) = {
    val fileRows = matching
      .select(input_file_name().as("f")) // projected first: aggregates
      .groupBy(col("f"))                 // reject nondeterministic args
      .agg(count(lit(1)).as("n"))
      .collect()
    val dirs = fileRows.map(r => genDirOf(r.getAs[String]("f"))).toSet
    (fileRows.iterator.map(_.getAs[Long]("n")).sum,
      g => dirs.contains(new File(root, g.path).getCanonicalPath))
  }

  /** The canonical generation dir holding data file `f` — a path or a
    * `file:` URI, as `input_file_name()` and scans report it.
    */
  private def genDirOf(f: String): String =
    new File(if (f.startsWith("file:")) new java.net.URI(f).getPath else f)
      .getParentFile.getCanonicalPath

  /** Predicate update (`UPDATE t SET … WHERE …`): rewrite every matching
    * row with the SET expressions, touching only the generations that
    * hold matches — same two-pass shape, pruning, OCC retry, and feed
    * contract as [[deleteWhere]], with the delta published as full
    * update_preimage/update_postimage pairs (Delta CDF shape) so
    * incremental consumers retract-and-apply exactly.
    *
    * SET columns must exist in the table schema and must NOT be merge
    * keys: a key-changing update would silently move rows out of their
    * hash bucket and break point-lookup pruning — that operation is a
    * delete+insert, which [[mergeBatch]]'s replace-by-key mode already
    * expresses transactionally. Values cast to the column's committed
    * type (the writer's own drifted-batch rule). Returns rows updated.
    */
  def updateWhere(spark: SparkSession, root: File,
      cond: org.apache.spark.sql.Column,
      sets: Map[String, org.apache.spark.sql.Column],
      table: String = DefaultTable): Long = {
    require(sets.nonEmpty, "updateWhere needs at least one SET column")
    // the CoW rewrite reads base bytes: fold merge-on-read deltas first
    val collapse = () => collapseDeltas(spark, root, table): Unit
    commitLoop(root, prepare = collapse) { manifest =>
      val ts = manifest.table(table)
      if (ts.schemaJson.isEmpty) Finish(0L)
      else {
        val schema = ts.schema
        sets.keys.foreach { c =>
          require(schema.fieldNames.contains(c), s"SET column '$c' not in schema")
          require(!ts.mergeKeys.contains(c),
            s"SET column '$c' is a merge key: a key-changing update is a " +
              "delete+insert (use mergeBatch with deleteKeys)")
        }
        val pruned = spark.read.format("graft")
          .option("path", root.toString).option("table", table)
          .option("version", manifest.version.toString).load()
          .filter(cond)
        val (matched, touched) = matchedGens(root, pruned)
        if (matched == 0L) Finish(0L)
        else {
          val hit = coalesce(cond, lit(false))
          // columns outside the SET list pass through (a rewrite's key
          // column included)
          def applySets(df: DataFrame): DataFrame =
            // generated columns RE-DERIVE from the post-SET row, so an
            // update to a referenced column cannot leave them stale
            applyGenerated(table, ts.props, schema, df.select(
              df.columns.map { c =>
                sets.get(c).fold(col(c))(e =>
                  when(hit, e.cast(schema(c).dataType)).otherwise(col(c)).as(c))
              }.toIndexedSeq: _*))
          // CHECK constraints gate the post-update images of the matched
          // rows before any generation rewrites
          enforceConstraints(table, ts.props, applySets(pruned))
          val nonce = newNonce()
          val rewritten = rewriteGens(spark, root, table, ts, touched, "u",
            manifest.version + 1, nonce)(applySets)
          val changePath =
            if (ts.feedFrom < 0) None
            else {
              val matchedRows = spark.read.schema(schema)
                .parquet(ts.gens.filter(touched)
                  .map(g => new File(root, g.path).toString): _*)
                .filter(cond)
              Some(writeChanges(root,
                s"data/$table/chg-u${manifest.version + 1}-$nonce",
                matchedRows.withColumn(ChangeTypeCol, lit("update_preimage"))
                  .unionByName(applySets(matchedRows)
                    .withColumn(ChangeTypeCol, lit("update_postimage")))))
            }
          Publish("UPDATE", Fold(Map(table -> TableUpdate(ts.schemaJson,
            rewritten, append = false, changePath = changePath))), matched)
        }
      }
    }
  }

  /** Group-replacement commit for the native SQL row-level operations
    * (MERGE INTO / UPDATE / subquery DELETE → Spark's group-based
    * `ReplaceData` plan): drop exactly the generations whose files the
    * operation's scan planned (`replacedFiles`), re-bucket the
    * replacement rows on the table's recorded merge-key hash, and
    * publish both in ONE atomic manifest swap.
    *
    * OCC contract: the replacement rows were computed against the
    * snapshot `baseVersion` pinned by the operation's scan. If a
    * concurrent commit changed THIS TABLE since, the statement's answer
    * is stale — rebasing would require re-running the whole rewrite
    * query, so the statement aborts with [[ConcurrentCommitException]]
    * (the Delta/Iceberg conflict contract); commits that touched only
    * other tables of the namespace rebase transparently. Tables
    * declaring `TBLPROPERTIES ('isolationLevel'='snapshot')` narrow the
    * same-table conflict to the statement's bucket footprint
    * ([[checkSnapshotRebase]]): concurrent commits confined to OTHER
    * buckets rebase and both publish — sound because a merge key can
    * only ever live in its hash bucket, so bucket-disjoint statements
    * share no row, and pruned-away generations were provably
    * match-free at the pinned snapshot (exactly Iceberg's
    * write.*.isolation-level=snapshot semantics: a concurrent insert
    * matching the predicate in an untouched bucket is not a conflict).
    *
    * Change feed: with an active feed the commit publishes an EXACT
    * keyed diff of the replaced generations' rows vs their replacements
    * — delete preimages, insert rows, and update_preimage/postimage
    * pairs for rows whose non-key columns actually changed (a group
    * rewrite re-emits untouched rows; those must NOT appear in the
    * feed). If merge keys are not unique in the touched groups (an
    * append-mode table), the diff is ill-posed and the feed resets —
    * the documented gap semantics rather than a wrong delta.
    */
  def replaceGroups(spark: SparkSession, root: File, table: String,
      replacedFiles: Seq[String], rows: DataFrame, op: String,
      baseVersion: Long): Unit = {
    val replacedDirs: Set[String] = replacedFiles.map(genDirOf).toSet
    commitLoop(root) { manifest =>
      val (ts, baseTs, moved) =
        statementTable(root, manifest, table, baseVersion)
      // a group replacement drops scanned FILES wholesale; outstanding
      // merge-on-read deltas are not files the scan planned, so the
      // rewrite would silently resurrect superseded rows. Reachable only
      // by flipping rowLevelMode back to copy-on-write with deltas still
      // outstanding — refuse with the remedy rather than corrupt.
      require(ts.deltas.isEmpty,
        s"table '$table' has outstanding merge-on-read deltas: run " +
          "CALL graft.system.compact (or collapseDeltas) before " +
          "copy-on-write row-level operations")
      val schema = ts.schema
      def touched(g: BucketGen): Boolean =
        replacedDirs.contains(new File(root, g.path).getCanonicalPath)
      val nonce = newNonce()
      val aligned0 = applyGenerated(table, ts.props, schema,
        rows.select(schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)).toIndexedSeq: _*))
      // rows born through MERGE's NOT MATCHED INSERT get identity values
      // too — same hwm reservation, stamped into THIS commit's props;
      // the snapshot-rebase props check makes rival reservations conflict
      val (aligned, hwmProps, idPersisted) =
        fillIdentitySlots(spark, schema, ts.props, aligned0)
      val bucketExpr =
        pmod(xxhash64(ts.mergeKeys.map(col).toIndexedSeq: _*),
          lit(ts.numBuckets))
      val withBucket = aligned.withColumn(BucketCol, bucketExpr).persist()
      try {
        enforceConstraints(table, ts.props, withBucket)
        val presentBuckets = withBucket.select(BucketCol).distinct()
          .collect().map(_.getLong(0)).toSet // bounded: ≤ numBuckets rows
        val touchedBuckets = ts.buckets.collect {
          case (b, gens) if gens.exists(touched) => b
        }.toSet
        // snapshot isolation: the moved table is rebasable iff the
        // layout is untouched and every concurrently-changed bucket is
        // disjoint from this statement's footprint — the buckets its
        // replaced generations lived in AT BASE (a concurrent rewrite
        // may have moved them since) plus the buckets it writes
        if (moved) {
          val baseTouched = baseTs.buckets.collect {
            case (b, gens) if gens.exists(touched) => b
          }.toSet
          checkSnapshotRebase(ts, baseTs, presentBuckets ++ baseTouched,
            manifest.version)
        }
        // ONE pass writes every present bucket's replacement generation
        // (repartition-by-bucket + dynamic partitioning — never a
        // filtered re-scan per bucket)
        val written: Map[Long, BucketGen] = writeKeyedGens(spark, root,
          withBucket, BucketCol, schema, ts.statsCols, ts.searchCols,
          tmpRel = s"data/$table/stage-m${manifest.version + 1}-w$nonce",
          relFor = b => s"data/$table/b$b-m${manifest.version + 1}-$nonce")
          .toMap
        val rewritten: Map[Long, Seq[BucketGen]] =
          (presentBuckets ++ touchedBuckets).toSeq.sorted.map { b =>
            val kept = ts.buckets.getOrElse(b, Nil).filterNot(touched)
            b -> (kept ++ written.get(b))
          }.toMap
        val changePath =
          if (ts.feedFrom < 0) None
          else replaceDelta(spark, root, table, ts, replacedDirs, aligned,
            manifest.version + 1, nonce)
        Publish(op, Fold(Map(table -> TableUpdate(ts.schemaJson, rewritten,
          append = false, changePath = changePath, props = hwmProps))), ())
      } finally {
        withBucket.unpersist(); idPersisted.foreach(_.unpersist()); ()
      }
    }
  }

  /** A row-level statement's table at the attempt's `manifest` and at
    * the snapshot `baseVersion` its scan pinned, and whether it moved in
    * between. A moved table aborts the statement under `serializable`
    * isolation (the default: ANY same-table change stales its answer);
    * under `snapshot` only a LAYOUT change aborts here.
    */
  private def statementTable(root: File, manifest: Manifest, table: String,
      baseVersion: Long): (TableState, TableState, Boolean) = {
    val baseTs = resolve(root, Some(baseVersion)).table(table)
    val ts = manifest.table(table)
    val moved = ts != baseTs
    if (moved && !ts.props.get("isolationLevel").contains("snapshot"))
      throw new FinalConflict(manifest.version)
    if (moved) checkSnapshotRebase(ts, baseTs, Set.empty, manifest.version)
    require(ts.schemaJson.nonEmpty, s"table '$table' does not exist")
    (ts, baseTs, moved)
  }

  /** The keyed diff a group replacement publishes to an active change
    * feed (see [[replaceGroups]]); None = feed must reset (non-unique
    * merge keys make the diff ill-posed).
    */
  private def replaceDelta(spark: SparkSession, root: File, table: String,
      ts: TableState, replacedDirs: Set[String], replacement: DataFrame,
      nextVersion: Long, nonce: String): Option[String] = {
    val schema = ts.schema
    val keys = ts.mergeKeys
    def touched(g: BucketGen): Boolean =
      replacedDirs.contains(new File(root, g.path).getCanonicalPath)
    val oldDirs = ts.gens.filter(touched).map(g =>
      new File(root, g.path).toString)
    val oldRows =
      if (oldDirs.isEmpty)
        spark.createDataFrame(
          new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
      else spark.read.schema(schema).parquet(oldDirs: _*)
    def uniqueKeys(df: DataFrame): Boolean = df
      .groupBy(keys.map(col).toIndexedSeq: _*)
      .agg(count(lit(1)).as("__n")).filter(col("__n") > 1).isEmpty
    if (!uniqueKeys(oldRows) || !uniqueKeys(replacement)) return None
    // null-safe per-column comparison; map-typed columns (not orderable)
    // compare through their canonical JSON rendering
    def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
      case _: org.apache.spark.sql.types.MapType => true
      case s: StructType => s.fields.exists(f => hasMap(f.dataType))
      case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
      case _ => false
    }
    val o = oldRows.select(schema.fieldNames.map(c =>
      col(c).as(s"__o_$c")).toIndexedSeq: _*).withColumn("__o", lit(true))
    val n = replacement.select(schema.fieldNames.map(c =>
      col(c).as(s"__n_$c")).toIndexedSeq: _*).withColumn("__n", lit(true))
    val joined = o.join(n,
      keys.map(k => col(s"__o_$k") <=> col(s"__n_$k")).reduce(_ && _),
      "full_outer").persist()
    try {
      def oCols = schema.fieldNames.map(c => col(s"__o_$c").as(c)).toIndexedSeq
      def nCols = schema.fieldNames.map(c => col(s"__n_$c").as(c)).toIndexedSeq
      val changedCond = schema.fields.filterNot(f => keys.contains(f.name))
        .map { f =>
          if (hasMap(f.dataType))
            !(to_json(col(s"__o_${f.name}")) <=> to_json(col(s"__n_${f.name}")))
          else !(col(s"__o_${f.name}") <=> col(s"__n_${f.name}"))
        }.reduceOption(_ || _).getOrElse(lit(false))
      val inserts = joined.filter(col("__o").isNull)
        .select(nCols: _*).withColumn(ChangeTypeCol, lit("insert"))
      val deletes = joined.filter(col("__n").isNull)
        .select(oCols: _*).withColumn(ChangeTypeCol, lit("delete"))
      val changed = joined
        .filter(col("__o").isNotNull && col("__n").isNotNull && changedCond)
      val pre = changed.select(oCols: _*)
        .withColumn(ChangeTypeCol, lit("update_preimage"))
      val post = changed.select(nCols: _*)
        .withColumn(ChangeTypeCol, lit("update_postimage"))
      Some(writeChanges(root, s"data/$table/chg-m$nextVersion-$nonce",
        inserts.unionByName(deletes).unionByName(pre).unionByName(post)))
    } finally { joined.unpersist(); () }
  }

  /** Publish one MERGE-ON-READ row-delta commit — the SupportsDelta
    * write path's commit. `staged` holds exactly the statement's change
    * rows (table schema plus [[RowOpCol]]: "i" insert, "u" update,
    * "d" tombstone with non-key columns null); they bucket by the
    * table's recorded merge-key hash and land as ONE new delta
    * generation per touched bucket. Base generations are untouched, so
    * a selective MERGE's write volume scales with its CHANGED rows, not
    * with the size of every bucket it grazed (the Iceberg/Delta
    * merge-on-read shape; graft's copy-on-write [[replaceGroups]] stays
    * the default mode). Reads fold the deltas back via
    * [[reconcileDeltas]]; [[collapseDeltas]]/compact erase them.
    *
    * The change feed stays EXACT: preimages for updates/deletes come
    * from a keyed semi-join against the reconciled pre-statement
    * snapshot — bounded by the statement's own key set.
    *
    * Concurrency: same contract as [[replaceGroups]] — a same-table
    * commit between the statement's scan and this commit aborts; a
    * commit that touched only other tables rebases transparently.
    */
  def applyRowDeltas(spark: SparkSession, root: File, table: String,
      staged: DataFrame, op: String, baseVersion: Long): Unit =
    commitLoop(root) { manifest =>
      val (ts, baseTs, moved) =
        statementTable(root, manifest, table, baseVersion)
      require(ts.mergeKeys.nonEmpty && ts.numBuckets > 0,
        s"table '$table' has no recorded merge keys/bucketing")
      val schema = ts.schema
      val deltaSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(RowOpCol,
          org.apache.spark.sql.types.StringType))
      val nonce = newNonce()
      // generated columns derive on the UPSERT rows; tombstones carry a
      // key and the op marker only, so deriving over their nulls is
      // harmless (nothing reads a tombstone's data columns)
      val aligned0 = applyGenerated(table, ts.props, schema,
        staged.select((schema.fields.map(f =>
          col(f.name).cast(f.dataType).as(f.name)) :+ col(RowOpCol))
          .toIndexedSeq: _*))
      // identity values for MERGE-inserted rows on the delta path too;
      // tombstones are exempt (they carry null data columns by design)
      val (aligned, hwmProps, idPersisted) =
        fillIdentitySlots(spark, schema, ts.props, aligned0,
          skip = Some(col(RowOpCol) === "d"))
      val bucketExpr =
        pmod(xxhash64(ts.mergeKeys.map(col).toIndexedSeq: _*),
          lit(ts.numBuckets))
      val withBucket = aligned.withColumn(BucketCol, bucketExpr).persist()
      try {
        // tombstones carry the deleted key only — constraints gate the
        // rows that will LIVE (upserts and inserts)
        enforceConstraints(table, ts.props,
          withBucket.filter(col(RowOpCol) =!= "d"))
        val written: Map[Long, BucketGen] = writeKeyedGens(spark, root,
          withBucket, BucketCol, deltaSchema, ts.statsCols, Nil,
          tmpRel = s"data/$table/stage-dd${manifest.version + 1}-w$nonce",
          relFor = b => s"data/$table/b$b-dd${manifest.version + 1}-$nonce")
          .toMap
        // nothing changed: no commit
        if (written.isEmpty) Finish(())
        else {
          // snapshot isolation: a delta commit's footprint is exactly the
          // buckets its touched keys hash to — rebase when the concurrent
          // commits stayed out of them (write-write disjointness; the
          // statement's matched-scan covered the same buckets, keys hash
          // deterministically)
          if (moved)
            checkSnapshotRebase(ts, baseTs, written.keySet, manifest.version)
          val changePath =
            if (ts.feedFrom < 0) None
            else {
              val keys = ts.mergeKeys
              val current = reconcileDeltas(spark, root.toString, ts,
                readDirs(spark, root.toString, ts, ts.gens.map(_.path)))
              val touchedKeys = aligned
                .filter(col(RowOpCol).isin("u", "d"))
                .select((keys.map(col) :+ col(RowOpCol)).toIndexedSeq: _*)
              val cond = keys.map(k => current(k) <=> touchedKeys(k))
                .reduce(_ && _)
              val old = current.join(
                touchedKeys.withColumnRenamed(RowOpCol, "__top"),
                cond, "inner")
                .select((schema.fieldNames.map(current(_)) :+ col("__top"))
                  .toIndexedSeq: _*)
              val deletes = old.filter(col("__top") === "d").drop("__top")
                .withColumn(ChangeTypeCol, lit("delete"))
              val pre = old.filter(col("__top") === "u").drop("__top")
                .withColumn(ChangeTypeCol, lit("update_preimage"))
              val post = aligned.filter(col(RowOpCol) === "u").drop(RowOpCol)
                .withColumn(ChangeTypeCol, lit("update_postimage"))
              val ins = aligned.filter(col(RowOpCol) === "i").drop(RowOpCol)
                .withColumn(ChangeTypeCol, lit("insert"))
              Some(writeChanges(root,
                s"data/$table/chg-dd${manifest.version + 1}-$nonce",
                ins.unionByName(deletes).unionByName(pre).unionByName(post)))
            }
          Publish(op, Fold(Map(table -> TableUpdate(ts.schemaJson, Map.empty,
            append = true, changePath = changePath,
            deltaBuckets = written.map { case (b, g) => b -> Seq(g) },
            props = hwmProps))), ())
        }
      } finally {
        withBucket.unpersist(); idPersisted.foreach(_.unpersist()); ()
      }
    }

  /** Fold every outstanding merge-on-read delta back into base
    * generations — one reconciled rewrite of exactly the delta'd
    * buckets, then a commit that replaces those buckets and clears
    * their deltas. Physical-only (`logicalChange = false`): the
    * reconciled rows are what reads already served, so an active change
    * feed is untouched. compact() runs this first, and copy-on-write
    * writers (mergeBatch, delete/update_where, recluster) invoke it
    * before rewriting buckets whose base bytes they read directly.
    * Returns false when there was nothing to collapse.
    */
  def collapseDeltas(spark: SparkSession, root: File,
      table: String): Boolean =
    commitLoop(root) { manifest =>
      val ts = manifest.table(table)
      if (ts.deltas.isEmpty) Finish(false)
      else {
        val nonce = newNonce()
        val bucketIds = ts.deltas.keySet.toSeq.sorted
        val baseDirs = bucketIds.flatMap(b =>
          ts.buckets.getOrElse(b, Nil)).map(_.path)
        val reconciled = reconcileDeltas(spark, root.toString, ts,
          readDirs(spark, root.toString, ts, baseDirs))
        val bucketExpr =
          pmod(xxhash64(ts.mergeKeys.map(col).toIndexedSeq: _*),
            lit(ts.numBuckets))
        val withBucket = reconciled.withColumn(BucketCol, bucketExpr)
          .persist()
        try {
          val written = writeKeyedGens(spark, root, withBucket, BucketCol,
            ts.schema, ts.statsCols, ts.searchCols,
            tmpRel = s"data/$table/stage-c${manifest.version + 1}-w$nonce",
            relFor = b => s"data/$table/b$b-c${manifest.version + 1}-$nonce")
            .toMap
          // a bucket whose keys were all tombstoned rewrites to EMPTY —
          // its base generations still drop
          val rewritten = bucketIds.map(b => b -> written.get(b).toSeq).toMap
          Publish("COLLAPSE", Fold(Map(table -> TableUpdate(ts.schemaJson,
            rewritten, append = false, changePath = None,
            logicalChange = false, clearDeltas = bucketIds))), true)
        } finally { withBucket.unpersist(); () }
      }
    }

  /** Retrofit search sidecars and min/max stats onto EXISTING generations
    * — the `ALTER TABLE … ADD SEARCH OPTIMIZATION` analogue. The write
    * path indexes only what the writer declared at write time
    * ([[writeKeyedGens]]); this verb closes the gap for tables that grew
    * first and indexed later, WITHOUT touching a single data row:
    * generation dirs keep their paths (snapshot isolation and the change
    * feed are untouched — `logicalChange = false`), gaining only an additive
    * `_search_*` sidecar file inside and stats entries in the manifest.
    *
    * Scale shape: per requested search column, ONE distributed pass over
    * only the generations missing that column's sidecar — rows key by
    * their generation dir, per-partition partial filters merge by key,
    * and each generation's final filter is WRITTEN FROM THE TASK that
    * reduced it (never funneling all filters' bytes through the driver).
    * Stats backfill likewise: one grouped aggregation over the missing
    * generations, one small row per generation back to the driver. The
    * requested columns also become the table's RECORDED statsCols /
    * searchCols, so every future writer keeps them current.
    *
    * Returns the number of generations that gained an index or stats.
    */
  def buildIndexes(spark: SparkSession, root: File, table: String,
      searchCols: Seq[String], statsCols: Seq[String] = Nil): Long = {
    import org.apache.spark.util.sketch.BloomFilter
    // a retry rebases: a data commit may have replaced generations
    commitLoop(root) { manifest =>
      val ts = manifest.table(table)
      // a missing table has no generations, so nothing to index
      val schema = if (ts.schemaJson.isEmpty) StructType(Nil) else ts.schema
      val search = searchCols.distinct.filter(c =>
        schema.fieldNames.contains(c) && searchKind(schema(c).dataType).nonEmpty)
      val stats = statsCols.distinct.filter(c =>
        schema.fieldNames.contains(c) && statsKind(schema(c).dataType).nonEmpty)
      // NDV + KLL sketches backfill alongside bounds, for the
      // requested columns whose types support them
      val ndvCols = ndvEligible(schema, stats, search)
      val kllCols = kllEligible(schema, stats)
      def dirKey(g: BucketGen): String =
        new File(root, g.path).getCanonicalPath
      def missingSearch(g: BucketGen): Seq[String] =
        search.filterNot(g.search.contains)
      def missingStats(g: BucketGen): Seq[String] =
        stats.filterNot(g.stats.contains)
      def missingNdv(g: BucketGen): Seq[String] =
        ndvCols.map(_._1).filterNot(g.ndv.contains)
      def missingKll(g: BucketGen): Seq[String] =
        kllCols.filterNot(g.kll.contains)
      val todo = ts.gens.filter(g =>
        missingSearch(g).nonEmpty || missingStats(g).nonEmpty ||
          missingNdv(g).nonEmpty || missingKll(g).nonEmpty)
      if (todo.isEmpty) Finish(0L)
      else {
        val conf = new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())
        // -- sidecar backfill: one job per requested column over the
        //    generations missing it --
        search.foreach { c =>
          val kind = searchKind(schema(c).dataType).get
          val needs = ts.gens.filter(g => !g.search.contains(c))
          if (needs.nonEmpty) {
            val sizes = needs.map(g =>
              dirKey(g) -> math.max(g.rows, 1L)).toMap
            val bSizes = spark.sparkContext.broadcast(sizes)
            val fpp = SearchFpp
            val rows = spark.read.schema(schema)
              .parquet(needs.map(g => new File(root, g.path).toString): _*)
              .select(input_file_name().as("__f"), col(c).as("__v"))
              .na.drop(Seq("__v"))
            rows.rdd.mapPartitions { it =>
              // per-partition partial filters keyed by generation dir
              val partial = scala.collection.mutable.HashMap
                .empty[String, BloomFilter]
              it.foreach { r =>
                val dir = genDirOf(r.getString(0))
                val bf = partial.getOrElseUpdate(dir,
                  BloomFilter.create(
                    bSizes.value.getOrElse(dir, 1L), fpp))
                if (kind == "long")
                  bf.putLong(r.get(1).asInstanceOf[Number].longValue)
                else bf.putString(r.get(1).toString)
              }
              partial.iterator
            }.reduceByKey { (a, b) => a.mergeInPlace(b); a }
              .foreach { case (dir, bf) =>
                // task-side serialize straight into the generation dir
                writeSidecarFile(conf.value, dir, c, kind, bf)
              }
          }
        }
        // -- stats + NDV backfill: ONE grouped pass over generations
        //    missing any requested column's bounds or sketch --
        val statFields = stats.map(c =>
          c -> statsKind(schema(c).dataType).get)
        val statsByDir: Map[String, GenStats] = {
          val needs = ts.gens.filter(g =>
            missingStats(g).nonEmpty || missingNdv(g).nonEmpty ||
              missingKll(g).nonEmpty)
          if ((statFields.isEmpty && ndvCols.isEmpty && kllCols.isEmpty) ||
              needs.isEmpty)
            Map.empty
          else {
            val aggs = statsAggs(schema, statFields, ndvCols, kllCols)
            spark.read.schema(schema)
              .parquet(needs.map(g => new File(root, g.path).toString): _*)
              .groupBy(regexp_replace(input_file_name(),
                "/[^/]*$", "").as("__dir"))
              .agg(aggs.head, aggs.tail: _*)
              .collect().map { r =>
                val f = r.getString(0)
                val dir = new File(
                  if (f.startsWith("file:")) new java.net.URI(f).getPath
                  else f).getCanonicalPath
                dir -> decodeStats(r, statFields, ndvCols, kllCols)
              }.toMap
          }
        }
        // -- publish: same dirs, richer metadata (recorded entries win);
        //    recorded layout adopts the requested columns so future
        //    writers keep indexing --
        val rewritten = ts.buckets.map { case (b, gens) =>
          b -> gens.map { g =>
            val (st, nd, kl) = statsByDir.getOrElse[GenStats](dirKey(g),
              (Map.empty, Map.empty, Map.empty))
            g.copy(stats = st ++ g.stats,
              search = (g.search ++ missingSearch(g)).distinct,
              ndv = nd ++ g.ndv, kll = kl ++ g.kll)
          }
        }
        Publish("INDEX", Fold(Map(table -> TableUpdate(ts.schemaJson,
          rewritten, append = false, changePath = None,
          logicalChange = false,
          statsCols = (ts.statsCols ++ stats).distinct,
          searchCols = (ts.searchCols ++ search).distinct))), todo.size.toLong)
      }
    }
  }

  /** One policy-driven maintenance sweep over every table of the root
    * (`CALL graft.system.maintain(ns)`) — the operational loop that
    * turns the individual verbs into Snowflake's automatic-clustering
    * shape: a table DECLARES its thresholds as properties and one
    * scheduled call applies them, each verb already incremental so a
    * quiet table costs metadata probes only.
    *
    *  - `maintCompactSmallRows` — minor compaction folding generations
    *    at or under this many rows ([[compact]]'s `smallRows`);
    *  - `maintReclusterCols` (+ optional `maintReclusterSlices`,
    *    default 4; `maintOverlapBudget`, default 1; `maintZorder`) —
    *    incremental recluster rewriting only window-violating
    *    generations ([[reclusterBy]]'s `overlapBudget`);
    *  - a final [[gc]] sweep reports what it collected.
    *
    * Returns one (table, verb, result) row per action taken: folded
    * generation count for compact, rewritten count for recluster,
    * swept file count for vacuum.
    */
  def maintain(spark: SparkSession,
      root: File): Seq[(String, String, Long)] = {
    val m = read(root).getOrElse(return Nil)
    val out = scala.collection.mutable.ListBuffer.empty[(String, String, Long)]
    m.tables.toSeq.sortBy(_._1).foreach { case (name, ts) =>
      if (ts.schemaJson.nonEmpty) {
        def intProp(k: String): Option[Long] =
          ts.props.get(k).flatMap(v => scala.util.Try(v.trim.toLong).toOption)
        intProp("maintCompactSmallRows").foreach { small =>
          val before = read(root).map(_.table(name).gens.size).getOrElse(0)
          compact(spark, root, name, smallRows = small)
          val after = read(root).map(_.table(name).gens.size).getOrElse(0)
          out += ((name, "compact", (before - after).toLong max 0L))
        }
        ts.props.get("maintReclusterCols")
          .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
          .filter(_.nonEmpty).foreach { cols =>
            val n = reclusterBy(spark, root, cols, name,
              slices = intProp("maintReclusterSlices")
                .map(_.toInt).getOrElse(4),
              zorder = ts.props.get("maintZorder").exists(_.toBoolean),
              overlapBudget = intProp("maintOverlapBudget")
                .map(_.toInt).getOrElse(1))
            out += ((name, "recluster", n))
          }
        // the recorded search/stats layout IS an index declaration:
        // backfill any generation it doesn't cover yet (adopted layouts
        // via ALTER TABLE, or legacy generations) — zero row rewrites,
        // a covered table costs one metadata probe
        if (ts.searchCols.nonEmpty || ts.statsCols.nonEmpty) {
          val n = buildIndexes(spark, root, name, ts.searchCols, ts.statsCols)
          if (n > 0) out += ((name, "index", n))
        }
      }
    }
    // declared data metric functions sweep last, so they measure the
    // maintained state; the count reported here is rows recorded into
    // the _metrics ops table this sweep (values live in that table)
    val metricRows = runMetrics(spark, root)
    if (metricRows.nonEmpty)
      out += (("", "metrics", metricRows.size.toLong))
    val swept = read(root).map(gc(root, _)).getOrElse(GcStats(0L, 0L))
    out += (("", "vacuum", swept.files))
    out.toList
  }

  /** Bucket-count evolution (`CALL graft.system.rebucket`): rewrite the
    * table under a NEW merge-key hash-bucket count as one atomic
    * physical-only commit — the warehouse's reclustering answer to "the
    * table outgrew its bucketing" (16 buckets chosen at sf0.1 starve a
    * 1000-executor cluster at 100 TB). One pass repartitions every row
    * by the new hash ([[writeKeyedGens]] — the same one-pass keyed
    * writer merge and recluster use) and the commit swaps the WHOLE
    * bucket map plus the recorded `numBuckets`, so readers before the
    * swap prune on the old layout, readers after on the new; there is
    * deliberately no dual-hash migration window to reason about. Feed
    * intact (physical-only), outstanding merge-on-read deltas collapse
    * first, stats/search sidecars carry forward. OCC: a concurrent data
    * commit rebases the whole pass (same contract as compact).
    */
  def rebucket(spark: SparkSession, root: File, table: String,
      newBuckets: Int, statsCols: Seq[String] = Nil): Unit = {
    require(newBuckets > 0, s"bucket count must be positive: $newBuckets")
    val collapse = () => collapseDeltas(spark, root, table): Unit
    commitLoop(root, prepare = collapse) { manifest =>
      val ts = manifest.table(table)
      require(ts.schemaJson.nonEmpty, s"table '$table' does not exist")
      require(ts.mergeKeys.nonEmpty,
        s"table '$table' has no recorded merge keys to bucket by")
      if (ts.numBuckets == newBuckets) Finish(())
      else {
        val nonce = newNonce()
        val df = spark.read.schema(ts.schema)
          .parquet(ts.gens.map(g => new File(root, g.path).toString): _*)
        val withB = df.withColumn(BucketCol,
            pmod(xxhash64(ts.mergeKeys.map(col).toIndexedSeq: _*),
              lit(newBuckets)))
          .select(col(BucketCol) +:
            ts.schema.fieldNames.map(col).toIndexedSeq: _*)
        // a rebucket DOWN to few buckets must not serialize into
        // #buckets writer tasks: spread each bucket's rows across
        // shufflePartitions/buckets salted slots (row-content hash —
        // deterministic, key-independent)
        val spreadN = math.max(1,
          spark.sessionState.conf.numShufflePartitions / newBuckets)
        val spread =
          if (spreadN <= 1) None
          else Some((newBuckets * spreadN, pmod(xxhash64(
            ts.schema.fieldNames.map(col).toIndexedSeq: _*), lit(spreadN))))
        val written = writeKeyedGens(spark, root, withB, BucketCol,
          ts.schema, (statsCols ++ ts.statsCols).distinct, ts.searchCols,
          tmpRel = s"data/$table/stage-rb${manifest.version + 1}-w$nonce",
          relFor = b => s"data/$table/b$b-rb${manifest.version + 1}-$nonce",
          spread = spread)
        val rewritten = written.map { case (b, g) => b -> Seq(g) }.toMap
        Publish(s"REBUCKET:${ts.numBuckets}->$newBuckets",
          Fold(Map(table -> TableUpdate(ts.schemaJson, rewritten,
            append = false, changePath = None, logicalChange = false,
            mergeKeys = ts.mergeKeys, numBuckets = newBuckets,
            replaceAll = true))), ())
      }
    }
  }

  /** Compact a table's multi-generation buckets back to one generation each
    * — the micro-partition compaction that keeps append-mostly tables' file
    * counts bounded. Concatenation only (append generations never contain
    * conflicting merge keys — merges already rewrite); published as a
    * normal atomic commit, readers never see a half-compacted table.
    */
  def compact(spark: SparkSession, root: File, table: String = DefaultTable,
      statsCols: Seq[String] = Nil,
      /** ≥ 0 enables MINOR compaction (the LSM / OPTIMIZE-binpack
        * shape): only generations at or under this many rows fold
        * together, and a bucket's LARGE generations keep their dirs
        * untouched (path identity) — appends accumulate as small
        * generations, and folding them must not pay a rewrite of the
        * bucket's multi-GB base. Unknown row counts (-1, pre-count
        * commits) count as small: folding them is the safe direction.
        * The default (-1) collapses every multi-generation bucket to
        * one generation — major compaction, the previous behavior.
        */
      smallRows: Long = -1L): Unit = {
    // compaction's first job on a merge-on-read table: fold the
    // outstanding row deltas into base (its own commit), THEN collapse
    // multi-generation buckets; a retry rebases on an interleaved data
    // commit, which may have split or replaced the very buckets this
    // pass concatenated
    val collapse = () => collapseDeltas(spark, root, table): Unit
    commitLoop(root, prepare = collapse) { manifest =>
      val ts = manifest.table(table)
      def smalls(gens: Seq[BucketGen]): Seq[BucketGen] =
        if (smallRows < 0L) gens
        else gens.filter(g => g.rows < 0L || g.rows <= smallRows)
      val multi = ts.buckets.filter(kv => smalls(kv._2).length > 1)
      if (multi.isEmpty) Finish(())
      else {
        val nonce = newNonce()
        // every bucket's folded generations rewrite in ONE keyed pass,
        // each bucket into one generation
        val fold = multi.toSeq.flatMap { case (b, gens) => smalls(gens).map(b -> _) }
        val folded = fold.map(_._2.path).toSet
        // physical rewrites carry the rewritten generations' indexing
        // forward: a compacted bucket must not silently stop pruning
        val written = writeKeyedGens(spark, root,
          readKeyed(spark, root, ts.schema, fold, BucketCol), BucketCol,
          ts.schema,
          (statsCols ++ fold.flatMap { case (_, g) =>
            g.stats.keys ++ g.ndv.keys ++ g.kll.keys }).distinct,
          fold.flatMap(_._2.search).distinct,
          tmpRel = s"data/$table/stage-c${manifest.version + 1}-w$nonce",
          relFor = b => s"data/$table/b$b-c${manifest.version + 1}-$nonce")
          .toMap
        val rewritten = multi.map { case (b, gens) =>
          b -> (gens.filterNot(g => folded(g.path)) ++ written.get(b))
        }
        Publish("COMPACT", Fold(Map(table -> TableUpdate(ts.schemaJson,
          rewritten, append = false,
          // physical-only rewrite: no logical change, an active feed
          // stays intact (no entry, no reset)
          changePath = None, logicalChange = false))), ())
      }
    }
  }

  /** Re-cluster one table on `column` — the explicit-maintenance analogue
    * of Snowflake's clustering keys. Merge rewrites hash-bucket on the KEY,
    * so every bucket's generation spans nearly the full range of any other
    * column and min/max skipping ([[readTableRange]]) degrades to a full
    * scan on merge-heavy tables. This pass rewrites each bucket's
    * generations as up to `slices` range-disjoint generation dirs split at
    * the bucket's own quantiles of `column`, each carrying tight min/max
    * stats — a range predicate then opens ~1/slices of each bucket instead
    * of all of it, with no change to bucket routing (key lookups prune
    * exactly as before; the two prunings COMPOSE).
    *
    * Physical-only: row set, schema, bucketing, and an active change feed
    * are untouched (`logicalChange = false`), published as one ordinary
    * atomic commit with the same rebase-on-conflict retry as
    * [[compact]]/[[mergeBatch]]. Cost per bucket: one quantile pass, one
    * slice-count pass, and `slices` filtered writes over a cached read —
    * the background-rewrite price every warehouse pays for reclustering,
    * paid here only when the operator invokes it.
    */
  def recluster(spark: SparkSession, root: File, column: String,
      table: String = DefaultTable, slices: Int = 4,
      statsCols: Seq[String] = Nil): Unit =
    reclusterBy(spark, root, Seq(column), table, slices, statsCols)

  /** Composite (multi-column) reclustering — Snowflake clustering keys are
    * composite, and a mixed-predicate workload (client_id + ts) needs
    * pruning on BOTH dimensions. Each bucket is cut into a grid of
    * ~`slices` cells: every column gets `q = ceil(slices^(1/k))` quantile
    * strata of its own distribution, and a cell is one stratum per column
    * — the depth-1 interleaving a Z-order curve induces, which is exactly
    * what min/max pruning can exploit (stats are per-dimension rectangles;
    * finer bit interleaving changes cell SHAPE, not the pruning algebra).
    * Each cell writes one generation with tight stats on every clustering
    * column, so [[readTableRanges]] prunes multiplicatively:
    * a predicate selective on d of the k dimensions opens ~q^(k−d)/q^k of
    * each bucket.
    */
  def reclusterBy(spark: SparkSession, root: File, columns: Seq[String],
      table: String = DefaultTable, slices: Int = 4,
      statsCols: Seq[String] = Nil, zorder: Boolean = false,
      /** ≥ 0 enables INCREMENTAL reclustering (the Iceberg
        * `rewrite_data_files WHERE` shape): only generations whose
        * recorded range on the PRIMARY clustering column overlaps more
        * than this many sibling generations rewrite; range-disjoint
        * generations keep their dirs untouched (path identity). A table
        * maintained by periodic incremental reclusters pays per run for
        * the churn since the last run, never for its size — the full
        * rewrite (-1, the default) stays for first-time clustering and
        * layout changes.
        */
      overlapBudget: Int = -1): Long = {
    require(columns.nonEmpty, "reclusterBy needs at least one column")
    require(slices >= 2, s"recluster needs >= 2 slices, got $slices")
    require(!zorder || columns.size <= 8,
      "z-order interleaving supports up to 8 clustering columns")
    // per-dimension strata: smallest q with q^k >= slices (grid mode);
    // z-order mode ranks each dimension much finer (ZLevels) and cuts
    // the interleaved curve into `slices` equal-count cells instead
    val q = math.max(2,
      math.ceil(math.pow(slices.toDouble, 1.0 / columns.size)).toInt)
    val primary = columns.head
    /** The bucket's window-violating generations: overlap counted on the
      * primary clustering column's recorded bounds (num via decimal,
      * str via UTF-8 — the stats' own domains); a generation with no
      * comparable stat can't prove itself disjoint and always rewrites.
      * O(gens²) per bucket over manifest METADATA only — generations
      * per bucket are bounded by the append cadence between reclusters.
      */
    def violating(gens: Seq[BucketGen]): Seq[BucketGen] =
      if (overlapBudget < 0) gens
      else {
        val (statted, statless) = gens.partition(_.stats.contains(primary))
        val rs = statted.map(g => (g, g.stats(primary)))
        def over(a: ColStat, b: ColStat): Boolean =
          a.kind != b.kind || (a.kind match {
            case "num" => BigDecimal(a.lo) <= BigDecimal(b.hi) &&
              BigDecimal(b.lo) <= BigDecimal(a.hi)
            case _ => utf8Compare(a.lo, b.hi) <= 0 &&
              utf8Compare(b.lo, a.hi) <= 0
          })
        statless ++ rs.filter { case (g, s) =>
          rs.count { case (o, os) => (o ne g) && over(s, os) } > overlapBudget
        }.map(_._1)
      }
    // recluster reads base bytes: fold merge-on-read deltas first; a
    // retry rebases on an interleaved data commit and re-clusters
    val collapse = () => collapseDeltas(spark, root, table): Unit
    commitLoop(root, prepare = collapse) { manifest =>
      val ts = manifest.table(table)
      val stats = (statsCols ++ columns).distinct
      val nonce = newNonce()
      if (ts.buckets.isEmpty) Finish(0L)
      else {
        // buckets recluster INDEPENDENTLY (distinct input gens, distinct
        // output dirs) — submit several buckets' job chains concurrently
        // so the cluster pipelines them instead of draining one bucket's
        // quantile/write jobs before the next bucket starts; the commit
        // below still swaps every bucket atomically at once, and a failed
        // bucket surfaces only once every sibling has settled. Four at a
        // time: each chain holds its bucket's rewrite rows persisted
        def reclusterBucket(b: Long, gens: Seq[BucketGen])
            : (Long, (Seq[BucketGen], Int)) = {
          val rw = violating(gens)
          // a bucket with nothing to rewrite keeps its generation list
          // verbatim — no read, no write, no job
          if (rw.isEmpty) b -> ((gens, 0))
          else {
          val keepGens = gens.filterNot(g => rw.exists(_.path == g.path))
          val df = spark.read.schema(ts.schema)
            .parquet(rw.map(g => new File(root, g.path).toString): _*)
            .persist()
          try {
            // per-column cut points at the bucket's own quantiles (nulls
            // and a degenerate single-value column both collapse to fewer
            // strata on that dimension, never a crash)
            val ck = columns.indices.map(i => s"__graft_ck$i")
            val kinds = columns.map(c =>
              statsKind(ts.schema(c).dataType).getOrElse("num"))
            val keyed = columns.zipWithIndex.foldLeft(df) {
              case (acc, (c, i)) if kinds(i) == "num" =>
                acc.withColumn(ck(i), col(c).cast("double"))
              case (acc, _) => acc
            }
            // per-dimension rank in [0, levels-1] at the bucket's own
            // quantiles (grid mode: levels = q strata; z-order mode:
            // levels = ZLevels fine ranks feeding the bit interleave).
            // ONE multi-column approxQuantile job covers every numeric
            // dimension, and each rank is a single binary-search
            // expression ([[graft.functions.BucketRank]]) — the plan
            // tree stays constant-size no matter how fine the strata
            // (the when-chain formulation put ~2·levels CaseWhen nodes
            // in every job's plan; at ZLevels=64 each of the bucket's
            // jobs paid seconds of driver planning/codegen before a row
            // moved — measured 8× the grid's recluster wall clock)
            def rankExprs(levels: Int): Seq[Column] = {
              val numIdx = columns.indices.filter(i => kinds(i) != "str")
              val numCuts: Map[Int, Seq[Double]] =
                if (numIdx.isEmpty) Map.empty
                else numIdx.zip(keyed.stat.approxQuantile(
                  numIdx.map(ck).toArray,
                  (1 until levels).map(_.toDouble / levels).toArray,
                  math.min(0.01, 0.5 / levels))
                  .map(_.filterNot(_.isNaN).distinct.sorted.toSeq)).toMap
              columns.zipWithIndex.map { case (c, i) =>
                if (kinds(i) == "str") {
                  // approxQuantile is numeric-only: a STRING dimension
                  // cuts at evenly-spaced ranks of a bounded uniform row
                  // sample (driver-side, ≤ ~20k values regardless of
                  // bucket size), sorted in UTF-8 byte order — exactly
                  // how BucketRank ranks strings, so cell stats stay
                  // tight and correct
                  val n = math.max(1L, df.count())
                  val vals = (if (n <= 20000L) df.select(col(c)).na.drop
                    else df.select(col(c)).na.drop
                      .sample(withReplacement = false, 20000.0 / n, 42L))
                    .collect().map(_.getString(0))
                    .sortWith(utf8Compare(_, _) < 0)
                  val cuts =
                    if (vals.isEmpty) Seq.empty[String]
                    else (1 until levels)
                      .map(j => vals(j * (vals.length - 1) / levels))
                      .distinct
                  graft.functions.BucketRank.str(col(c), cuts)
                } else graft.functions.BucketRank.num(col(ck(i)), numCuts(i))
              }
            }
            val (cellFrame, cellId) =
              if (!zorder)
                // mixed-radix cell id: one stratum per dimension — the
                // depth-1 grid (independent per-dimension quantiles)
                (keyed, rankExprs(q).reduceLeft((acc, s) => acc * q + s))
              else {
                // TRUE bit interleaving: rank every dimension into
                // ZLevels fine quantile levels, interleave the rank bits
                // into one z-value, and cut the CURVE into `slices`
                // equal-count cells at the z-value's own quantiles.
                // Cells adapt to the joint distribution (correlated
                // dimensions no longer concentrate in a few diagonal
                // grid cells), while each cell still records plain
                // per-dimension min/max rectangles — the pruning algebra
                // is untouched, only the cell SHAPE changed.
                //
                // Ranks and the z-value MATERIALIZE as columns so the
                // interleave references each rank once per bit instead
                // of re-inlining its expression (with BucketRank a rank
                // is one node, but the materialized shape also keeps
                // every downstream job evaluating each rank once)
                val k = columns.size
                val rkCols = columns.indices.map(i => s"__graft_rk$i")
                val ranked = rankExprs(ZLevels).zipWithIndex
                  .foldLeft(keyed) { case (acc, (r, i)) =>
                    acc.withColumn(rkCols(i), r.cast("long"))
                  }
                val zv = (for {
                  i <- rkCols.indices
                  bit <- 0 until ZBits
                } yield shiftleft(
                  shiftright(col(rkCols(i)), bit).bitwiseAND(lit(1L)),
                  bit * k + i)).reduce(_ + _)
                val zc = "__graft_zv"
                val zKeyed = ranked.withColumn(zc, zv.cast("double"))
                val zCuts = zKeyed.stat.approxQuantile(zc,
                  (1 until slices).map(_.toDouble / slices).toArray, 0.005)
                  .filterNot(_.isNaN).distinct.sorted
                (zKeyed, graft.functions.BucketRank.num(col(zc), zCuts.toSeq))
              }
            val cellCol = "__graft_cell"
            val withCell = cellFrame
              .withColumn(cellCol, cellId.cast("long"))
              .select(col(cellCol) +:
                ts.schema.fieldNames.map(col).toIndexedSeq: _*)
            // ONE aggregation job answers which cells exist, their row
            // counts, AND their per-column bounds; ONE repartition-by-
            // cell dynamic-partitioning write lands every cell dir (the
            // old shape paid a count job plus one observe-write PER
            // CELL — ~slices sequential scans of the bucket)
            val cells = writeKeyedGens(spark, root, withCell, cellCol,
              ts.schema, stats, gens.flatMap(_.search).distinct,
              tmpRel = s"data/$table/b$b-c${manifest.version + 1}-tmp-$nonce",
              relFor = i =>
                s"data/$table/b$b-c${manifest.version + 1}-s$i-$nonce")
              .map(_._2)
            b -> ((keepGens ++ cells, rw.size))
          } finally { df.unpersist(); () }
          }
        }
        val results = settleAll(spark, 4, ts.buckets.toSeq.map { case (b, gens) =>
          () => reclusterBucket(b, gens) }).map(_.get)
        val rewroteGens = results.map(_._2._2.toLong).sum
        // incremental run with every generation already inside its
        // window: commit nothing (the sweep was metadata-only)
        if (overlapBudget >= 0 && rewroteGens == 0L) Finish(0L)
        else Publish("RECLUSTER", Fold(Map(table -> TableUpdate(ts.schemaJson,
          results.map { case (b, (gs, _)) => b -> gs }.toMap, append = false,
          changePath = None, logicalChange = false))), rewroteGens)
      }
    }
  }

  /** Unified table schema: existing columns keep their position and type,
    * never disappear (a batch missing an old column null-fills it); columns
    * the manifest hasn't seen append at the end.
    */
  private def unify(existing: Option[StructType], incoming: StructType): StructType =
    existing match {
      case None => incoming
      case Some(old) =>
        val known = old.fieldNames.toSet
        StructType(old.fields ++ incoming.fields.filterNot(f => known(f.name)))
    }

  def deleteRecursively(f: File): Unit = {
    // null-safe: a concurrent GC may have removed the dir between the
    // caller's listing and this walk — already-gone is success here
    if (f.isDirectory) {
      val children = f.listFiles
      if (children != null) children.foreach(deleteRecursively)
    }
    f.delete(): Unit
  }
}
