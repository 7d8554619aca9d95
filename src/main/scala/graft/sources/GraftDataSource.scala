package graft.sources

import java.io.File
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession, SQLContext}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, EqualNullSafe, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, LessThan, LessThanOrEqual, Literal, StartsWith, XxHash64}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.execution.streaming.Sink
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider,
  DataSourceRegister, RelationProvider, StreamSinkProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Batch read surface for [[ManifestTable]]:
  * `spark.read.format("graft").option("path", root).load()` resolves the
  * committed snapshot through the manifest and — the point — prunes
  * generation dirs from the PLAN's own predicates, so every plain
  * `SELECT … WHERE ts BETWEEN …` (or a filtered registered view) gets the
  * same manifest-level data skipping `readTableRanges` provides to
  * callers who know to ask for it. The reference's users get exactly this
  * for free: every Snowflake query prunes micro-partitions from metadata
  * (docs/architecture.md), and its ops views are plain SELECTs
  * (sql/07_ops_views.sql).
  *
  * Architecture: a custom [[FileIndex]] inside a [[HadoopFsRelation]]
  * (the Delta/Iceberg batch-read shape) rather than a bespoke DSv2
  * `PartitionReader`. Catalyst hands `listFiles` the compiled data
  * filters; the index maps range/equality conjuncts onto the manifest's
  * tagged min/max stats and lists ONLY surviving generation dirs — at
  * 100 TB the object-store listing cost itself scales with what the
  * predicate keeps, not with the table. Everything downstream of the
  * listing is stock Spark: the vectorized parquet reader, row-group
  * pushdown, column pruning, and whole-stage codegen survive untouched,
  * where a hand-rolled `Batch`/`PartitionReader` would re-implement that
  * scan worse (the same reasoning the `graft-cdf` streaming source
  * documents for staying on the DataFrame scan path).
  *
  * Options: `path` (table root, required), `table` (default `t`),
  * `version` (time travel within the retention window).
  */
class GraftDataSource extends RelationProvider with CreatableRelationProvider
    with StreamSinkProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val params = CaseInsensitiveMap(parameters)
    val root = params.getOrElse("path",
      throw new IllegalArgumentException("option 'path' (table root) is required"))
    val table = params.getOrElse("table", ManifestTable.DefaultTable)
    val version = params.get("version").map(_.toLong)
    val spark = sqlContext.sparkSession
    // ad-hoc sessions get the metadata-count rewrite without wiring
    // GraftExtensions (same dual registration as the as-of strategy);
    // idempotent across repeated reads
    graft.plans.MetadataAggRule.register(spark)
    graft.plans.MartRewriteRule.register(spark)
    val index = new ManifestFileIndex(spark, root, table, version)
    HadoopFsRelation(index, new StructType(), index.tableSchema,
      None, new ParquetFileFormat, Map.empty)(spark)
  }

  /** Write surface: `df.write.format("graft").option("path", root)
    * .option("mergeKeys", "k1,k2").mode(...).save()`.
    *
    * SaveMode mapping onto the manifest commit protocol (every mode ends
    * in ONE atomic manifest swap, with the OCC rebase-and-retry loop):
    *  - `Append` — the table's merge semantics: upsert on `mergeKeys`
    *    (`option("appendOnly", true)` instead adds narrow-stats
    *    generations without reading existing data — the immutable-fact
    *    shape);
    *  - `Overwrite` — wholesale replacement: data, schema, and layout all
    *    come from this write; untouched buckets drop from the new
    *    snapshot (older snapshots keep serving them within retention). An
    *    active change feed resets, as for any non-feed logical change;
    *  - `ErrorIfExists` (the writer default) / `Ignore` — consult the
    *    committed manifest for the target table.
    *
    * Layout options: `mergeKeys` (comma-separated; defaults to the
    * table's recorded keys), `buckets` (default 16 or the recorded
    * layout), `statsCols` (min/max-tracked columns; defaults to the merge
    * keys so key lookups prune), `changeFeed` (publish Delta-CDF-shaped
    * deltas — Append only).
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val params = CaseInsensitiveMap(parameters)
    val root = params.getOrElse("path",
      throw new IllegalArgumentException("option 'path' (table root) is required"))
    val table = params.getOrElse("table", ManifestTable.DefaultTable)
    val existing = ManifestTable.read(new File(root))
      .map(_.table(table)).filter(_.schemaJson.nonEmpty)

    val skip = mode match {
      case SaveMode.ErrorIfExists if existing.nonEmpty =>
        throw new IllegalStateException(
          s"table '$table' at $root already exists (SaveMode.ErrorIfExists)")
      case SaveMode.Ignore if existing.nonEmpty => true
      case _ => false
    }
    if (!skip) {
      val overwrite = mode == SaveMode.Overwrite && existing.nonEmpty
      // each save is its own commit identity: DataFrameWriter has no
      // replay contract (streaming sinks do — they come through
      // mergeBatch with their checkpointed (queryId, batchId) directly)
      ManifestTable.mergeBatch(new File(root), s"write-${UUID.randomUUID()}",
        0L, Seq(GraftDataSource.tableBatch(table, data, params, existing,
          overwrite)))
    }
    createRelation(sqlContext, parameters)
  }

  /** Streaming sink: `df.writeStream.format("graft").option("path", root)
    * .option("mergeKeys", …).start()` — each micro-batch lands through the
    * SAME atomic multi-generation commit as the batch writer and the
    * foreachBatch sinks, keyed for idempotence on a checkpoint-stable
    * identity + batch id, so a restart's replayed batch is an exact no-op
    * (the manifest's (queryId, lastBatch) contract).
    *
    * OutputMode mapping: Append/Update merge (upsert on the merge keys —
    * for an aggregate stream in Update mode each emitted group row
    * replaces its previous version, which IS the upsert); Complete
    * overwrites the table with each batch's full result. All layout
    * options of the batch writer apply (`appendOnly`, `changeFeed`,
    * `statsCols`, `buckets`).
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: OutputMode): Sink = {
    val params = CaseInsensitiveMap(parameters)
    val root = params.getOrElse("path",
      throw new IllegalArgumentException("option 'path' (table root) is required"))
    val table = params.getOrElse("table", ManifestTable.DefaultTable)
    // a checkpoint-stable commit identity: restarts resume the same qid,
    // so the manifest's replay suppression holds across them
    val qid = "graft-sink:" +
      params.getOrElse("checkpointLocation", root + "/" + table)
    val complete = outputMode == OutputMode.Complete()
    new Sink {
      override def addBatch(batchId: Long, data: DataFrame): Unit = {
        // the incoming frame is streaming-tagged and single-action; the
        // merge runs several actions over it — re-wrap as a batch frame
        // over the same rows (the DeltaSink pattern)
        val batch = org.apache.spark.sql.graftbridge.Bridge.lineageFree(data)
        val existing = ManifestTable.read(new File(root))
          .map(_.table(table)).filter(_.schemaJson.nonEmpty)
        ManifestTable.mergeBatch(new File(root), qid, batchId,
          Seq(GraftDataSource.tableBatch(table, batch, params, existing,
            overwrite = complete && existing.nonEmpty)))
      }
      override def toString: String = s"GraftSink($root/$table)"
    }
  }
}

object GraftDataSource {
  /** Shared batch/streaming writer wiring: resolve the layout (explicit
    * options, else the table's recorded layout) and build the
    * [[ManifestTable.TableBatch]].
    */
  private[sources] def tableBatch(table: String, data: DataFrame,
      params: CaseInsensitiveMap[String],
      existing: Option[ManifestTable.TableState],
      overwrite: Boolean): ManifestTable.TableBatch = {
    val mergeKeys = params.get("mergeKeys")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(existing.map(_.mergeKeys).filter(_.nonEmpty))
      .getOrElse(throw new IllegalArgumentException(
        "option 'mergeKeys' is required for a table without a recorded layout"))
    val numBuckets = params.get("buckets").map(_.toInt)
      .orElse(existing.map(_.numBuckets).filter(_ > 0)).getOrElse(16)
    // default chain for what to track: explicit option → the table's
    // RECORDED layout (what CREATE TABLE or the first writer declared) →
    // the merge keys (so key lookups always prune)
    val statsCols = params.get("statsCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(existing.map(_.statsCols).filter(_.nonEmpty))
      .getOrElse(mergeKeys)
    val appendOnly = params.get("appendOnly").exists(_.toBoolean)
    val changeFeed = params.get("changeFeed").exists(_.toBoolean)
    val searchCols = params.get("searchCols")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(existing.map(_.searchCols).filter(_.nonEmpty))
      .getOrElse(Nil)
    ManifestTable.TableBatch(table, data, mergeKeys, numBuckets,
      statsCols = statsCols, append = appendOnly && !overwrite,
      changeFeed = changeFeed && !overwrite, overwrite = overwrite,
      searchCols = searchCols)
  }
}

/** [[FileIndex]] over one committed [[ManifestTable]] snapshot, resolved
  * ONCE at construction so a query plans against a single version even
  * while writers keep committing (the same snapshot-isolation contract
  * every other read path honors).
  *
  * `listFiles` is where pruning lives: each data-filter conjunct that
  * shapes up as `col ⋈ literal` (⋈ ∈ {=, <=>, <, <=, >, >=, IN,
  * STARTSWITH}) becomes a [lower, upper] window on that column, windows
  * intersect through [[ManifestTable.gensForRange]]'s domain-tagged stats
  * algebra (numeric/temporal vs lexical — never cross-read), and only
  * generations every window keeps are listed. Unsupported filter shapes
  * simply don't prune — never a wrong skip. The exactness contract stays
  * with the engine: Spark re-applies EVERY filter on the scan's rows, so
  * pruning can only drop files the stats PROVE irrelevant.
  */
class ManifestFileIndex(spark: SparkSession, root: String, table: String,
    version: Option[Long], val raw: Boolean = false) extends FileIndex {

  private val manifest = ManifestTable.resolve(new File(root), version)
  private val ts = manifest.table(table)

  val tableSchema: StructType = ts.schema

  /** The pinned table state — what merge-on-read reconciliation
    * ([[graft.plans.ResolveMergeOnRead]]) folds onto this index's base
    * scan. `raw = true` marks the reconciliation's own base leg so the
    * rule never re-wraps it.
    */
  private[graft] def state: ManifestTable.TableState = ts

  private[graft] def rootPath: String = root

  private[graft] def tableName: String = table

  private[graft] def pinnedVersion: Option[Long] = version

  /** This index, re-pinned to the same snapshot, marked as a
    * reconciliation base leg.
    */
  private[graft] def rawCopy: ManifestFileIndex =
    new ManifestFileIndex(spark, root, table, Some(manifest.version),
      raw = true)

  /** Exact table row count from manifest metadata alone (None when any
    * generation predates count recording) — what lets
    * [[graft.plans.MetadataAggRule]] answer a bare COUNT(*) with zero
    * scan jobs. Snapshot-pinned like everything else on this index.
    */
  def metadataRowCount: Option[Long] = ts.rowCount

  /** The snapshot version this index pinned at construction — the
    * row-level write's OCC base.
    */
  def snapshotVersion: Long = manifest.version

  /** The table's recorded merge keys (row-level runtime group filtering
    * exposes these as its filter attributes).
    */
  def mergeKeys: Seq[String] = ts.mergeKeys

  /** Exact MIN (`lower=true`) or MAX of `column` from the manifest's
    * per-generation bounds — each generation's recorded lo/hi IS its
    * exact min/max (observed on the write), so the global extremum is the
    * extremum over generations. Answerable only when every non-empty
    * generation carries a stat for the column in the column's CURRENT
    * comparison domain (the same never-cross-read rule pruning applies);
    * a generation with an unknown count, a dropped over-length string
    * bound, an all-null column, or a pre-stats commit disqualifies the
    * metadata answer and the query scans instead.
    *
    * Returns: None = can't answer; Some(None) = answer is SQL NULL (no
    * rows); Some(Some(v)) = the extremum as a Catalyst-internal value.
    */
  def metadataBound(column: String, lower: Boolean): Option[Option[Any]] = {
    // outstanding merge-on-read deltas make base-generation bounds
    // non-authoritative (a tombstone may have removed the extremum)
    if (ts.deltas.nonEmpty) return None
    val field = tableSchema.fields.find(_.name == column) match {
      case Some(f) => f
      case None => return None
    }
    // generations KNOWN empty (delete-only rewrites) contribute no rows —
    // their absent stats must not disqualify the answer
    val live = ts.gens.filter(_.rows != 0L)
    if (live.isEmpty) return Some(None)
    val stats = live.map(_.stats.get(column))
    if (stats.exists(_.isEmpty)) return None
    val expectKind = field.dataType match {
      case StringType => "str"
      case _ => "num"
    }
    val ss = stats.flatten
    if (ss.exists(_.kind != expectKind)) return None
    val bounds = ss.map(s => if (lower) s.lo else s.hi)
    if (expectKind == "str") {
      val ord = new Ordering[String] {
        def compare(a: String, b: String): Int = ManifestTable.utf8Compare(a, b)
      }
      Some(Some(UTF8String.fromString(
        if (lower) bounds.min(ord) else bounds.max(ord))))
    } else {
      val ds = bounds.map(BigDecimal(_))
      val best = if (lower) ds.min else ds.max
      internalNum(best, field.dataType).map(v => Some(v))
    }
  }

  /** A num-domain bound as the column type's Catalyst-internal value;
    * None when the conversion isn't exact (never guess).
    */
  private def internalNum(d: BigDecimal, dt: DataType): Option[Any] =
    scala.util.Try[Any](dt match {
      case ByteType => d.bigDecimal.byteValueExact()
      case ShortType => d.bigDecimal.shortValueExact()
      case IntegerType => d.bigDecimal.intValueExact()
      case LongType => d.bigDecimal.longValueExact()
      case FloatType => d.toFloat
      case DoubleType => d.toDouble
      case t: DecimalType =>
        val dec = org.apache.spark.sql.types.Decimal(d)
        if (dec.changePrecision(t.precision, t.scale)) dec
        else throw new ArithmeticException("precision")
      // temporal stats are epoch micros (timestamps) / day-scaled micros
      // (dates) — exactly the internal encodings
      case TimestampType | TimestampNTZType => d.bigDecimal.longValueExact()
      case DateType =>
        val micros = d.bigDecimal.longValueExact()
        if (micros % 86400000000L != 0L) throw new ArithmeticException("date")
        (micros / 86400000000L).toInt
      case _ => throw new ArithmeticException("unsupported")
    }).toOption

  override def rootPaths: Seq[Path] = Seq(new Path(root))

  override def partitionSchema: StructType = new StructType()

  override def refresh(): Unit = ()

  /** One bound extracted from a pushed conjunct: null end = unbounded
    * (which [[ManifestTable.gensForRange]] treats as always-overlapping
    * on that side).
    */
  private case class Window(column: String, lower: Any, upper: Any)

  /** Catalyst literal → the external value the stats algebra compares:
    * temporal internals to epoch micros, `Decimal`/`UTF8String` unwrapped.
    * None = a value pruning can't reason about (prune nothing).
    */
  private def external(v: Any, dt: DataType): Option[Any] =
    if (v == null) None
    else dt match {
      case DateType => Some(v.asInstanceOf[Number].longValue * 86400000000L)
      case TimestampType | TimestampNTZType => Some(v)
      case _: NumericType => Some(v match {
        case d: org.apache.spark.sql.types.Decimal => d.toJavaBigDecimal
        case x => x
      })
      case StringType => Some(v.toString)
      case _ => None
    }

  private def windows(e: Expression): Seq[Window] = e match {
    case And(l, r) => windows(l) ++ windows(r)
    case _: IsNotNull => Nil
    case EqualTo(a: Attribute, Literal(v, dt)) =>
      external(v, dt).map(x => Window(a.name, x, x)).toSeq
    case EqualTo(Literal(v, dt), a: Attribute) =>
      external(v, dt).map(x => Window(a.name, x, x)).toSeq
    case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null =>
      external(v, dt).map(x => Window(a.name, x, x)).toSeq
    case EqualNullSafe(Literal(v, dt), a: Attribute) if v != null =>
      external(v, dt).map(x => Window(a.name, x, x)).toSeq
    // strict bounds prune as inclusive ones — conservative, never wrong
    case GreaterThan(a: Attribute, Literal(v, dt)) =>
      external(v, dt).map(x => Window(a.name, x, null)).toSeq
    case GreaterThanOrEqual(a: Attribute, Literal(v, dt)) =>
      external(v, dt).map(x => Window(a.name, x, null)).toSeq
    case LessThan(a: Attribute, Literal(v, dt)) =>
      external(v, dt).map(x => Window(a.name, null, x)).toSeq
    case LessThanOrEqual(a: Attribute, Literal(v, dt)) =>
      external(v, dt).map(x => Window(a.name, null, x)).toSeq
    // literal-first comparisons flip
    case GreaterThan(Literal(v, dt), a: Attribute) =>
      external(v, dt).map(x => Window(a.name, null, x)).toSeq
    case GreaterThanOrEqual(Literal(v, dt), a: Attribute) =>
      external(v, dt).map(x => Window(a.name, null, x)).toSeq
    case LessThan(Literal(v, dt), a: Attribute) =>
      external(v, dt).map(x => Window(a.name, x, null)).toSeq
    case LessThanOrEqual(Literal(v, dt), a: Attribute) =>
      external(v, dt).map(x => Window(a.name, x, null)).toSeq
    // IN prunes on the value set's span (its min/max): exact per-value
    // skipping would need per-value windows OR'd, but span pruning is
    // already what keeps a point-lookup IN from scanning the table
    case In(a: Attribute, vs) if vs.nonEmpty && vs.forall {
        case Literal(v, _) => v != null
        case _ => false
      } =>
      val ext = vs.collect { case Literal(v, dt) => external(v, dt) }.flatten
      if (ext.size != vs.size) Nil
      else a.dataType match {
        case StringType =>
          // span endpoints must come from the SAME ordering the stats
          // algebra compares with (UTF-8 bytes == code points), not
          // java.lang.String's UTF-16 code-unit order — the two disagree
          // for supplementary code points vs U+E000..U+FFFF, and a span
          // picked under the wrong order can exclude a matching file
          val ord = new Ordering[String] {
            def compare(x: String, y: String): Int =
              ManifestTable.utf8Compare(x, y)
          }
          val ss = ext.map(_.toString)
          Seq(Window(a.name, ss.min(ord), ss.max(ord)))
        case _ =>
          val ds = ext.map(x => BigDecimal(x.toString))
          Seq(Window(a.name, ds.min.bigDecimal, ds.max.bigDecimal))
      }
    // prefix predicate on a string column: [prefix, ∞) lexically
    case StartsWith(a: Attribute, Literal(v, StringType)) if v != null =>
      Seq(Window(a.name, v.toString, null))
    case _ => Nil
  }

  private def equalityLiterals(dataFilters: Seq[Expression]): Map[String, Literal] = {
    def go(e: Expression): Seq[(String, Literal)] = e match {
      case And(l, r) => go(l) ++ go(r)
      case EqualTo(a: Attribute, l @ Literal(v, _)) if v != null => Seq(a.name -> l)
      case EqualTo(l @ Literal(v, _), a: Attribute) if v != null => Seq(a.name -> l)
      case EqualNullSafe(a: Attribute, l @ Literal(v, _)) if v != null => Seq(a.name -> l)
      case EqualNullSafe(l @ Literal(v, _), a: Attribute) if v != null => Seq(a.name -> l)
      case _ => Nil
    }
    dataFilters.flatMap(go).toMap
  }

  /** Per-column bounded IN-lists from the pushed conjuncts (all-literal,
    * ≤ [[ManifestFileIndex.MaxNeedleValues]] values) — what the
    * row-level runtime group filter pushes (the matched merge keys as a
    * dynamic IN-subquery), and what a hand-written `key IN (…)` lookup
    * pushes statically.
    */
  private def inLiteralSets(
      dataFilters: Seq[Expression]): Map[String, Seq[Literal]] = {
    def go(e: Expression): Seq[(String, Seq[Literal])] = e match {
      case And(l, r) => go(l) ++ go(r)
      case In(a: Attribute, vs)
          if vs.nonEmpty && vs.size <= ManifestFileIndex.MaxNeedleValues &&
            vs.forall { case Literal(v, _) => v != null; case _ => false } =>
        Seq(a.name -> vs.collect { case l: Literal => l })
      case _ => Nil
    }
    dataFilters.flatMap(go).toMap
  }

  /** Bucket pruning for point and set lookups: when the predicate pins
    * EVERY merge-key column with an equality or a bounded IN-list, the
    * matching rows can live only in the hash buckets of those key
    * tuples — evaluate the writer's own `pmod(xxhash64(keys), n)`
    * expression driver-side on each pinned combination (the manifest
    * records the layout, so no caller-supplied bucketing is needed) and
    * restrict to those buckets' generations. A 1/numBuckets scan for
    * every `WHERE key = …` SQL lookup, and — through the same algebra —
    * the narrowing that pins a row-level MERGE's rewrite to the buckets
    * actually holding its matched keys (the runtime group filter arrives
    * exactly as `key IN (matched values)`). Composite keys take the
    * cross product of their per-column sets — an over-approximation of
    * the true tuple set, so never a wrong skip — capped so the
    * driver-side hashing stays trivial.
    */
  private def bucketsFor(dataFilters: Seq[Expression]): Option[Set[Long]] =
    if (ts.mergeKeys.isEmpty || ts.numBuckets <= 0) None
    else {
      val eqs = equalityLiterals(dataFilters)
      val ins = inLiteralSets(dataFilters)
      val perKey: Seq[Seq[Literal]] = ts.mergeKeys.map(k =>
        eqs.get(k).map(Seq(_)).orElse(ins.get(k)).getOrElse(Nil))
      if (perKey.exists(_.isEmpty) ||
          perKey.map(_.size.toLong).product >
            ManifestFileIndex.MaxNeedleValues) None
      else {
        val combos = perKey.foldLeft(Seq(Seq.empty[Literal])) {
          (acc, vs) => acc.flatMap(c => vs.map(c :+ _))
        }
        Some(combos.map { lits =>
          val h = XxHash64(lits, 42L).eval(null).asInstanceOf[Long]
          ((h % ts.numBuckets) + ts.numBuckets) % ts.numBuckets
        }.toSet)
      }
    }

  /** Generations every extracted window keeps, within the covering
    * bucket set when one is pinned (path-set intersection — conjunct
    * semantics).
    */
  private def prunedGens(dataFilters: Seq[Expression])
      : Seq[ManifestTable.BucketGen] = {
    val base = bucketsFor(dataFilters) match {
      case Some(bs) => bs.toSeq.sorted.flatMap(b => ts.buckets.getOrElse(b, Nil))
      case None => ts.gens
    }
    val ws = dataFilters.flatMap(windows)
    if (ws.isEmpty) base
    else {
      val kept = ws.map(w =>
        ManifestTable.gensForRange(ts, w.column, w.lower, w.upper)
          .map(_.path).toSet)
        .reduce(_ intersect _)
      base.filter(g => kept(g.path)) // keep manifest order
    }
  }

  import ManifestFileIndex.{MaxNeedleValues, Needle}

  private def needleValue(v: Any, dt: DataType): Option[(String, Any)] =
    dt match {
      case ByteType | ShortType | IntegerType | LongType =>
        Some(("long", java.lang.Long.valueOf(v.asInstanceOf[Number].longValue)))
      case StringType => Some(("str", v.toString))
      case _ => None
    }

  private def needles(e: Expression): Seq[Needle] = e match {
    case And(l, r) => needles(l) ++ needles(r)
    case EqualTo(a: Attribute, Literal(v, dt)) if v != null =>
      needleValue(v, dt).map { case (d, x) => Needle(a.name, d, Seq(x)) }.toSeq
    case EqualTo(Literal(v, dt), a: Attribute) if v != null =>
      needleValue(v, dt).map { case (d, x) => Needle(a.name, d, Seq(x)) }.toSeq
    case EqualNullSafe(a: Attribute, Literal(v, dt)) if v != null =>
      needleValue(v, dt).map { case (d, x) => Needle(a.name, d, Seq(x)) }.toSeq
    case EqualNullSafe(Literal(v, dt), a: Attribute) if v != null =>
      needleValue(v, dt).map { case (d, x) => Needle(a.name, d, Seq(x)) }.toSeq
    case In(a: Attribute, vs) if vs.nonEmpty && vs.size <= MaxNeedleValues &&
        vs.forall { case Literal(v, _) => v != null; case _ => false } =>
      val pairs = vs.collect { case Literal(v, dt) => needleValue(v, dt) }.flatten
      if (pairs.size != vs.size || pairs.map(_._1).distinct.size != 1) Nil
      else Seq(Needle(a.name, pairs.head._1, pairs.map(_._2)))
    case _ => Nil
  }


  private def listGen(rel: String): Array[FileStatus] = {
    val p = new Path(new File(root, rel).toString)
    val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
    fs.listStatus(p).filter { f =>
      val n = f.getPath.getName
      f.isFile && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  /** Listing threshold: below it the driver lists serially (no job
    * latency for point lookups that pruned to a handful of dirs); above
    * it the listing DISTRIBUTES — at 100 TB a predicate can still keep
    * thousands of generation dirs, and a serial driver loop over an
    * object store would dominate query latency (the parallel-listing
    * rule every table format applies).
    */
  private val ParallelListThreshold = 32

  // sidecar cache for the serial path: the snapshot is immutable, so a
  // (generation, column) filter read once is valid for this index's life.
  // TrieMap because one index can be planned from several threads at once
  // (a DataFrame shared across threads, AQE re-planning) — lock-free
  // lookups, and a racing double-load just wastes one read
  private val sidecarCache = scala.collection.concurrent.TrieMap
    .empty[(String, String), Option[(String, org.apache.spark.util.sketch.BloomFilter)]]

  private def listGens(gens: Seq[ManifestTable.BucketGen],
      ns: Seq[Needle]): Array[FileStatus] =
    if (gens.size <= ParallelListThreshold) {
      val conf = spark.sessionState.newHadoopConf()
      val rootS = root
      gens.toArray.filter { g =>
        ns.forall { n =>
          !g.search.contains(n.column) || {
            val bf = sidecarCache.getOrElseUpdate((g.path, n.column),
              ManifestTable.readSearchSidecar(conf, rootS, g.path, n.column))
            bf match {
              case Some((dom, f)) if dom == n.domain =>
                n.values.exists { v =>
                  if (dom == "long") f.mightContainLong(v.asInstanceOf[Long])
                  else f.mightContainString(v.asInstanceOf[String])
                }
              case _ => true
            }
          }
        }
      }.flatMap(g => listGen(g.path))
    } else {
      // past the threshold BOTH the listing and the sidecar probes
      // distribute — at 100 TB a predicate can keep thousands of
      // generation dirs, and a serial driver loop over an object store
      // (listing or sidecar reads alike) would dominate query latency
      val rootS = root
      val bconf = spark.sparkContext.broadcast(
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf()))
      spark.sparkContext
        .parallelize(gens, math.min(gens.size, 64))
        .flatMap { g =>
          val conf = bconf.value.value
          if (!ManifestFileIndex.sidecarKeeps(conf, rootS, g, ns)) Nil
          else {
            val p = new Path(new File(rootS, g.path).toString)
            val fs = p.getFileSystem(conf)
            fs.listStatus(p).filter { f =>
              val n = f.getPath.getName
              f.isFile && !n.startsWith("_") && !n.startsWith(".")
            }
          }
        }.collect()
    }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val files = listGens(prunedGens(dataFilters), dataFilters.flatMap(needles))
    Seq(PartitionDirectory(InternalRow.empty, files))
  }

  /** The same pruned listing for callers holding SOURCE filters (the
    * catalog's DSv2 scan): each translatable filter becomes the Catalyst
    * conjunct shape the window/needle extractors already understand —
    * one pruning algebra, two entry points. Untranslatable filters just
    * don't prune.
    */
  def filesForFilters(
      filters: Seq[org.apache.spark.sql.sources.Filter]): Array[FileStatus] = {
    val exprs = filters.flatMap(filterToExpr)
    listGens(prunedGens(exprs), exprs.flatMap(needles))
  }

  /** (rows, bytes) the pruned listing for `filters` scans — the DSv2
    * statistics surface: rows from the manifest's per-generation counts
    * (an upper bound when needle sidecars prune further — the safe
    * direction for a broadcast decision), bytes from the kept files.
    */
  def statsForFilters(
      filters: Seq[org.apache.spark.sql.sources.Filter]): (Long, Long) = {
    val exprs = filters.flatMap(filterToExpr)
    val gens = prunedGens(exprs)
    val bytes = listGens(gens, exprs.flatMap(needles)).map(_.getLen).sum
    (gens.map(g => math.max(g.rows, 0L)).sum, bytes)
  }

  /** Distinct-count estimates for the PRUNED selection: per column, the
    * HLL union of the surviving generations' sketches. A column reports
    * only when EVERY surviving generation carries its sketch (one gap
    * would make the union a silent undercount) and no merge-on-read
    * deltas are outstanding (tombstones/updates make base sketches
    * non-authoritative) — metadata answers are never guesses, exactly
    * the rowCount contract.
    */
  def ndvForFilters(filters: Seq[org.apache.spark.sql.sources.Filter])
      : Map[String, Long] = {
    if (ts.deltas.nonEmpty) return Map.empty
    val gens = prunedGens(filters.flatMap(filterToExpr))
    if (gens.isEmpty) return Map.empty
    gens.map(_.ndv.keySet).reduce(_ intersect _).flatMap { c =>
      ManifestTable.ndvUnion(gens.map(_.ndv(c))).map(c -> _)
    }.toMap
  }

  /** The whole table's distinct-count estimate for `column` from the
    * manifest's merged sketches — what a metadata-only
    * `approx_count_distinct` answers with. Same coverage contract as
    * [[ndvForFilters]]; an EMPTY table answers 0 exactly.
    */
  def metadataNdv(column: String): Option[Long] = {
    if (ts.deltas.nonEmpty) return None
    val gens = ts.gens
    if (gens.isEmpty) return Some(0L)
    if (!gens.forall(_.ndv.contains(column))) return None
    ManifestTable.ndvUnion(gens.map(_.ndv(column)))
  }

  /** Merged KLL quantile sketches for the PRUNED selection — the input
    * for CBO equi-height histograms. Same coverage contract as
    * [[ndvForFilters]]: a column reports only when every surviving
    * generation carries its sketch and no MoR deltas are outstanding.
    */
  def kllForFilters(filters: Seq[org.apache.spark.sql.sources.Filter])
      : Map[String, org.apache.datasketches.kll.KllDoublesSketch] = {
    if (ts.deltas.nonEmpty) return Map.empty
    val gens = prunedGens(filters.flatMap(filterToExpr))
    if (gens.isEmpty) return Map.empty
    gens.map(_.kll.keySet).reduce(_ intersect _).flatMap { c =>
      graft.functions.KllAgg.union(gens.map(_.kll(c)))
        .filterNot(_.isEmpty).map(c -> _)
    }.toMap
  }

  /** The whole table's quantiles for `column` at the given ranks, from
    * the manifest's merged KLL sketches — what a metadata-only
    * `approx_percentile` answers with. Same coverage contract as
    * [[metadataNdv]]; None on an empty table or sketch (the direct
    * aggregate's null, which the rewrite handles by scanning).
    */
  def metadataQuantiles(column: String,
      ranks: Seq[Double]): Option[Seq[Double]] = {
    if (ts.deltas.nonEmpty) return None
    val gens = ts.gens
    if (gens.isEmpty || !gens.forall(_.kll.contains(column))) return None
    graft.functions.KllAgg.union(gens.map(_.kll(column)))
      .filter(!_.isEmpty)
      .map { sk =>
        ranks.map(r => sk.getQuantile(r,
          org.apache.datasketches.quantilescommon.QuantileSearchCriteria.INCLUSIVE))
      }
  }

  private def attr(name: String): Option[Attribute] =
    tableSchema.fields.find(_.name == name).map(f =>
      org.apache.spark.sql.catalyst.expressions.AttributeReference(
        f.name, f.dataType, nullable = true)())

  /** Typed literal for a source-filter value: source filters carry the
    * EXTERNAL value for the column's type (Spark built them from a typed
    * comparison), so CatalystTypeConverters + the column's own DataType
    * reconstruct exactly the literal the plan-side extractors see.
    */
  private def litFor(v: Any, dt: DataType): Option[Literal] =
    scala.util.Try(Literal.create(v, dt)).toOption

  private def filterToExpr(
      f: org.apache.spark.sql.sources.Filter): Option[Expression] = {
    import org.apache.spark.sql.sources
    f match {
      case sources.And(l, r) =>
        (filterToExpr(l), filterToExpr(r)) match {
          case (Some(a), Some(b)) => Some(And(a, b))
          case (a, b) => a.orElse(b) // conjuncts prune independently
        }
      case sources.EqualTo(c, v) => for {
        a <- attr(c); l <- litFor(v, a.dataType)
      } yield EqualTo(a, l)
      case sources.EqualNullSafe(c, v) if v != null => for {
        a <- attr(c); l <- litFor(v, a.dataType)
      } yield EqualNullSafe(a, l)
      case sources.GreaterThan(c, v) => for {
        a <- attr(c); l <- litFor(v, a.dataType)
      } yield GreaterThan(a, l)
      case sources.GreaterThanOrEqual(c, v) => for {
        a <- attr(c); l <- litFor(v, a.dataType)
      } yield GreaterThanOrEqual(a, l)
      case sources.LessThan(c, v) => for {
        a <- attr(c); l <- litFor(v, a.dataType)
      } yield LessThan(a, l)
      case sources.LessThanOrEqual(c, v) => for {
        a <- attr(c); l <- litFor(v, a.dataType)
      } yield LessThanOrEqual(a, l)
      case sources.In(c, vs) if vs != null && vs.nonEmpty => attr(c).flatMap { a =>
        val ls = vs.toSeq.map(v =>
          if (v == null) Some(Literal.create(null, a.dataType))
          else litFor(v, a.dataType))
        if (ls.exists(_.isEmpty)) None
        else Some(In(a, ls.flatten))
      }
      case sources.StringStartsWith(c, p) if p != null => for {
        a <- attr(c); l <- litFor(p, StringType)
      } yield StartsWith(a, l)
      case _ => None
    }
  }

  // full-listing metadata (broadcast sizing, EXPLAIN): computed once,
  // over the manifest's dirs only — never a recursive root walk
  private lazy val allFiles: Array[FileStatus] =
    listGens(ts.gens, Nil)

  override def inputFiles: Array[String] = allFiles.map(_.getPath.toString)

  override def sizeInBytes: Long = allFiles.map(_.getLen).sum

  override def toString: String =
    s"ManifestFileIndex($root/$table@v${manifest.version})"
}

object ManifestFileIndex {

  /** One equality conjunct usable against a generation's search sidecar:
    * the column, the domain its literal hashes in (`long` for integral
    * types, `str` for strings — [[ManifestTable.searchKind]]'s write-side
    * rule exactly), and the candidate values (one for `=`, the set for
    * `IN`). A generation survives only if EVERY needle on a column it
    * indexes might contain at least one of its values. Top-level (not an
    * index inner class) so the distributed-listing closure ships needles
    * without dragging the index — and its SparkSession — along.
    */
  private[sources] case class Needle(column: String, domain: String,
    values: Seq[Any])

  /** IN lists past this size skip sidecar testing (the membership probes
    * would cost more than they prune) — the generation is kept.
    */
  private[sources] val MaxNeedleValues = 256

  /** Sidecar verdict for one generation against all needles — true keeps.
    * Any absent/unreadable sidecar or domain mismatch keeps the
    * generation; only a filter that PROVES every candidate value absent
    * skips it (bloom filters have no false negatives, so the skip is
    * exact up to the write-side/read-side domain agreement the tag
    * enforces).
    */
  private[sources] def sidecarKeeps(conf: org.apache.hadoop.conf.Configuration,
      rootS: String, g: ManifestTable.BucketGen, ns: Seq[Needle]): Boolean =
    ns.forall { n =>
      !g.search.contains(n.column) ||
        (ManifestTable.readSearchSidecar(conf, rootS, g.path, n.column) match {
          case Some((dom, bf)) if dom == n.domain =>
            n.values.exists { v =>
              if (dom == "long") bf.mightContainLong(v.asInstanceOf[Long])
              else bf.mightContainString(v.asInstanceOf[String])
            }
          case _ => true
        })
    }
}
