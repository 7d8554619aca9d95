package graft.sources

import java.io.File
import java.util.UUID

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.expressions.UnsafeRow
import org.apache.spark.sql.connector.expressions.{FieldReference, NamedReference}
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{InputPartition, ScanBuilder, SupportsRuntimeV2Filtering}
import org.apache.spark.sql.connector.write.{BatchWrite, DataWriter, DataWriterFactory, LogicalWriteInfo, PhysicalWriteInfo, RowLevelOperation, RowLevelOperationBuilder, RowLevelOperationInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

/** Native SQL row-level operations on graft catalog tables — the plumbing
  * that lets the reference's operating verb, a literal `MERGE INTO …
  * WHEN MATCHED THEN UPDATE … WHEN NOT MATCHED THEN INSERT …` statement
  * (reference sql/05_merge_canonical.sql:4-53), plus SQL `UPDATE` and
  * subquery-conditioned `DELETE`, plan and run unchanged against
  * `graft.ns.t`.
  *
  * Shape: GROUP-BASED copy-on-write (Spark's `ReplaceData` plan — the
  * Iceberg copy-on-write shape, not delta-based `WriteDelta`), which is
  * the natural fit for a manifest of immutable generation dirs:
  *
  *  1. Spark rewrites the statement into a query over this operation's
  *     SCAN (affected groups only) producing the groups' SURVIVING rows
  *     (deletes dropped, updates applied, merge-inserts appended);
  *  2. the scan prunes statically from pushed predicates (the manifest
  *     window/needle/bucket algebra) and at RUNTIME from Spark's
  *     row-level group filter — a dynamic IN-subquery of the matched
  *     merge keys pushed through [[SupportsRuntimeV2Filtering]], so a
  *     selective MERGE touches only the generations that provably hold
  *     matched keys, not the whole table;
  *  3. tasks stage the replacement rows (length-prefixed UnsafeRow
  *     files — transient shuffle-grade bytes, not the durable format);
  *  4. commit() re-buckets the staged rows on the table's recorded
  *     merge-key hash and publishes ONE atomic manifest swap that drops
  *     exactly the scanned generations and adds the replacements —
  *     snapshot isolation, time travel, and the change feed all ride the
  *     ordinary commit protocol ([[ManifestTable.replaceGroups]]).
  *
  * Concurrency: the scan pins the table's resolved snapshot version; a
  * conflicting data commit on the SAME table between scan and commit
  * aborts the statement (the query's answer is stale — rebasing a group
  * rewrite means re-running the query, which is the caller's decision);
  * commits that touched only OTHER tables of the namespace rebase
  * transparently.
  */
class GraftRowLevelBuilder(root: File, table: String,
    index: ManifestFileIndex, info: RowLevelOperationInfo,
    policy: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      None)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftRowLevelOperation(root, table, index, info.command, policy)
}

/** `policy` (compiled by [[GovernedRows.compile]] when the table carries
  * a `rowPolicy`) makes the statement POLICY-AWARE: the scan serves only
  * policy-visible rows — so the rewrite query's conditions match, update,
  * and delete exactly what the session can see — and the commit reads the
  * scanned groups' HIDDEN complement back from the replaced files and
  * carries it through unmodified. Hidden rows survive byte-identically
  * (same values, re-bucketed with the replacement), so the published
  * feed diff shows no change for them. One compiled predicate drives
  * both sides: visible = evaluates exactly TRUE, hidden = everything
  * else (NULL hides, the SQL policy contract) — the split is a
  * partition, never a drop or a duplicate.
  */
class GraftRowLevelOperation(val root: File, val table: String,
    val index: ManifestFileIndex, cmd: RowLevelOperation.Command,
    val policy: Option[org.apache.spark.sql.catalyst.expressions.Expression] =
      None)
  extends RowLevelOperation {

  /** Files the operation's scan actually planned (post static + runtime
    * pruning) — the groups the write's commit replaces. Written by
    * [[GraftRowLevelScan.planInputPartitions]] before any write task
    * runs (Spark plans the scan side of the ReplaceData query first).
    */
  @volatile var replacedFiles: Seq[String] = Nil

  override def command: RowLevelOperation.Command = cmd

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(index, index.tableSchema) {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new GraftRowLevelScan(GraftRowLevelOperation.this, index,
          index.tableSchema, requiredSchema, pushedFilters())
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new WriteBuilder {
      override def build(): Write =
        new GraftReplaceDataWrite(GraftRowLevelOperation.this, info.schema())
    }

  override def description(): String =
    s"GraftRowLevelOperation($cmd, $root/$table@v${index.snapshotVersion})"
}

/** The row-level operation's scan: the ordinary pruned batch scan plus
  * runtime group filtering. `filterAttributes` exposes the table's merge
  * keys, so Spark's `RowLevelOperationRuntimeGroupFiltering` plans a
  * dynamic IN-subquery of the merge-key values the condition matches and
  * pushes it here; the needle/bucket algebra then keeps only generations
  * that might hold those keys. Best-effort by contract: an IN list past
  * the needle cap simply doesn't narrow (never a wrong skip), and every
  * predicate is re-applied on the rows by the rewrite query itself.
  */
class GraftRowLevelScan(op: GraftRowLevelOperation, index: ManifestFileIndex,
    dataSchema: StructType, required: StructType, pushed: Array[Filter])
  extends GraftBatchScan(index, dataSchema, required, pushed)
  with SupportsRuntimeV2Filtering {

  @volatile private var runtime: Array[Filter] = Array.empty

  override def filterAttributes(): Array[NamedReference] =
    index.mergeKeys.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions.column(k))
      .toArray

  override def filter(predicates: Array[Predicate]): Unit =
    runtime = org.apache.spark.sql.graftbridge.Bridge.toV1Filters(predicates)

  override protected def effectiveFilters: Seq[Filter] =
    (pushed ++ runtime).toIndexedSeq

  override protected def planned(files: Array[FileStatus]): Unit =
    op.replacedFiles = files.map(_.getPath.toString).toIndexedSeq

  /** A group-based ReplaceData scan must return EVERY row of every file
    * it plans: the commit drops the planned files wholesale and keeps
    * only this scan's output, so the pushed/runtime predicates may prune
    * which GENERATIONS participate ([[effectiveFilters]]) but must never
    * reach the parquet reader — row-group / page / bloom skipping inside
    * a planned file would silently delete its surviving, non-matching
    * rows (a file with row groups x∈[1,4] and x∈[5,9] under
    * `DELETE WHERE x=5` would lose the first group). The copy-on-write
    * equivalent of Iceberg's ignoreResiduals: scan unfiltered, let the
    * rewrite query's own Filter node drop the condemned rows.
    *
    * ONE exception, and it is exact: under a row POLICY the reader keeps
    * only policy-VISIBLE rows — the user's statement must match, update,
    * and delete only what the session can see — and the write's commit
    * reads the HIDDEN complement back from the same planned files with
    * the same compiled predicate ([[GraftReplaceDataWrite]]), so the
    * visible/hidden split is a partition of every planned file's rows.
    */
  override def createReaderFactory()
      : org.apache.spark.sql.connector.read.PartitionReaderFactory = {
    val base = GraftParquetRead.readerFactory(SparkSession.active,
      dataSchema, required, new StructType(), Array.empty)
    op.policy.fold(
      base: org.apache.spark.sql.connector.read.PartitionReaderFactory)(
      cond => GovernedRows.filtering(base, cond, required,
        s"row policy on '${op.table}'"))
  }

  override def description(): String =
    s"GraftRowLevelScan($index, pushed=${pushed.mkString(",")}, " +
      s"runtime=${runtime.mkString(",")})"
}

/** Commit message: one staged file of replacement rows (empty path = the
  * task saw no rows and staged nothing).
  */
case class StagedFile(path: String) extends WriterCommitMessage

/** MERGE-ON-READ row-level operations — the `SupportsDelta` twin of the
  * copy-on-write [[GraftRowLevelBuilder]], selected by
  * `TBLPROPERTIES ('rowLevelMode'='merge-on-read')`. Spark rewrites the
  * statement into a WriteDelta plan whose query emits ONLY the changed
  * rows, each tagged insert/update/delete with the row's identity
  * (`rowId` = the table's merge keys — key-addressed deltas, the
  * Hudi record-key shape, rather than file/position vectors, because
  * graft rows already carry a unique merge identity and bucket by its
  * hash). Writers stage the tagged rows; the commit buckets them and
  * publishes one DELTA generation per touched bucket
  * ([[ManifestTable.applyRowDeltas]]) — write volume scales with the
  * statement's changed rows, never with the size of the buckets it
  * grazed. Reads fold deltas back latest-wins
  * ([[ManifestTable.reconcileDeltas]], planned by
  * [[graft.plans.ResolveMergeOnRead]]); compact()/collapseDeltas erase
  * them.
  */
class GraftDeltaBuilder(root: File, table: String,
    index: ManifestFileIndex, info: RowLevelOperationInfo)
  extends RowLevelOperationBuilder {
  override def build(): RowLevelOperation =
    new GraftDeltaOperation(root, table, index, info.command)
}

class GraftDeltaOperation(val root: File, val table: String,
    val index: ManifestFileIndex, cmd: RowLevelOperation.Command)
  extends RowLevelOperation
  with org.apache.spark.sql.connector.write.SupportsDelta {

  override def command: RowLevelOperation.Command = cmd

  override def rowId(): Array[NamedReference] =
    index.mergeKeys.map(k =>
      org.apache.spark.sql.connector.expressions.Expressions.column(k))
      .toArray

  /** Plain pruned scan: a delta write never drops files, so pushed
    * filters may safely reach the parquet reader here (unlike the
    * group-based scan) — unmatched rows simply emit no delta.
    */
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(index, index.tableSchema)

  override def newWriteBuilder(info: LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.DeltaWriteBuilder =
    new org.apache.spark.sql.connector.write.DeltaWriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.DeltaWrite =
        new GraftDeltaWrite(GraftDeltaOperation.this)
    }

  override def description(): String =
    s"GraftDeltaOperation($cmd, $root/$table@v${index.snapshotVersion})"
}

class GraftDeltaWrite(op: GraftDeltaOperation)
  extends org.apache.spark.sql.connector.write.DeltaWrite {

  override def toBatch
      : org.apache.spark.sql.connector.write.DeltaBatchWrite =
    new org.apache.spark.sql.connector.write.DeltaBatchWrite {
      private val spark = SparkSession.active
      private val schema = op.index.tableSchema
      // same GC-exempt dot-dir staging contract as the replace-data
      // write; the leaf the commit lists stays non-hidden
      private val stagingDir =
        new File(op.root, s".stage-rl-${UUID.randomUUID().toString.take(8)}")
      private val rowsDir = new File(stagingDir, "rows")

      override def createBatchWriterFactory(info: PhysicalWriteInfo)
          : org.apache.spark.sql.connector.write.DeltaWriterFactory =
        GraftDeltaWriterFactory(schema, op.index.mergeKeys,
          rowsDir.toString,
          new SerializableConfiguration(spark.sessionState.newHadoopConf()))

      override def commit(messages: Array[WriterCommitMessage]): Unit = {
        val staged = messages.collect {
          case StagedFile(p) if p.nonEmpty => p
        }
        try {
          if (staged.nonEmpty) {
            val deltaSchema = StructType(schema.fields :+
              org.apache.spark.sql.types.StructField(
                ManifestTable.RowOpCol,
                org.apache.spark.sql.types.StringType))
            val n = deltaSchema.length
            val rdd = spark.sparkContext
              .binaryFiles(rowsDir.toString, staged.length)
              .flatMap { case (_, pds) =>
                StagingWriterFactory.decode(n, pds.open())
              }
            val rows = org.apache.spark.sql.graftbridge.Bridge
              .internalRowsDf(spark, rdd, deltaSchema)
            ManifestTable.applyRowDeltas(spark, op.root, op.table, rows,
              op.command.toString, op.index.snapshotVersion)
          }
        } finally ManifestTable.deleteRecursively(stagingDir)
      }

      override def abort(messages: Array[WriterCommitMessage]): Unit =
        ManifestTable.deleteRecursively(stagingDir)
    }

  override def description(): String = s"GraftDeltaWrite($op)"
}

/** Task-side delta staging: each callback lands one full-width row
  * (table schema + [[ManifestTable.RowOpCol]]) in the task's staging
  * file — inserts/updates carry the new row, deletes carry the merge
  * keys (from the rowId projection) with every other column null.
  */
case class GraftDeltaWriterFactory(schema: StructType, keys: Seq[String],
    stagingDir: String, conf: SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.DeltaWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long)
      : org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] =
    new org.apache.spark.sql.connector.write.DeltaWriter[InternalRow] {
      private val deltaSchema = StructType(schema.fields :+
        org.apache.spark.sql.types.StructField(ManifestTable.RowOpCol,
          org.apache.spark.sql.types.StringType))
      private val inner = StagingWriterFactory.writer(deltaSchema,
        new Path(s"$stagingDir/part-$partitionId-$taskId.urow"), conf)
      private val buf = new org.apache.spark.sql.catalyst.expressions
        .GenericInternalRow(deltaSchema.length)
      private val fieldTypes = schema.fields.map(_.dataType)
      private val keyIdx = keys.map(schema.fieldIndex).toArray
      private val keyTypes = keyIdx.map(i => schema(i).dataType)

      private def emit(opTag: String): Unit = {
        buf.update(schema.length,
          org.apache.spark.unsafe.types.UTF8String.fromString(opTag))
        inner.write(buf) // UnsafeProjection copies — buf is reusable
      }

      private def setRow(row: InternalRow): Unit = {
        require(row.numFields == schema.length,
          s"delta row has ${row.numFields} fields for " +
            s"${schema.length} data columns — unknown row layout")
        var i = 0
        while (i < fieldTypes.length) {
          buf.update(i,
            if (row.isNullAt(i)) null else row.get(i, fieldTypes(i)))
          i += 1
        }
      }

      override def insert(row: InternalRow): Unit = {
        setRow(row); emit("i")
      }

      override def update(meta: InternalRow, id: InternalRow,
          row: InternalRow): Unit = {
        setRow(row); emit("u")
      }

      /** A key-changing update arrives as delete + reinsert; the
        * reinserted row is an upsert under its NEW key.
        */
      override def reinsert(meta: InternalRow, row: InternalRow): Unit = {
        setRow(row); emit("u")
      }

      override def delete(meta: InternalRow, id: InternalRow): Unit = {
        require(id.numFields == keyIdx.length,
          s"delete id has ${id.numFields} fields for " +
            s"${keyIdx.length} merge keys — unknown row layout")
        var i = 0
        while (i < deltaSchema.length) { buf.update(i, null); i += 1 }
        var j = 0
        while (j < keyIdx.length) {
          buf.update(keyIdx(j),
            if (id.isNullAt(j)) null else id.get(j, keyTypes(j)))
          j += 1
        }
        emit("d")
      }

      override def commit(): WriterCommitMessage = inner.commit()
      override def abort(): Unit = inner.abort()
      override def close(): Unit = inner.close()
    }
}

class GraftReplaceDataWrite(op: GraftRowLevelOperation, schema: StructType)
  extends Write {

  override def toBatch: BatchWrite = new BatchWrite {
    private val spark = SparkSession.active
    // staged under a GC-EXEMPT dot-prefixed dir at the table root (the
    // same contract as GraftStreamingWrite's `.stage-<queryId>`): GC
    // only sweeps `data/<table>/*`, so a concurrent writer winning the
    // next version can never collect these files mid-statement — a
    // versioned name under data/ would date as the winner's version and
    // be swept, breaking replaceGroups' other-table rebase retry (which
    // re-reads the staged files). Deleted explicitly in commit/abort.
    private val stagingRel =
      s".stage-rl-${UUID.randomUUID().toString.take(8)}"
    private val stagingDir = new File(op.root, stagingRel)
    // the leaf the read lists must NOT be dot-prefixed: Hadoop's input
    // glob applies its hidden-file filter to the expanded path itself
    private val rowsDir = new File(stagingDir, "rows")

    override def createBatchWriterFactory(
        info: PhysicalWriteInfo): DataWriterFactory =
      StagingWriterFactory(schema, rowsDir.toString,
        new SerializableConfiguration(spark.sessionState.newHadoopConf()))

    override def commit(messages: Array[WriterCommitMessage]): Unit = {
      val staged = messages.collect {
        case StagedFile(p) if p.nonEmpty => p
      }
      val surviving =
        if (staged.isEmpty)
          spark.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else {
          val n = schema.length
          val rdd = spark.sparkContext
            .binaryFiles(rowsDir.toString, staged.length)
            .flatMap { case (_, pds) =>
              StagingWriterFactory.decode(n, pds.open())
            }
          org.apache.spark.sql.graftbridge.Bridge
            .internalRowsDf(spark, rdd, schema)
        }
      // policy-aware statements scanned only the VISIBLE slice of the
      // replaced groups: read the HIDDEN complement back from the same
      // files with the same compiled predicate and carry it through
      // unmodified — the commit drops those files wholesale, so without
      // this the policy-hidden rows would silently vanish
      val rows = op.policy.filter(_ => op.replacedFiles.nonEmpty)
        .fold(surviving) { cond =>
          val tableSchema = op.index.tableSchema
          val replaced = spark.read.schema(tableSchema)
            .parquet(op.replacedFiles: _*)
          val hidden = replaced.filter(
            !(GovernedRows.onFrame(cond, replaced) <=>
              org.apache.spark.sql.functions.lit(true)))
          surviving.unionByName(
            hidden.select(schema.fieldNames.map(replaced(_)).toIndexedSeq: _*))
        }
      ManifestTable.replaceGroups(spark, op.root, op.table, op.replacedFiles,
        rows, op.command.toString, op.index.snapshotVersion)
      ManifestTable.deleteRecursively(stagingDir)
    }

    override def abort(messages: Array[WriterCommitMessage]): Unit =
      ManifestTable.deleteRecursively(stagingDir)
  }

  override def description(): String = s"GraftReplaceDataWrite($op)"
}

/** Task-side staging: each writer streams its rows as length-prefixed
  * UnsafeRow bytes to one file under the staging dir (Hadoop FS API, so
  * the staging location is the table's own shared storage on a real
  * cluster). Deliberately NOT parquet: these bytes live only between the
  * write job and its commit, and the commit re-reads them exactly once
  * to bucket + publish through [[ManifestTable.replaceGroups]] or
  * [[ManifestTable.applyRowDeltas]] — the durable format with stats,
  * sidecars, and compression happens there.
  */
case class StagingWriterFactory(schema: StructType, stagingDir: String,
    conf: SerializableConfiguration) extends DataWriterFactory {

  override def createWriter(partitionId: Int,
      taskId: Long): DataWriter[InternalRow] =
    StagingWriterFactory.writer(schema,
      new Path(s"$stagingDir/part-$partitionId-$taskId.urow"), conf)
}

/** The streaming twin: one staging file per (epoch, partition, task), so
  * each micro-batch's commit reads exactly its own files.
  */
case class StreamingStagingWriterFactory(schema: StructType,
    stagingDir: String, conf: SerializableConfiguration)
  extends org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    StagingWriterFactory.writer(schema,
      new Path(s"$stagingDir/ep$epochId/part-$partitionId-$taskId.urow"),
      conf)
}

/** `df.writeStream.toTable("graft.ns.t")` — the named streaming sink:
  * every micro-batch stages its rows (same transient UnsafeRow files as
  * the row-level write, one subdir per epoch under a dot-dir the GC
  * never sweeps) and commits through [[ManifestTable.mergeBatch]] keyed
  * on the streaming QUERY id + epoch, so restarts replay as exact no-ops
  * — identical idempotence, layout resolution, and feed contract as the
  * `format("graft")` sink, reached by catalog name. OutputMode mapping
  * rides the builder: Append/Update merge (upsert on the recorded merge
  * keys — `SupportsStreamingUpdateAsAppend`), Complete overwrites the
  * table with each epoch's full result (`SupportsTruncate`). An active
  * change feed keeps publishing unless the writer explicitly opts out.
  */
class GraftStreamingWrite(root: File, table: String, queryId: String,
    schema: StructType, options: Map[String, String], overwrite: Boolean)
  extends org.apache.spark.sql.connector.write.streaming.StreamingWrite {

  private def spark = SparkSession.active
  private val stagingDir = new File(root, s".stage-$queryId")

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo)
      : org.apache.spark.sql.connector.write.streaming.StreamingDataWriterFactory =
    StreamingStagingWriterFactory(schema, stagingDir.toString,
      new SerializableConfiguration(spark.sessionState.newHadoopConf()))

  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    val s = spark
    val staged = messages.collect { case StagedFile(p) if p.nonEmpty => p }
    val epochDir = new File(stagingDir, s"ep$epochId")
    try {
      val rows =
        if (staged.isEmpty)
          s.createDataFrame(
            new java.util.ArrayList[org.apache.spark.sql.Row](), schema)
        else {
          val n = schema.length
          val rdd = s.sparkContext
            .binaryFiles(epochDir.toString, staged.length)
            .flatMap { case (_, pds) =>
              StagingWriterFactory.decode(n, pds.open())
            }
          org.apache.spark.sql.graftbridge.Bridge.internalRowsDf(s, rdd, schema)
        }
      val existing = ManifestTable.read(root)
        .map(_.table(table)).filter(_.schemaJson.nonEmpty)
      // same feed contract as the SQL INSERT path: a feed-active table
      // keeps publishing deltas unless the writer explicitly opted out
      val cim = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(options)
      val feedActive = existing.exists(_.feedFrom >= 0)
      val params = org.apache.spark.sql.catalyst.util.CaseInsensitiveMap(
        options ++
          (if (feedActive && !overwrite && !cim.contains("changeFeed"))
             Map("changeFeed" -> "true")
           else Map.empty[String, String]))
      ManifestTable.mergeBatch(root, s"sql-stream:$queryId", epochId,
        Seq(GraftDataSource.tableBatch(table, rows, params, existing,
          overwrite = overwrite && existing.nonEmpty)))
    } finally {
      ManifestTable.deleteRecursively(epochDir)
      // the parent dot-dir is invisible to GC by design; without this a
      // long-lived deployment accumulates one orphan dir per query id.
      // File.delete only succeeds on an EMPTY dir, so a concurrent
      // epoch's in-flight subdir keeps the parent alive
      stagingDir.delete(): Unit
    }
  }

  override def abort(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit = {
    ManifestTable.deleteRecursively(new File(stagingDir, s"ep$epochId"))
    stagingDir.delete(): Unit
  }

  override def toString: String = s"GraftStreamingWrite($root/$table)"
}

object StagingWriterFactory {

  /** One staging writer: length-prefixed UnsafeRows to `path`, created
    * lazily on the first row (no file for empty tasks).
    */
  private[sources] def writer(schema: StructType, path: Path,
      conf: SerializableConfiguration): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private var out: org.apache.hadoop.fs.FSDataOutputStream = _
      private var proj: UnsafeProjection = _
      private val buf = new Array[Byte](4096)

      override def write(row: InternalRow): Unit = {
        if (out == null) out = path.getFileSystem(conf.value).create(path, true)
        if (proj == null) {
          // ReplaceDataExec only applies its row projection when the
          // operation declared metadata attributes; without them the raw
          // query row arrives with Spark's __row_operation int PREPENDED
          // to the data columns (RowDeltaUtils.OPERATION_COLUMN). Detect
          // the layout from the first row's arity and bind the data
          // columns at the right offset — exact for both shapes
          // (streaming writes always arrive at offset 0), and a layout
          // drift in a future Spark fails loudly here instead of
          // corrupting rows
          val offset = row.numFields - schema.length
          require(offset == 0 || offset == 1,
            s"write row has ${row.numFields} fields for " +
              s"${schema.length} data columns — unknown row layout")
          proj = UnsafeProjection.create(
            schema.fields.zipWithIndex.map { case (f, i) =>
              org.apache.spark.sql.catalyst.expressions
                .BoundReference(i + offset, f.dataType, nullable = true)
            }.toIndexedSeq)
        }
        val u = proj(row)
        out.writeInt(u.getSizeInBytes)
        u.writeToStream(out, buf)
      }

      override def commit(): WriterCommitMessage =
        if (out == null) StagedFile("")
        else { out.close(); StagedFile(path.toString) }

      override def abort(): Unit = if (out != null) {
        out.close()
        path.getFileSystem(conf.value).delete(path, false); ()
      }

      override def close(): Unit = ()
    }

  /** Decode one staged file back into UnsafeRows (fresh backing array per
    * row — downstream operators may buffer references).
    */
  def decode(numFields: Int,
      in: java.io.DataInputStream): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var nextRow: InternalRow = fetch()
      private def fetch(): InternalRow = {
        val b0 = in.read()
        if (b0 < 0) { in.close(); null }
        else {
          val size = (b0 << 24) | (in.read() << 16) |
            (in.read() << 8) | in.read()
          val bytes = new Array[Byte](size)
          in.readFully(bytes)
          val r = new UnsafeRow(numFields)
          r.pointTo(bytes, size)
          r
        }
      }
      override def hasNext: Boolean = nextRow != null
      override def next(): InternalRow = {
        val r = nextRow; nextRow = fetch(); r
      }
    }
}
