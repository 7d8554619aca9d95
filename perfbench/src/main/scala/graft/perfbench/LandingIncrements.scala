package graft.perfbench

import java.io.File

import graft.ingest.CanonicalChain
import graft.perfbench.Main.{Ctx, secondsOf, tree}
import graft.sources.ManifestTable
import graft.streaming.{CanonicalStream, IncrementalMart, OpsMarts}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `landing_increments`: the re-runnable loop over stored tables. Set-up
  * loads a base zone with `CanonicalStream.ingestIncrement` (commit 1). The
  * timed part lands a drop far smaller than the base — a committed id
  * re-sent in the other JSON key dialect, and a new transaction whose CSV
  * row is cut short — then runs `ingestIncrement` (commit 2), then the
  * closed-loop read mix against the committed tables through
  * `format("graft")`, plus reads of commit 1 (time travel). It ends with a
  * replay over the unchanged zone. The traced run also brings the ops marts
  * current with their first sync after the drop (each mart in its own span),
  * checks them and reads them in the mix, and checks that every stored grain
  * equals the one-shot batch chain: these cost ~11 s, which the untraced
  * runs' time budget does not hold.
  *
  * Parsing is tiny here: the time goes to the ManifestTable commit path,
  * the CDF-fed marts, and manifest resolve / pruning / parquet scans on
  * the read side.
  */
object LandingIncrements {

  /** The drop is two documents: every document of a drop touches a
    * survivorship group, and each group the increment rewrites costs
    * seconds (see the README), so a larger drop would not fit the run.
    */
  val BaseTxns = 400
  val DropFresh = 1
  val DropResent = 1

  private val headerTable = CanonicalStream.HeaderTable

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val spark = ctx.spark
    val check = ctx.check
    val zoneDir = new File(a.work, "zone")
    val dirs = Gen.dirs(zoneDir)
    val root = new File(a.work, "table")
    val martRoot = new File(a.work, "marts").toString
    val ckRoot = new File(a.work, "mart-checkpoints").toString
    val d = Gen.Defects()

    val base = Gen.drop(a.seed, 0, BaseTxns, 0, Vector.empty, 0, 2, 0, d)
    val baseFiles = Gen.land(zoneDir, base.files, Gen.EpochMs)
    val drop = Gen.drop(a.seed, 1, DropFresh, DropResent, base.txns, BaseTxns,
      1, base.files.size, d, small = true)
    val stBase = Model.state(baseFiles)

    // OpsMarts.syncAll's loop, one span per mart
    def sync(): Unit =
      Seq(
        "canon_counts" -> OpsMarts.canonCountsConfig(root.toString, martRoot),
        "anomaly_counts" -> OpsMarts.anomalyCountsConfig(root.toString, martRoot),
        "load_audit" -> OpsMarts.loadAuditConfig(root.toString, martRoot))
        .foreach { case (name, cfg) =>
          ctx.tr.span(s"ops_marts.$name")(
            IncrementalMart.sync(spark, cfg, s"$ckRoot/$name"))
        }
    def version: Long = ManifestTable.read(root).map(_.version).getOrElse(-1L)
    def headers(v: Option[Long] = None): DataFrame = {
      val r = spark.read.format("graft").option("path", root.toString)
        .option("table", headerTable)
      v.fold(r)(x => r.option("version", x.toString)).load()
    }
    def lines(): DataFrame = spark.read.format("graft")
      .option("path", root.toString).option("table", CanonicalStream.LineTable).load()

    // set-up: base load (commit 1), which warms the code paths the drop
    // takes
    ctx.note("zone landed")
    CanonicalStream.ingestIncrement(spark, dirs, root)
    val v1 = version
    ctx.setupDone()
    ctx.note("base loaded")

    // timed: one drop, merged (and, traced, the marts refreshed)
    val dropFiles = Gen.land(zoneDir, drop.files,
      baseFiles.last.mtimeMs + 1000L)
    val st = Model.state(baseFiles ++ dropFiles)
    val before = tree(root)
    ctx.drain()
    val c0 = ctx.counters.snap
    val inc = ctx.op(secondsOf(ctx.tr.span("canonical_stream.ingest_increment")(
      CanonicalStream.ingestIncrement(spark, dirs, root))))
    ctx.drain()
    val c1 = ctx.counters.snap
    val v2 = version
    val written = tree(root).filterNot { case (p, _) => before.contains(p) }
    val refresh = if (ctx.tr.on) ctx.op(secondsOf(sync())) else None
    ctx.drain()
    val c2 = ctx.counters.snap
    inc.foreach { case (i, s) =>
      ctx.put("ingest_s", s)
      ctx.put("canonical_stream.increment_s", s)
      check.same("files read by the drop", i.newFiles.values.flatten.toSeq,
        dropFiles.map(_.name))
      check.same("files skipped by the drop", i.skippedFiles.values.flatten.toSeq,
        baseFiles.map(_.name))
    }
    refresh.foreach { case (_, s) => ctx.put("ops_marts.refresh_s", s) }
    check.expect("one commit per increment", v2 == v1 + 1, s"v1=$v1 v2=$v2")
    ctx.note("drop merged")
    checkStored(ctx, root, martRoot, st, "drop", marts = ctx.tr.on)
    ctx.note("drop checked")

    // the read mix, including commit 1 (and, traced, the marts)
    val stBaseById = stBase.headers.map(h => h.takeWhile(_ != Model.Sep.head) -> h).toMap
    val baseIds = stBaseById.keys.toVector.sorted
    val ttRand = new java.util.SplittableRandom(a.seed * 104729L + 3L)
    val timeTravel = () => {
      val id = baseIds(ttRand.nextInt(baseIds.size))
      check.table(s"version $v1 lookup $id",
        headers(Some(v1)).filter(col("canonical_txn_id") === id),
        stBase.headerCols, Seq(stBaseById(id)))
      ()
    }
    val marts = () => {
      checkMarts(check, martRoot, st, "read")
      ()
    }
    val reads = new Reads(ctx, st, () => headers(), () => lines(), stored = true,
      extra = Seq("read.time_travel" -> timeTravel) ++
        (if (ctx.tr.on) Seq("read.ops_marts" -> marts) else Nil))
    reads.warmUp()
    reads.loop(a.seconds.toDouble)
    reads.report()
    ctx.note(s"${reads.reads} reads")

    // replay over the unchanged zone: nothing read, no commit
    val replay = ctx.op(secondsOf(ctx.tr.span("canonical_stream.replay")(
      CanonicalStream.ingestIncrement(spark, dirs, root))))
    replay.foreach { case (i, _) =>
      check.expect("replay reads no file", i.newFiles.isEmpty, s"read ${i.newFiles}")
    }
    check.expect("replay leaves the manifest version", version == v2,
      s"version moved from $v2 to $version")

    val rawBytes = (baseFiles ++ dropFiles).map(_.bytes).sum.toDouble
    ctx.put("bytes_per_raw_byte", tree(root).values.sum / rawBytes)

    // traced: the stored tables equal the one-shot batch chain over the
    // same zone, every column (untraced runs check them against the model)
    if (ctx.tr.on) {
      val (batch, _) = FullLoad.load(dirs, ctx)
      val r = root.toString
      Seq(
        "can_txn" -> (CanonicalChain.headerModel(batch.surv), CanonicalStream.canTxn(spark, r)),
        "can_txn_line" -> (CanonicalChain.lineModel(batch.lines), CanonicalStream.canTxnLine(spark, r)),
        "can_txn_anomaly" -> (batch.anoms, CanonicalStream.canTxnAnomaly(spark, r)),
        "raw_load_audit" -> (batch.audit, ManifestTable.readTable(spark, r,
          table = CanonicalStream.AuditTable))).foreach { case (name, (want, got)) =>
        val cols = want.columns.toSeq
        check.same(s"$name equals the batch chain", check.rendered(got, cols),
          check.rendered(want, cols))
      }
      batch.unpersist()
      ctx.note("stored tables equal the batch chain")
    }

    if (ctx.tr.on) {
      val inc0 = c1 - c0
      ctx.put("spark.jobs", inc0.jobs.toDouble)
      ctx.put("spark.tasks", inc0.tasks.toDouble)
      ctx.put("spark.shuffle_mb", inc0.shuffleBytes / 1e6)
      ctx.put("spark.gc_s", inc0.gcMs / 1000.0)
      ctx.put("spark.job_busy_s", inc0.busyMs / 1000.0)
      ctx.put("canonical_stream.replay_s", ctx.tr.seconds("canonical_stream.replay"))
      ctx.put("manifest_table.versions", (v2 - v1).toDouble)
      ctx.put("manifest_table.files_written", written.size.toDouble)
      ctx.put("manifest_table.mb_written", written.values.sum / 1e6)
      ctx.put("manifest_table.write_amplification",
        written.values.sum.toDouble / dropFiles.map(_.bytes).sum)
      ctx.put("manifest_table.live_generations", ManifestTable.read(root)
        .map(_.tables.values.map(_.gens.size).sum).getOrElse(0).toDouble)
      val readS = (1 to 20).map(_ => secondsOf(ManifestTable.read(root))._2)
      ctx.put("manifest_table.read_ms", Main.median(readS) * 1000)
      inc.foreach { case (i, _) =>
        ctx.put("file_ingest.files_read", i.newFiles.values.map(_.size).sum.toDouble)
        ctx.put("file_ingest.files_skipped", i.skippedFiles.values.map(_.size).sum.toDouble)
      }
      Seq("canon_counts", "anomaly_counts", "load_audit").foreach { m =>
        ctx.put(s"ops_marts.${m}_s", ctx.tr.last(s"ops_marts.$m"))
      }
      ctx.put("ops_marts.spark_jobs", (c2 - c1).jobs.toDouble)
      // the batch-chain layers run inside ingestIncrement, out of reach of
      // spans recorded around public calls
      Seq("file_ingest.s", "file_ingest.rows", "header_normalizer.s",
        "header_normalizer.rows_unparsed", "canonicalizer.s",
        "canonicalizer.survivors", "line_flattener.s", "line_flattener.lines",
        "anomaly_detector.s", "anomaly_detector.events", "load_audit.s")
        .foreach(ctx.put(_, 0.0))
    }
  }

  def checkMarts(check: Check, martRoot: String, st: Model.State,
      what: String): Unit = {
    val spark = org.apache.spark.sql.SparkSession.active
    check.table(s"$what VW_CANON_COUNTS", OpsMarts.canonCounts(spark, martRoot),
      Views.canonCountCols, st.canonCounts)
    check.table(s"$what VW_ANOMALY_COUNTS", OpsMarts.anomalyCounts(spark, martRoot),
      Views.anomalyCountCols, st.anomalyCounts)
    check.table(s"$what VW_LOAD_AUDIT_SUMMARY",
      OpsMarts.loadAuditSummary(spark, martRoot), Views.auditSummaryCols,
      st.auditSummary)
  }

  /** Every stored grain, and with `marts` every mart, against the model. */
  def checkStored(ctx: Ctx, root: File, martRoot: String, st: Model.State,
      what: String, marts: Boolean): Unit = {
    val spark = ctx.spark
    val check = ctx.check
    val r = root.toString
    check.table(s"$what can_txn", CanonicalStream.canTxn(spark, r), st.headerCols, st.headers)
    check.table(s"$what can_txn_line", CanonicalStream.canTxnLine(spark, r), st.lineCols, st.lines)
    check.table(s"$what can_txn_anomaly", CanonicalStream.canTxnAnomaly(spark, r),
      st.anomalyCols, st.anomalies)
    check.table(s"$what raw_load_audit", ManifestTable.readTable(spark, r,
      table = CanonicalStream.AuditTable), st.auditCols, st.audit)
    if (marts) checkMarts(check, martRoot, st, what)
  }
}
