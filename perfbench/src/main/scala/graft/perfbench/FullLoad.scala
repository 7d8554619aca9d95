package graft.perfbench

import java.io.File

import graft.ingest.{CanonicalChain, Canonicalizer, HeaderNormalizer}
import graft.perfbench.Main.{Ctx, median, secondsOf}
import graft.sources.{FileIngest, LoadAudit}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** `full_load`: the day-one COPY of a whole landing zone through the
  * in-memory batch chain — FileIngest readers → HeaderNormalizer branches →
  * CanonicalChain.unionHeaders → Canonicalizer.survivors →
  * CanonicalChain.linesFrom / anomaliesFrom → LoadAudit.audit → the three
  * sql/07 view aggregates — then the read mix against the loaded frames.
  * Nearly all the work is parsing, survivorship and flattening; no table
  * layer is touched, so table-layer changes should leave it unchanged.
  */
object FullLoad {

  /** Base drop, then two later drops that re-send committed ids. */
  val BaseTxns = 2000
  val LaterTxns = 100
  val LaterResent = 100

  final case class Frames(staged: DataFrame, surv: DataFrame, lines: DataFrame,
      anoms: DataFrame, audit: DataFrame) {
    def all: Seq[DataFrame] = Seq(staged, surv, lines, anoms, audit)
    def unpersist(): Unit = all.foreach(_.unpersist())
  }

  def zone(seed: Long, dir: File): Vector[Gen.LandedFile] = {
    val d = Gen.Defects()
    val base = Gen.drop(seed, 0, BaseTxns, 0, Vector.empty, 0, 4, 0, d)
    val (files, _, _) = (1 to 2).foldLeft((base.files, base.txns, BaseTxns)) {
      case ((fs, committed, nextId), k) =>
        val dr = Gen.drop(seed, k, LaterTxns, LaterResent, committed, nextId,
          1, fs.size, d)
        (fs ++ dr.files, committed ++ dr.txns, nextId + LaterTxns)
    }
    Gen.land(dir, files, Gen.EpochMs)
  }

  private def views(f: Frames): Seq[Seq[String]] = Seq(
    Views.canonCounts(f.surv) -> Views.canonCountCols,
    Views.anomalyCounts(f.anoms) -> Views.anomalyCountCols,
    Views.auditSummary(f.audit) -> Views.auditSummaryCols)
    .map { case (df, cols) =>
      df.select(concat_ws(Model.Sep, cols.map(c =>
        coalesce(col(c).cast("string"), lit(Model.Null))): _*))
        .collect().map(_.getString(0)).toSeq
    }

  /** One load: the chain with its staged, survivor and line frames cached
    * (as the incremental maintainer caches them), ending in the views.
    */
  def load(dirs: Map[String, String], ctx: Ctx): (Frames, Seq[Seq[String]]) = {
    val s = ctx.spark
    val staged = CanonicalChain.unionHeaders(
      HeaderNormalizer.fromJson(FileIngest.jsonLines(s, dirs("JSON"))),
      HeaderNormalizer.fromXml(FileIngest.xmlLines(s, dirs("XML"))),
      HeaderNormalizer.fromCsv(FileIngest.csvLines(s, dirs("CSV")))).persist()
    val surv = Canonicalizer.survivors(staged).persist()
    val lines = CanonicalChain.linesFrom(surv).persist()
    val f = Frames(staged, surv, lines, CanonicalChain.anomaliesFrom(surv, lines),
      LoadAudit.audit(staged))
    (f, views(f))
  }

  /** The same load with each layer boundary materialized inside its own
    * span, so a span's duration is that layer's work.
    */
  def tracedLoad(dirs: Map[String, String], ctx: Ctx)
      : (Frames, Seq[Seq[String]]) = {
    val s = ctx.spark
    val tr = ctx.tr
    def mat(df: DataFrame): DataFrame = { val p = df.persist(); p.count(); p }
    tr.span("load") {
      val raw = tr.span("file_ingest") {
        Seq(FileIngest.jsonLines(s, dirs("JSON")), FileIngest.xmlLines(s, dirs("XML")),
          FileIngest.csvLines(s, dirs("CSV"))).map(mat)
      }
      ctx.put("file_ingest.rows", raw.map(_.count()).sum.toDouble)
      val hdrs = tr.span("header_normalizer") {
        Seq(HeaderNormalizer.fromJson(raw(0)), HeaderNormalizer.fromXml(raw(1)),
          HeaderNormalizer.fromCsv(raw(2))).map(mat)
      }
      val staged = CanonicalChain.unionHeaders(hdrs(0), hdrs(1), hdrs(2)).persist()
      ctx.put("header_normalizer.rows_unparsed",
        staged.filter(!col("parse_ok")).count().toDouble)
      val surv = tr.span("canonicalizer")(mat(Canonicalizer.survivors(staged)))
      ctx.put("canonicalizer.survivors", surv.count().toDouble)
      val lines = tr.span("line_flattener")(mat(CanonicalChain.linesFrom(surv)))
      ctx.put("line_flattener.lines", lines.count().toDouble)
      val anoms = tr.span("anomaly_detector")(
        mat(CanonicalChain.anomaliesFrom(surv, lines)))
      ctx.put("anomaly_detector.events", anoms.count().toDouble)
      val audit = tr.span("load_audit")(mat(LoadAudit.audit(staged)))
      val f = Frames(staged, surv, lines, anoms, audit)
      (raw ++ hdrs).foreach(_.unpersist())
      (f, tr.span("views")(views(f)))
    }
  }

  def run(ctx: Ctx): Unit = {
    val a = ctx.a
    val zoneDir = new File(a.work, "zone")
    val files = zone(a.seed, zoneDir)
    val st = Model.state(files)
    val dirs = Gen.dirs(zoneDir)
    val rawBytes = files.map(_.bytes).sum.toDouble
    val check = ctx.check

    // warm-up: one load (a cold chain runs several times slower)
    ctx.note(s"zone landed: ${files.size} files, ${rawBytes.toLong} bytes")
    val (warm, warmViews) = load(dirs, ctx)
    ctx.setupDone()

    // the whole canonical state of the warm-up load against the model
    check.table("can_txn", CanonicalChain.headerModel(warm.surv), st.headerCols, st.headers)
    check.table("can_txn_line", CanonicalChain.lineModel(warm.lines), st.lineCols, st.lines)
    check.table("can_txn_anomaly", warm.anoms, st.anomalyCols, st.anomalies)
    check.table("raw_load_audit", warm.audit, st.auditCols, st.audit)
    checkViews(check, st, warmViews, "warm-up")
    check.expect("valid total", validTotal(warm) == st.validTotal,
      s"got ${validTotal(warm)}, want ${st.validTotal}")
    val cached = ctx.spark.sparkContext.getRDDStorageInfo
      .map(i => i.memSize + i.diskSize).sum
    ctx.put("bytes_per_raw_byte", cached / rawBytes)
    warm.unpersist()

    // two more uncounted loads: the first several loads of a JVM keep
    // getting faster as it compiles the chain, so the timed ones start
    // warmer. The traced run takes the engine's counts for one load, as
    // the untraced run makes it, from the last of them.
    load(dirs, ctx)._1.unpersist()
    ctx.drain()
    val c0 = ctx.counters.snap
    load(dirs, ctx)._1.unpersist()
    if (ctx.tr.on) {
      ctx.drain()
      val c = ctx.counters.snap - c0
      ctx.put("spark.jobs", c.jobs.toDouble)
      ctx.put("spark.tasks", c.tasks.toDouble)
      ctx.put("spark.shuffle_mb", c.shuffleBytes / 1e6)
      ctx.put("spark.gc_s", c.gcMs / 1000.0)
      ctx.put("spark.job_busy_s", c.busyMs / 1000.0)
    }

    ctx.note("warm-up done")
    // timed: whole-zone loads for the run's length (at least five; three
    // in the traced run, whose loads are slower), then the read mix for
    // the run's length
    val minLoads = if (ctx.tr.on) 3 else 5
    val start = System.nanoTime()
    val loadS = scala.collection.mutable.ArrayBuffer.empty[Double]
    var last: Option[Frames] = None
    def elapsed = (System.nanoTime() - start) / 1e9
    while (loadS.size < minLoads || elapsed < a.seconds) {
      last.foreach(_.unpersist())
      last = None
      ctx.op {
        val ((f, v), s) = secondsOf(
          if (ctx.tr.on) tracedLoad(dirs, ctx) else load(dirs, ctx))
        loadS += s
        last = Some(f)
        checkViews(check, st, v, s"load ${loadS.size}")
        val n = f.lines.count()
        check.expect("line count", n == st.lineCount, s"got $n, want ${st.lineCount}")
      }
    }
    ctx.put("ingest_s", median(loadS.toSeq))
    val f = last.getOrElse(throw new IllegalStateException("no load completed"))
    val reads = new Reads(ctx, st, () => CanonicalChain.headerModel(f.surv),
      () => CanonicalChain.lineModel(f.lines), stored = false)
    ctx.note(s"${loadS.size} loads (s): ${loadS.map(x => f"$x%.2f").mkString(" ")}")
    reads.warmUp()
    reads.loop(a.seconds.toDouble)
    ctx.note(s"${reads.reads} reads")
    reads.report()
    f.unpersist()

    if (ctx.tr.on) {
      val n = loadS.size.toDouble
      Seq("file_ingest", "header_normalizer", "canonicalizer", "line_flattener",
        "anomaly_detector", "load_audit").foreach { l =>
        ctx.put(s"$l.s", ctx.tr.seconds(l) / n)
      }
      // layers of the stored-table loop, which this workload never calls
      Seq("file_ingest.files_read", "file_ingest.files_skipped",
        "canonical_stream.replay_s", "manifest_table.versions",
        "manifest_table.files_written", "manifest_table.mb_written",
        "manifest_table.write_amplification", "manifest_table.live_generations",
        "manifest_table.read_ms", "canonical_stream.increment_s",
        "ops_marts.refresh_s", "ops_marts.canon_counts_s",
        "ops_marts.anomaly_counts_s", "ops_marts.load_audit_s",
        "ops_marts.spark_jobs").foreach(ctx.put(_, 0.0))
    }
  }

  def validTotal(f: Frames): java.math.BigDecimal =
    Option(f.surv.filter(col("is_valid")).agg(sum("total_amount")).head.getDecimal(0))
      .getOrElse(java.math.BigDecimal.ZERO).setScale(2)

  def checkViews(check: Check, st: Model.State, got: Seq[Seq[String]],
      what: String): Unit = {
    check.same(s"$what VW_CANON_COUNTS", got(0), st.canonCounts)
    check.same(s"$what VW_ANOMALY_COUNTS", got(1), st.anomalyCounts)
    check.same(s"$what VW_LOAD_AUDIT_SUMMARY", got(2), st.auditSummary)
  }
}
