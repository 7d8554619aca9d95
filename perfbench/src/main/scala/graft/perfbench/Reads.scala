package graft.perfbench

import scala.collection.mutable

import graft.perfbench.Main.{Ctx, secondsOf}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._

/** The closed-loop read mix over the canonical header and line grains: one
  * client, each read issued when the previous one completes, every result
  * checked against the model. A round is ten point lookups by
  * `canonical_txn_id`, two one-day `txn_timestamp` range scans, one
  * customer's headers joined to their lines, then the workload's `extra`
  * reads.
  *
  * `headers` / `lines` build a fresh frame per read, as a user's query
  * would. With tracing on and `stored` set, each read also records the
  * GraftDataSource plan/execute split and the files its scan opened.
  */
final class Reads(ctx: Ctx, st: Model.State, headers: () => DataFrame,
    lines: () => DataFrame, stored: Boolean,
    extra: Seq[(String, () => Unit)] = Nil) {

  private val r = new java.util.SplittableRandom(ctx.a.seed * 7919L + 17L)
  private val sep = Model.Sep.head
  private def key(row: String): String = row.takeWhile(_ != sep)

  private val ids: Vector[String] = st.surv.map(_.canonicalId).sorted
  private val headerById: Map[String, String] = st.headers.map(h => key(h) -> h).toMap
  private val linesById: Map[String, Vector[String]] = st.lines.groupBy(key)
  private val customers: Vector[String] =
    st.surv.flatMap(_.s.customer).distinct.sorted
  private val idsByCustomer: Map[String, Vector[String]] = st.surv
    .filter(_.s.customer.nonEmpty).groupBy(_.s.customer.get)
    .map { case (c, vs) => c -> vs.map(_.canonicalId) }

  val lookupS = mutable.ArrayBuffer.empty[Double]
  val rangeS = mutable.ArrayBuffer.empty[Double]
  val joinS = mutable.ArrayBuffer.empty[Double]
  /** Summed wall time of every read, checks excluded. */
  var busyS = 0.0
  var reads = 0L

  // traced-only layer measurements
  val planS = mutable.ArrayBuffer.empty[Double]
  val execS = mutable.ArrayBuffer.empty[Double]
  val lookupFiles = mutable.ArrayBuffer.empty[Double]
  val lookupJobs = mutable.ArrayBuffer.empty[Double]
  val rangeFiles = mutable.ArrayBuffer.empty[Double]
  var rangeFilesHit = 0L
  var rangeFilesScanned = 0L

  private def rendered(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(concat_ws(Model.Sep, cols.map(c =>
      coalesce(col(c).cast("string"), lit(Model.Null))): _*))

  /** Plan, then execute, one read; returns rows, seconds and files scanned. */
  private def run(df: DataFrame): (Vector[String], Double, Long) = {
    val ((plan, rows), s) = secondsOf {
      val (p, ps) = secondsOf(df.queryExecution.executedPlan)
      val (rs, es) = secondsOf(df.collect().map(_.getString(0)).toVector)
      if (ctx.tr.on && stored) { planS += ps; execS += es }
      (p, rs)
    }
    val files = plan.collect { case f: FileSourceScanExec =>
      f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
    busyS += s
    reads += 1
    (rows, s, files)
  }

  def lookup(): Unit = {
    val id = ids(r.nextInt(ids.size))
    ctx.op {
      val j0 = if (ctx.tr.on) { ctx.drain(); ctx.counters.snap.jobs } else 0L
      val (rows, s, files) = ctx.tr.span("read.lookup")(run(rendered(
        headers().filter(col("canonical_txn_id") === id), st.headerCols)))
      if (ctx.tr.on && stored) {
        ctx.drain()
        lookupJobs += (ctx.counters.snap.jobs - j0).toDouble
        lookupFiles += files.toDouble
      }
      lookupS += s
      ctx.check.same(s"lookup $id", rows, Seq(headerById(id)))
    }
  }

  def range(): Unit = {
    val day = java.time.LocalDate.of(2024, 1, 1).plusDays(r.nextInt(365).toLong)
    val lo = s"$day 00:00:00"
    val hi = s"${day.plusDays(1)} 00:00:00"
    val cond = col("txn_timestamp") >= lit(lo).cast("timestamp") &&
      col("txn_timestamp") < lit(hi).cast("timestamp")
    ctx.op {
      val (rows, s, files) = ctx.tr.span("read.range")(run(rendered(
        headers().filter(cond), st.headerCols)))
      rangeS += s
      if (ctx.tr.on && stored) {
        rangeFiles += files.toDouble
        rangeFilesScanned += files
        rangeFilesHit += headers().filter(cond)
          .select(input_file_name()).distinct().count()
      }
      val want = st.surv.filter(v => v.s.ts.exists(t => t >= lo && t < hi))
        .map(v => headerById(v.canonicalId))
      ctx.check.same(s"range $lo", rows, want)
    }
  }

  def join(): Unit = {
    val c = customers(r.nextInt(customers.size))
    ctx.op {
      val hs = headers().filter(col("customer_id") === c)
        .select(col("canonical_txn_id"))
      val (rows, s, _) = ctx.tr.span("read.join")(run(rendered(
        hs.join(lines(), Seq("canonical_txn_id")), st.lineCols)))
      joinS += s
      val want = idsByCustomer(c).flatMap(i => linesById.getOrElse(i, Vector.empty))
      ctx.check.same(s"join $c", rows, want)
    }
  }

  /** One round of the mix. */
  def round(): Unit = {
    (1 to 10).foreach(_ => lookup())
    range(); range()
    join()
    extra.foreach { case (name, f) =>
      ctx.op {
        val (_, s) = secondsOf(ctx.tr.span(name)(f()))
        busyS += s
        reads += 1
      }
    }
  }

  /** Two uncounted rounds of the mix: the first reads of a JVM run cold. */
  def warmUp(): Unit = {
    val (a, f) = (ctx.attempted, ctx.failed)
    round(); round()
    ctx.attempted = a
    ctx.failed = f
    Seq(lookupS, rangeS, joinS, planS, execS, lookupFiles, lookupJobs, rangeFiles)
      .foreach(_.clear())
    busyS = 0.0
    reads = 0L
    rangeFilesHit = 0L
    rangeFilesScanned = 0L
  }

  /** Rounds until `seconds` have passed; at least one. */
  def loop(seconds: Double): Unit = {
    val end = System.nanoTime() + (seconds * 1e9).toLong
    round()
    while (System.nanoTime() < end) round()
  }

  /** The read metrics of this mix. */
  def report(): Unit = {
    ctx.put("lookup_p50_ms", Main.median(lookupS.toSeq) * 1000)
    ctx.put("lookup_p90_ms", Main.quantile(lookupS.toSeq, 0.9) * 1000)
    ctx.put("range_scan_ms", Main.median(rangeS.toSeq) * 1000)
    ctx.put("join_read_ms", Main.median(joinS.toSeq) * 1000)
    ctx.put("reads_per_s", reads / busyS)
    def avg(xs: Iterable[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    ctx.put("graft_datasource.range_scan_ms",
      if (stored) Main.median(rangeS.toSeq) * 1000 else 0.0)
    ctx.put("graft_datasource.join_read_ms",
      if (stored) Main.median(joinS.toSeq) * 1000 else 0.0)
    ctx.put("graft_datasource.plan_ms", avg(planS) * 1000)
    ctx.put("graft_datasource.exec_ms", avg(execS) * 1000)
    ctx.put("graft_datasource.files_per_lookup", avg(lookupFiles))
    ctx.put("graft_datasource.spark_jobs_per_lookup", avg(lookupJobs))
    ctx.put("graft_datasource.files_per_range_scan", avg(rangeFiles))
    ctx.put("graft_datasource.range_hit_ratio",
      if (rangeFilesScanned == 0) 0.0 else rangeFilesHit.toDouble / rangeFilesScanned)
  }
}
