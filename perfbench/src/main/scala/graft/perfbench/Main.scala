package graft.perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable

import graft.sources.ManifestTable
import org.apache.spark.perfbench.ListenerDrain
import org.apache.spark.sql.SparkSession

/** Benchmark entry point: `--workload <name> --seed <n> --seconds <s>
  * --trace <0|1> --t0-ms <launch epoch ms> --work <dir> --trace-out <file>`.
  *
  * Prints, as the last line of standard output, one JSON object with
  * `correct`, `attempted`, `failed` and `metrics`: the end-to-end metrics
  * with `--trace 0`, the per-layer metrics with `--trace 1`. A traced run
  * also writes its spans and counters, as JSON, to the `--trace-out` file.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Int,
      trace: Boolean, t0Ms: Long, work: File, traceOut: File)

  /** End-to-end metrics: reported by every workload, untraced runs only. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "peak_rss_mb" -> "MB", "ingest_s" -> "s",
    "bytes_per_raw_byte" -> "ratio", "lookup_p50_ms" -> "ms",
    "reads_per_s" -> "ops/s")

  /** Per-layer metrics: reported by every traced run; a layer the workload
    * does not call reads 0.
    */
  val PerLayer: Seq[(String, String)] = Seq(
    "file_ingest.s" -> "s", "file_ingest.rows" -> "count",
    "file_ingest.files_read" -> "count", "file_ingest.files_skipped" -> "count",
    "header_normalizer.s" -> "s", "header_normalizer.rows_unparsed" -> "count",
    "canonicalizer.s" -> "s", "canonicalizer.survivors" -> "count",
    "line_flattener.s" -> "s", "line_flattener.lines" -> "count",
    "anomaly_detector.s" -> "s", "anomaly_detector.events" -> "count",
    "load_audit.s" -> "s",
    "spark.jobs" -> "count", "spark.tasks" -> "count", "spark.shuffle_mb" -> "MB",
    "spark.gc_s" -> "s", "spark.job_busy_s" -> "s",
    "canonical_stream.increment_s" -> "s", "canonical_stream.replay_s" -> "s",
    "manifest_table.versions" -> "count", "manifest_table.files_written" -> "count",
    "manifest_table.mb_written" -> "MB", "manifest_table.write_amplification" -> "ratio",
    "manifest_table.live_generations" -> "count", "manifest_table.read_ms" -> "ms",
    "ops_marts.canon_counts_s" -> "s", "ops_marts.anomaly_counts_s" -> "s",
    "ops_marts.load_audit_s" -> "s", "ops_marts.refresh_s" -> "s",
    "ops_marts.spark_jobs" -> "count",
    "graft_datasource.plan_ms" -> "ms", "graft_datasource.exec_ms" -> "ms",
    "graft_datasource.range_scan_ms" -> "ms", "graft_datasource.join_read_ms" -> "ms",
    "graft_datasource.files_per_lookup" -> "count",
    "graft_datasource.spark_jobs_per_lookup" -> "count",
    "graft_datasource.files_per_range_scan" -> "count",
    "graft_datasource.range_hit_ratio" -> "ratio")

  /** State shared by a run: the session, counters, tracer, checks, and the
    * metrics and operation counts the run reports.
    */
  final class Ctx(val a: Args, val spark: SparkSession,
      val counters: EngineCounters, val tr: Tracer, val check: Check) {
    val metrics = mutable.LinkedHashMap.empty[String, Double]
    var attempted = 0L
    var failed = 0L

    def put(name: String, v: Double): Unit = metrics(name) = v

    /** Progress on standard error, with seconds since launch. */
    def note(msg: String): Unit = System.err.println(
      f"[perfbench] +${(System.currentTimeMillis() - a.t0Ms) / 1000.0}%.1fs $msg")

    /** Set-up ends: everything since the launcher started the JVM. */
    def setupDone(): Unit =
      put("setup_s", (System.currentTimeMillis() - a.t0Ms) / 1000.0)

    def drain(): Unit = ListenerDrain(spark.sparkContext)

    /** Run one timed operation; a thrown error counts as failed. */
    def op[A](body: => A): Option[A] = {
      attempted += 1
      try Some(body)
      catch {
        case e: Exception =>
          failed += 1
          System.err.println(s"operation failed: $e")
          None
      }
    }
  }

  def secondsOf[A](body: => A): (A, Double) = {
    val s = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - s) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Nearest-rank quantile. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(q * s.size).toInt - 1)))
  }

  /** Bytes and files under a directory (regular files, recursively). */
  def tree(dir: File): Map[String, Long] = {
    val out = mutable.Map.empty[String, Long]
    def go(f: File): Unit =
      if (f.isDirectory) Option(f.listFiles).getOrElse(Array.empty).foreach(go)
      else if (f.isFile) out(f.getPath) = f.length
    go(dir)
    out.toMap
  }

  def peakRssMb: Double = {
    val status = new String(Files.readAllBytes(
      new File("/proc/self/status").toPath), StandardCharsets.UTF_8)
    status.split("\n").find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0)
      .getOrElse(throw new IllegalStateException("no VmHWM"))
  }

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k,
      throw new IllegalArgumentException(s"missing $k"))
    Args(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--t0-ms").toLong, new File(need("--work")),
      new File(need("--trace-out")))
  }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    ManifestTable.deleteRecursively(a.work)
    a.work.mkdirs()
    val spark = graft.Engine.session("graft-perfbench",
      Runtime.getRuntime.availableProcessors)
    spark.sparkContext.setLogLevel("ERROR")
    val counters = new EngineCounters
    spark.sparkContext.addSparkListener(counters)
    val ctx = new Ctx(a, spark, counters, new Tracer(a.trace), new Check)
    a.workload match {
      case "full_load" => FullLoad.run(ctx)
      case "landing_increments" => LandingIncrements.run(ctx)
      case other =>
        throw new IllegalArgumentException(s"unknown workload $other")
    }
    ctx.put("peak_rss_mb", peakRssMb)
    val wanted = if (a.trace) PerLayer else EndToEnd
    val missing = wanted.map(_._1).filterNot(ctx.metrics.contains)
    if (missing.nonEmpty)
      throw new IllegalStateException(s"metrics not measured: ${missing.mkString(", ")}")
    if (a.trace) {
      val layer = PerLayer.map { case (n, _) => s""""$n":${num(ctx.metrics(n))}""" }
      val all = ctx.metrics.map { case (n, v) => s""""$n":${num(v)}""" }
      Files.write(a.traceOut.toPath,
        (s"""{"workload":"${a.workload}","seed":${a.seed},""" +
          s""""metrics":{${all.mkString(",")}},""" +
          s""""per_layer":{${layer.mkString(",")}},""" +
          s""""spans":${ctx.tr.json}}""" + "\n").getBytes(StandardCharsets.UTF_8))
    }
    ctx.check.report()
    spark.stop()
    val ms = wanted.map { case (n, u) =>
      s""""$n": {"value": ${num(ctx.metrics(n))}, "unit": "$u"}"""
    }
    println(s"""{"correct": ${ctx.check.ok}, "attempted": ${ctx.attempted}, """ +
      s""""failed": ${ctx.failed}, "metrics": {${ms.mkString(", ")}}}""")
  }
}
