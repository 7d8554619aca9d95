package graft.perfbench

import java.math.{BigDecimal => JBig}
import java.nio.charset.StandardCharsets
import java.security.MessageDigest
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import graft.perfbench.Gen.{Doc, LandedFile}

/** The expected state of the canonical tables, derived in plain Scala from
  * what the generator landed — no Spark, no engine code. It restates the
  * reference pipeline's rules (sql/01 load audit, sql/03 header
  * normalization and latest-wins survivorship, sql/04 line flattening,
  * sql/06 anomaly rules, sql/07 ops views) so that a benchmark run can
  * check every output it times.
  *
  * Rows are rendered as `\u0001`-joined strings, nulls as [[Null]], in the
  * form Spark's `cast(... as string)` prints: that is how [[Check]] renders
  * the engine's rows, so a table compares as a sorted list of strings.
  */
object Model {

  val Null = "∅"
  val Sep = "\u0001"

  final case class MLine(number: Int, lineTxnId: Option[String], item: String,
      desc: String, qty: JBig, price: JBig, amount: JBig)

  /** One staged header row (the HeaderNormalizer contract). */
  final case class Staged(client: String, fmt: String, file: String, row: Long,
      ingestMs: Long, id: Option[String], ts: Option[String],
      ccy: Option[String], amount: Option[JBig], customer: Option[String],
      account: Option[String], merchant: Option[String], payloadHash: String,
      parseOk: Boolean, parseError: Option[String], lines: Vector[MLine]) {
    def effectiveId: String = id.getOrElse(payloadHash)
  }

  final case class Survivor(s: Staged, canonicalId: String, dupCnt: Long,
      codes: Vector[String]) {
    def valid: Boolean = codes.isEmpty
  }

  def sha256(s: String): String = {
    val d = MessageDigest.getInstance("SHA-256")
      .digest(s.getBytes(StandardCharsets.UTF_8))
    d.map(b => f"${b & 0xff}%02x").mkString
  }

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    .withZone(ZoneOffset.UTC)
  def tsString(ms: Long): String = tsFmt.format(Instant.ofEpochMilli(ms))

  def stage(f: LandedFile): Vector[Staged] = f.docs.zipWithIndex.map {
    case (d, i) => stageDoc(f, d, i + 1L)
  }

  private def stageDoc(f: LandedFile, d: Doc, row: Long): Staged = {
    val client = s"C${f.client}"
    val t = d.txn
    def lines(numbered: Int => Int, lineIds: Boolean): Vector[MLine] =
      t.lines.zipWithIndex.map { case (l, i) =>
        MLine(numbered(i), if (lineIds) Some(s"L${i + 1}") else None, l.item,
          l.desc, l.qty, l.price, l.amount)
      }
    d.fmt match {
      case "JSON" | "XML" if d.truncated =>
        Staged(client, d.fmt, f.name, row, f.mtimeMs, None, None, None, None,
          None, None, None, sha256(d.payload), parseOk = false,
          Some(s"malformed ${d.fmt}: " + d.payload.take(48)), Vector.empty)
      case "JSON" =>
        val ls =
          if (d.dialect == 0)
            lines(i => if (i % 4 == 3) i + 1 else (i + 1) * 10, lineIds = true)
          else lines(_ + 1, lineIds = false)
        Staged(client, "JSON", f.name, row, f.mtimeMs, t.id, Some(t.ts),
          Some(t.ccy.toUpperCase), t.amount, Some(t.customer),
          if (d.dialect == 0) Some(t.account) else None, Some(t.merchant),
          sha256(d.payload), parseOk = true, None, ls)
      case "XML" =>
        Staged(client, "XML", f.name, row, f.mtimeMs, t.id, Some(t.ts),
          Some(t.ccy.toUpperCase), t.amount, Some(t.customer), Some(t.account),
          Some(t.merchant), sha256(d.payload), parseOk = true, None,
          lines(_ + 1, lineIds = false))
      case "CSV" =>
        val fields = d.payload.split(",", -1).toVector
        def at(i: Int): Option[String] = fields.lift(i - 1).filter(_.nonEmpty)
        val ok = fields.size == 12
        val line =
          if (ok) Vector(MLine(1, None, at(8).get, at(9).get,
            new JBig(at(10).get), new JBig(at(11).get), new JBig(at(12).get)))
          else Vector.empty
        Staged(client, "CSV", f.name, row, f.mtimeMs, at(1), at(2),
          at(3).map(_.toUpperCase), at(4).flatMap(decimal2), at(5), at(6),
          at(7), sha256(fields.mkString("|")), ok,
          if (ok) None else Some(s"expected 12 fields, got ${fields.size}"),
          line)
    }
  }

  private def decimal2(s: String): Option[JBig] =
    try Some(new JBig(s)) catch { case _: NumberFormatException => None }

  /** Latest-wins survivorship per (client_id, source_txn_id); documents
    * without an id group together per client, as the reference's window
    * partitions NULL ids together.
    */
  def survivors(staged: Vector[Staged]): Vector[Survivor] =
    staged.groupBy(s => (s.client, s.id)).values.map { g =>
      val w = g.maxBy(s => (s.ingestMs, s.row))
      val codes = Vector(
        if (g.size > 1) Some("DUPLICATE_TXN") else None,
        if (w.ts.isEmpty || w.amount.isEmpty) Some("MISSING_REQUIRED") else None,
        if (w.amount.exists(_.signum < 0)) Some("NEGATIVE_AMOUNT") else None
      ).flatten
      Survivor(w, sha256(w.client + "|" + w.effectiveId), g.size.toLong, codes)
    }.toVector

  private def r(fields: Any*): String = fields.map {
    case None | null => Null
    case Some(v) => str(v)
    case v => str(v)
  }.mkString(Sep)

  private def str(v: Any): String = v match {
    case b: JBig => b.toPlainString
    case xs: Seq[_] => xs.mkString("[", ", ", "]")
    case other => other.toString
  }

  private def d2(v: JBig): JBig = v.setScale(2, java.math.RoundingMode.HALF_UP)
  private def d4(v: JBig): JBig = v.setScale(4, java.math.RoundingMode.HALF_UP)

  /** The expected tables and views for one landing zone. */
  final case class State(staged: Vector[Staged], surv: Vector[Survivor]) {

    val headerCols: Seq[String] = Seq("canonical_txn_id", "client_id",
      "source_system", "source_txn_id", "txn_timestamp", "currency",
      "total_amount", "customer_id", "account_id", "merchant", "src_file",
      "ingest_ts", "dup_cnt", "anomaly_codes", "is_valid")

    lazy val headers: Vector[String] = surv.map { v =>
      val s = v.s
      r(v.canonicalId, s.client, s.fmt, s.effectiveId, s.ts, s.ccy,
        s.amount.map(d2), s.customer, s.account, s.merchant, s.file,
        tsString(s.ingestMs), v.dupCnt, v.codes, v.valid)
    }.sorted

    val lineCols: Seq[String] = Seq("canonical_txn_id", "client_id",
      "source_system", "line_number", "line_txn_id", "item_id", "description",
      "quantity", "unit_price", "line_amount", "currency", "src_file",
      "ingest_ts")

    private lazy val lineRows: Vector[(Survivor, MLine)] =
      surv.filter(_.s.parseOk).flatMap(v => v.s.lines.map(v -> _))

    lazy val lines: Vector[String] = lineRows.map { case (v, l) =>
      val s = v.s
      r(v.canonicalId, s.client, s.fmt, l.number, l.lineTxnId, l.item, l.desc,
        d2(l.qty), d2(l.price), d4(l.amount), s.ccy, s.file,
        tsString(s.ingestMs))
    }.sorted

    val anomalyCols: Seq[String] = Seq("canonical_txn_id", "client_id",
      "source_system", "anomaly_code", "line_number", "src_file")

    private lazy val anomalyRows: Vector[(Survivor, String, Option[Int])] =
      surv.flatMap(v => v.codes.map(c => (v, c, Option.empty[Int]))) ++
        lineRows.collect {
          case (v, l) if l.qty.signum < 0 || l.amount.signum < 0 =>
            (v, if (l.qty.signum < 0) "NEGATIVE_QTY" else "NEGATIVE_AMOUNT_LINE",
              Some(l.number))
        }

    lazy val anomalies: Vector[String] = anomalyRows.map { case (v, c, ln) =>
      r(v.canonicalId, v.s.client, v.s.fmt, c, ln, v.s.file)
    }.sorted

    val auditCols: Seq[String] = Seq("src_file", "file_type", "rows_parsed",
      "rows_loaded", "errors_seen", "first_error_row", "first_error",
      "load_ts", "load_status")

    private lazy val auditRows = staged.groupBy(s => (s.file, s.fmt)).toVector
      .map { case ((file, fmt), g) =>
        val errs = g.filterNot(_.parseOk)
        val first = errs.sortBy(_.row).headOption
        val status =
          if (errs.isEmpty) "LOADED"
          else if (errs.size == g.size) "LOAD_FAILED"
          else "PARTIALLY_LOADED"
        (file, fmt, g.size.toLong, (g.size - errs.size).toLong,
          errs.size.toLong, first.map(_.row), first.flatMap(_.parseError),
          g.map(_.ingestMs).max, status)
      }

    lazy val audit: Vector[String] = auditRows.map { a =>
      r(a._1, a._2, a._3, a._4, a._5, a._6, a._7, tsString(a._8), a._9)
    }.sorted

    /** VW_CANON_COUNTS (sql/07). */
    lazy val canonCounts: Vector[String] =
      surv.groupBy(v => (v.s.client, v.s.fmt)).toVector.map { case ((c, f), g) =>
        r(c, f, g.size, g.count(_.valid), g.count(!_.valid))
      }.sorted

    /** VW_ANOMALY_COUNTS (sql/07). */
    lazy val anomalyCounts: Vector[String] =
      anomalyRows.groupBy(a => (a._1.s.client, a._1.s.fmt, a._2)).toVector
        .map { case ((c, f, code), g) => r(c, f, code, g.size) }.sorted

    /** VW_LOAD_AUDIT_SUMMARY (sql/07). */
    lazy val auditSummary: Vector[String] =
      auditRows.groupBy(a => (a._2, a._9)).toVector.map { case ((f, st), g) =>
        r(f, st, g.size, g.map(_._3).sum, g.map(_._4).sum, g.map(_._5).sum,
          tsString(g.map(_._8).max))
      }.sorted

    /** Exact decimal total of the valid survivors' amounts. */
    lazy val validTotal: JBig =
      surv.filter(_.valid).flatMap(_.s.amount).foldLeft(JBig.ZERO.setScale(2))(_.add(_))

    lazy val lineCount: Long = lineRows.size.toLong
  }

  def state(files: Seq[LandedFile]): State = {
    val staged = files.toVector.flatMap(stage)
    State(staged, survivors(staged))
  }
}
