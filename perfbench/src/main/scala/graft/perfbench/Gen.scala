package graft.perfbench

import java.io.File
import java.math.{BigDecimal => JBig}
import java.nio.charset.StandardCharsets
import java.nio.file.Files

/** Landing-zone generator: real JSON / XML / CSV client files, one document
  * per line, written under `<zone>/{json,xml,csv}` with distinct, strictly
  * increasing modification times so latest-wins survivorship never ties.
  *
  * Everything is a function of the seed. The generator keeps the structured
  * truth of every document it renders ([[Doc]]), which is what the
  * expected-state model ([[Model]]) derives the canonical tables from.
  */
object Gen {

  final case class Line(item: String, desc: String, qty: JBig, price: JBig,
      amount: JBig)

  /** One transaction as a client system holds it. `id = None` is a document
    * sent without a source id; `amount = None` is an `N/A` amount.
    */
  final case class Txn(client: Int, id: Option[String], ts: String,
      ccy: String, amount: Option[JBig], customer: String, account: String,
      merchant: String, lines: Vector[Line])

  /** A rendered document: the format it landed in, the JSON key dialect
    * (0 = snake_case, 1 = the short/camel dialect), whether the client cut
    * it short, and the exact payload line.
    */
  final case class Doc(txn: Txn, fmt: String, dialect: Int, truncated: Boolean,
      payload: String)

  final case class LandedFile(name: String, fmt: String, client: Int,
      mtimeMs: Long, docs: Vector[Doc]) {
    def bytes: Long = docs.map(_.payload.getBytes(StandardCharsets.UTF_8).length + 1L).sum
  }

  /** Share of documents carrying each injected defect. */
  final case class Defects(missingId: Double = 0.01, naAmount: Double = 0.01,
      negAmount: Double = 0.01, truncated: Double = 0.01,
      negQtyLine: Double = 0.01, crossFormatDup: Double = 0.04)

  val Formats: Seq[String] = Seq("JSON", "XML", "CSV")
  val Clients = 3
  /** Modification time of the first landed file; each later file is 1 s newer. */
  val EpochMs = 1700000000000L

  def dirOf(zone: File, fmt: String): File = new File(zone, fmt.toLowerCase)
  def dirs(zone: File): Map[String, String] =
    Formats.map(f => f -> dirOf(zone, f).toString).toMap

  private def ext(fmt: String) = fmt.toLowerCase

  private def money(r: java.util.SplittableRandom, lo: Int, hi: Int): JBig =
    JBig.valueOf(lo * 100L + r.nextLong((hi - lo) * 100L), 2)

  /** A fresh transaction with `nLines` line items. */
  def txn(r: java.util.SplittableRandom, client: Int, id: Option[String],
      nLines: Int, d: Defects): Txn = {
    val lines = Vector.tabulate(nLines) { _ =>
      val part = r.nextInt(5000)
      val q0 = JBig.valueOf(1 + r.nextInt(20)).setScale(2)
      val qty = if (r.nextDouble() < d.negQtyLine) q0.negate() else q0
      val price = money(r, 1, 500)
      Line(s"ITEM$part", s"part $part", qty, price,
        qty.multiply(price).setScale(4))
    }
    val lineSum = lines.foldLeft(JBig.ZERO.setScale(2))((a, l) =>
      a.add(l.amount)).setScale(2, java.math.RoundingMode.HALF_UP)
    val amount =
      if (r.nextDouble() < d.naAmount) None
      else if (r.nextDouble() < d.negAmount) Some(lineSum.abs.negate().subtract(JBig.ONE))
      else Some(lineSum)
    val cust = r.nextInt(2000)
    val ts = f"2024-${1 + r.nextInt(12)}%02d-${1 + r.nextInt(28)}%02d " +
      f"${r.nextInt(24)}%02d:${r.nextInt(60)}%02d:${r.nextInt(60)}%02d"
    val ccy0 = Seq("USD", "EUR", "GBP")(r.nextInt(3))
    Txn(client, id.filter(_ => r.nextDouble() >= d.missingId), ts,
      if (r.nextInt(7) == 0) ccy0.toLowerCase else ccy0,
      amount, s"CUST$cust", s"ACC$cust", s"M${cust % 50}", lines)
  }

  /** The same source id sent again later, with new content (a correction). */
  def resend(r: java.util.SplittableRandom, t: Txn, d: Defects): Txn =
    txn(r, t.client, t.id, t.lines.size max 1, d)

  private def jnum(v: JBig): String = v.toPlainString
  private def jstr(s: String): String = "\"" + s + "\""

  def render(t: Txn, fmt: String, dialect: Int): String = fmt match {
    case "JSON" =>
      val (kId, kTs, kCcy, kAmt, kCust, kMer) =
        if (dialect == 0) ("transaction_id", "transaction_ts", "currency",
          "total_amount", "customer_id", "merchant")
        else ("txn_id", "timestamp", "ccy", "amount", "customerId", "payee")
      val lines = t.lines.zipWithIndex.map { case (l, i) =>
        if (dialect == 0)
          // every fourth line omits line_number: the index fallback
          (if (i % 4 == 3) "" else s""""line_number":${(i + 1) * 10},""") +
            s""""line_id":"L${i + 1}","item_id":${jstr(l.item)},""" +
            s""""description":${jstr(l.desc)},"quantity":${jnum(l.qty)},""" +
            s""""unit_price":${jnum(l.price)},"line_amount":${jnum(l.amount)}"""
        else
          s""""sku":${jstr(l.item)},"item_name":${jstr(l.desc)},""" +
            s""""qty":${jnum(l.qty)},"price":${jnum(l.price)},""" +
            s""""amount":${jnum(l.amount)}"""
      }.map("{" + _ + "}").mkString("[", ",", "]")
      val fields = Seq(
        t.id.map(i => s""""$kId":${jstr(i)}"""),
        Some(s""""$kTs":${jstr(t.ts)}"""),
        Some(s""""$kCcy":${jstr(t.ccy)}"""),
        Some(s""""$kAmt":""" + t.amount.map(jnum).getOrElse("\"N/A\"")),
        Some(s""""$kCust":${jstr(t.customer)}"""),
        if (dialect == 0) Some(s""""account_id":${jstr(t.account)}""") else None,
        Some(s""""$kMer":${jstr(t.merchant)}"""),
        Some(s""""line_items":$lines""")).flatten
      fields.mkString("{", ",", "}")
    case "XML" =>
      val attrs = t.id.map(i => s"""transaction_id="$i" """).getOrElse("") +
        s"""transaction_ts="${t.ts}" currency="${t.ccy}" """ +
        s"""total_amount="${t.amount.map(jnum).getOrElse("N/A")}" """ +
        s"""customer_id="${t.customer}" account_id="${t.account}" """ +
        s"""merchant="${t.merchant}""""
      val lines = t.lines.map(l =>
        s"""<line item_id="${l.item}" description="${l.desc}" """ +
          s"""quantity="${jnum(l.qty)}" unit_price="${jnum(l.price)}" """ +
          s"""line_amount="${jnum(l.amount)}"/>""").mkString
      s"<txn $attrs>$lines</txn>"
    case "CSV" =>
      val l = t.lines.head
      Seq(t.id.getOrElse(""), t.ts, t.ccy,
        t.amount.map(jnum).getOrElse("N/A"), t.customer, t.account,
        t.merchant, l.item, l.desc, jnum(l.qty), jnum(l.price),
        jnum(l.amount)).mkString(",")
  }

  /** JSON/XML documents cut short lose their structure; a CSV row cut
    * short keeps its first five fields.
    */
  def truncate(payload: String, fmt: String): String =
    if (fmt == "CSV") payload.split(",", -1).take(5).mkString(",")
    else payload.substring(0, 20)

  def doc(r: java.util.SplittableRandom, t: Txn, fmt: String, dialect: Int,
      d: Defects, cut: Boolean = false): Doc = {
    val tr = r.nextDouble() < d.truncated || cut
    val full = render(t, fmt, dialect)
    Doc(t, fmt, dialect, tr, if (tr) truncate(full, fmt) else full)
  }

  /** One drop: `filesPerClientFormat` files per (client, format) cell
    * holding `fresh` new transactions plus
    * `resent` transactions drawn from `committed`; a share of the fresh
    * ones also land a second time in another format (cross-format
    * duplicate ids). JSON files alternate key dialects, and the drop
    * number flips which files use which. `small` marks a drop too small
    * for the seeded rates to show every shape: it re-sends the first
    * committed ids, as JSON; its fresh transactions go round-robin over
    * CSV, XML, JSON with no cross-format copy; its first CSV row is cut
    * short. Its ids, and so the table buckets it rewrites, are then the
    * same for every seed, and the seed varies only the contents.
    */
  final case class Drop(files: Vector[LandedFile], txns: Vector[Txn])

  def drop(seed: Long, dropNo: Int, fresh: Int, resent: Int,
      committed: Vector[Txn], nextId: Int, filesPerClientFormat: Int,
      firstFileNo: Int, d: Defects, small: Boolean = false): Drop = {
    val r = new java.util.SplittableRandom(seed * 1000003L + dropNo)
    val freshTxns = Vector.tabulate(fresh) { i =>
      val id = nextId + i
      val client = id % Clients
      txn(r, client, Some(s"TXN$id"), 1 + r.nextInt(7), d)
    }
    val picked =
      if (small) committed.filter(_.id.nonEmpty).take(resent)
      else Vector.fill(resent)(committed(r.nextInt(committed.size)))
    val resends = picked.filter(_.id.nonEmpty).map(t => resend(r, t, d))
    // (txn, format) placements: each fresh txn once in a seeded format,
    // a share of them again in a second format; re-sends in any format
    val placed =
      freshTxns.zipWithIndex.flatMap { case (t, i) =>
        val f = if (small) 2 - i % 3 else r.nextInt(3)
        val first = Vector(t -> f)
        if (!small && t.id.nonEmpty && r.nextDouble() < d.crossFormatDup)
          first :+ (t -> ((f + 1 + r.nextInt(2)) % 3)) else first
      } ++ resends.map(t => t -> (if (small) 0 else r.nextInt(3)))
    val byCell = placed.groupBy { case (t, f) => (t.client, f) }
    var fileNo = firstFileNo
    var cut = small
    val files = for {
      f <- Formats.indices.toVector
      c <- 0 until Clients
      cell = byCell.getOrElse((c, f), Vector.empty)
      if cell.nonEmpty
      k <- 0 until filesPerClientFormat
      part = cell.zipWithIndex.collect {
        case (p, i) if i % filesPerClientFormat == k => p._1 }
      if part.nonEmpty
    } yield {
      val fmt = Formats(f)
      val dialect = (k + dropNo) % 2
      val docs = part.zipWithIndex.map { case (t, i) =>
        // CSV is positional: one line item per row
        val tt = if (fmt == "CSV") t.copy(lines = t.lines.take(1)) else t
        val c = cut && fmt == "CSV"
        if (c) cut = false
        doc(r, tt, fmt, dialect, d, c)
      }
      val name = f"client_${c}_d$dropNo%03d_f$fileNo%05d.${ext(fmt)}"
      fileNo += 1
      LandedFile(name, fmt, c, 0L, docs)
    }
    // files land in a seeded order; [[land]] stamps strictly increasing
    // mtimes in that order
    val order = files.map(f => (r.nextLong(), f)).sortBy(_._1).map(_._2)
    Drop(order, freshTxns ++ resends)
  }

  /** Write files into the zone, stamping mtimes from `firstMtimeMs` in
    * 1-second steps in the order given.
    */
  def land(zone: File, files: Vector[LandedFile], firstMtimeMs: Long)
      : Vector[LandedFile] =
    files.zipWithIndex.map { case (f, i) =>
      val dir = dirOf(zone, f.fmt)
      dir.mkdirs()
      val p = new File(dir, f.name)
      val body = f.docs.map(_.payload).mkString("", "\n", "\n")
      Files.write(p.toPath, body.getBytes(StandardCharsets.UTF_8))
      val mt = firstMtimeMs + i * 1000L
      if (!p.setLastModified(mt))
        throw new IllegalStateException(s"cannot stamp mtime of $p")
      f.copy(mtimeMs = mt)
    }
}
