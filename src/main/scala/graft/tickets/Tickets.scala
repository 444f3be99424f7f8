package graft.tickets

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.Normalize.pyStrip

/** Ticketing (SURVEY.md §3.3): point lookup → projection → pure HTML
  * render. The reference's three ticket plugins share search/extract
  * and differ in base subject, collected items, and template
  * (plugins/openticket/TonerOrder.py, DrumOrder.py,
  * PrinterTechnician.py — extract is identical across the trio,
  * TonerOrder.py:59-82).
  *
  * Engine/app split (SURVEY.md §7.4 hard part 6): search + extract +
  * render are pure and live here; prompting and mail delivery are app
  * shell, out of engine scope. Subjects and HTML are deterministic
  * reference outputs and reproduce the reference templates exactly
  * (TonerOrder.py:152-195; DrumOrder.py:89-132;
  * PrinterTechnician.py:82-120).
  */
final case class Ticket(
    customer: String, branchId: String, serial: String, model: String,
    address: String, contact: String, phone: String, group: String,
    colors: Seq[String])

/** Toner items carry a color, drum items a drum type — the reference
  * stores both under items[i] with one label key; `label` is that key's
  * value. */
final case class TicketItem(label: String, qty: Int)

object TicketSearch {

  /** Python `int(x)` on a string: succeeds only for an integer literal
    * (optionally signed, whitespace-trimmed) — "7.0" RAISES. On a
    * numeric value it truncates toward zero. Null when unparseable. */
  private def pyInt(c: Column, numericSource: Boolean): Column =
    if (numericSource) c.cast("long")
    else {
      val t = pyStrip(c.cast("string"))
      when(t.rlike("^[+-]?[0-9]+$"), t.try_cast("long"))
    }

  /** P7 — field-equality lookup within a chosen group
    * (TonerOrder.py:26-48): `id` compares via `int()` on BOTH sides
    * with a trimmed-string fallback when either raises — so "7.0"
    * stored as a STRING does not match "7" (int("7.0") raises → string
    * compare), but 7.0 stored as a NUMBER does (int(7.0) truncates);
    * the column's dtype carries the JSON number/string distinction.
    * `serial` compares case-insensitively, `ip` exactly (trimmed).
    * Nulls read as the reference's missing-key default "". */
  def byField(printers: DataFrame, group: String, field: String,
      value: String): DataFrame = {
    val v = lit(value)
    def s(name: String): Column =
      pyStrip(coalesce(col(name).cast("string"), lit("")))
    val cond: Column = field match {
      case "id" =>
        val numericId = printers.schema.fields.find(_.name == "ID")
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])
        val idInt = pyInt(col("ID"), numericId)
        val vInt = pyInt(v, numericSource = false)
        when(idInt.isNotNull && vInt.isNotNull, idInt === vInt)
          .otherwise(s("ID") === pyStrip(v))
      case "serial" => upper(s("Serial")) === upper(pyStrip(v))
      case "ip"     => s("Printer IP") === pyStrip(v)
      case other    => throw new IllegalArgumentException(s"field: $other")
    }
    printers.where(col("group") === group && cond)
  }

  /** Python `str(x or "")` + strip: null → "", everything else via
    * string cast then full-whitespace strip. */
  private def strStrip(c: Column): Column =
    pyStrip(coalesce(c.cast("string"), lit("")))

  /** P8 + A7 — projection to ticket fields (TonerOrder.py:59-82):
    * customer is the constant "סטימצקי" for BOTH groups; the Company
    * group carries fixed address/contact/phone; branch_id/serial are
    * stripped strings ("" when absent); model = first TRUTHY of
    * Model/Type then strip (Python `or` semantics — empty string falls
    * through, blank-after-strip does not); colors = first-seen-ordered
    * distinct of stripped non-empty cartridge names (:50-57). */
  def extract(found: DataFrame, keep: Seq[String] = Nil): DataFrame = {
    val isCompany = col("group") === "Company_Grouped"
    def truthy(c: Column): Column =
      when(c.isNotNull && c.cast("string") =!= "", c.cast("string"))
    val modelRaw =
      if (found.columns.contains("Model"))
        coalesce(truthy(col("Model")), truthy(col("Type")), lit(""))
      else coalesce(truthy(col("Type")), lit(""))
    val si = if (found.columns.contains("storeInfo")) col("storeInfo")
             else lit(null)
    // str(item.get("cartridge","")).strip(); skip falsy; first-seen dedup.
    // A null cartridge value is Python None → str(None) == "None".
    val colorNames = transform(
      col("printerInfo").getField("cartridges"),
      c => coalesce(pyStrip(c.getField("cartridge").cast("string")),
        lit("None")))
    found.select(keep.map(col) ++ Seq(
      lit("סטימצקי").as("customer"),
      strStrip(col("ID")).as("branch_id"),
      strStrip(col("Serial")).as("serial"),
      pyStrip(modelRaw).as("model"),
      when(isCompany, lit("מתחם לב הארץ 0, ראש העין שדרות הדלקים"))
        .otherwise(strStrip(si.getField("Location"))).as("address"),
      when(isCompany, lit("דימה"))
        .otherwise(strStrip(si.getField("Manager"))).as("contact"),
      when(isCompany, lit("0542050462"))
        .otherwise(strStrip(si.getField("Phone"))).as("phone"),
      col("group"),
      coalesce(array_distinct(filter(colorNames, c => c =!= "")), array())
        .as("colors")): _*)
  }

  def toTicket(r: Row): Ticket = Ticket(
    r.getAs[String]("customer"), r.getAs[String]("branch_id"),
    r.getAs[String]("serial"), r.getAs[String]("model"),
    r.getAs[String]("address"), r.getAs[String]("contact"),
    r.getAs[String]("phone"), r.getAs[String]("group"),
    r.getSeq[String](r.fieldIndex("colors")).toSeq)
}

/** One ticket family: subject + HTML (F28). Serializable so a plugin
  * can render inside a Spark task (TicketQueries' typed map). */
trait TicketPlugin extends Serializable {
  def name: String

  /** The plugin's fixed subject base string. */
  protected def subjectBase: String

  /** make_subject (TonerOrder.py:152-160, identical in the other two):
    * '<base> - customer | model' keeping only truthy parts, plus a
    * ' [branch_id]' suffix for non-Company groups with a non-blank id. */
  def subject(t: Ticket): String = {
    val parts = Seq(t.customer, t.model).filter(p => p != null && p.nonEmpty)
    val s = if (parts.nonEmpty) s"$subjectBase - " + parts.mkString(" | ")
            else subjectBase
    val bid = Option(t.branchId).getOrElse("").trim
    if (t.group != "Company_Grouped" && bid.nonEmpty) s"$s [$bid]" else s
  }

  def html(t: Ticket, items: Seq[TicketItem], notes: String = "",
      toAddr: String = ""): String

  /** html.escape equivalent (quote=True): & first, then < > " '. */
  protected def esc(s: String): String =
    Option(s).getOrElse("").replace("&", "&amp;").replace("<", "&lt;")
      .replace(">", "&gt;").replace("\"", "&quot;").replace("'", "&#x27;")

  // Shared inline styles (verbatim template constants in all three
  // reference plugins; tech narrows the label/table widths).
  protected val tdValue = "padding:10px 12px;border:1px solid #ccc;"
  protected val thStyle =
    "padding:12px;border:1px solid #ccc;font-size:18px;text-align:center;font-weight:800;"
  protected val wrapStyle = "white-space:pre-wrap;word-wrap:break-word;"

  /** Per-plugin table-header title — NOT always subjectBase (tech's
    * header reads 'פתיחת קריאה למדפסת' while its subject base is
    * 'פתיחת קריאת שירות', PrinterTechnician.py:82,107). */
  protected def htmlTitle: String
  protected def tdLabel: String
  protected def tableStyle: String

  protected def tableOpen(tableStyle: String): String =
    "<div dir=\"rtl\" style=\"font-family:Arial, sans-serif;line-height:1.6;font-size:14px;\">" +
      s"""<table style="$tableStyle" role="presentation">"""

  protected def row(tdLabel: String, label: String, value: String,
      valueStyleSuffix: String = ""): String =
    s"""<tr><td style="$tdLabel">$label</td><td style="$tdValue$valueStyleSuffix">$value</td></tr>"""

  /** Fixed template pieces for DuckDB-oracle interpolation: hash parity
    * is bit-exact only when the twin SQL carries the SAME literal
    * skeleton, so the oracle builder reads these from here, never
    * retypes. Also the opening of every [[html]] render. */
  private[graft] def oracleOpen: String =
    tableOpen(tableStyle) +
      s"""<tr><th colspan="2" style="$thStyle">$htmlTitle</th></tr>"""
  private[graft] def oracleRowOpen(label: String, wrap: Boolean = false): String =
    s"""<tr><td style="$tdLabel">$label</td><td style="$tdValue${if (wrap) wrapStyle else ""}">"""

  /** A9 — Σ qty (TonerOrder.py:170-175). */
  protected def qtyTotal(items: Seq[TicketItem]): Int = items.map(_.qty).sum
}

/** Wide-table order plugins (toner/drum) share layout constants. */
sealed trait OrderPlugin extends TicketPlugin {
  protected val tdLabel =
    "padding:10px 12px;border:1px solid #ccc;font-weight:600;width:260px;"
  protected val tableStyle =
    "border-collapse:collapse;width:100%;max-width:900px;mso-table-lspace:0pt;mso-table-rspace:0pt;"
}

object TonerOrder extends OrderPlugin {
  val name = "toner"
  protected val subjectBase = "הזמנת טונרים"
  protected val htmlTitle = "הזמנות טונרים"

  /** TonerOrder.py:162-195: single item renders the bare color; multi
    * renders 'color × qty' joined by ', '; totals summed. */
  def html(t: Ticket, items: Seq[TicketItem], notes: String = "",
      toAddr: String = ""): String = {
    val (colorStr, total) =
      if (items.length == 1) (esc(items.head.label), items.head.qty)
      else (items.map(i => s"${esc(i.label)} × ${i.qty}").mkString(", "),
        qtyTotal(items))
    oracleOpen +
      row(tdLabel, "שם הלקוח", esc(t.customer)) +
      row(tdLabel, "מספר סידורי", esc(t.serial)) +
      row(tdLabel, "דגם המכשיר", esc(t.model)) +
      row(tdLabel, "צבע טונר", colorStr) +
      row(tdLabel, "כמות טונרים", total.toString) +
      row(tdLabel, "כתובת מלאה לאספקת המשלוח", esc(t.address), wrapStyle) +
      row(tdLabel, "שם איש קשר", esc(t.contact)) +
      row(tdLabel, "מספר טלפון נייד", esc(t.phone)) +
      "</table></div>"
  }
}

object DrumOrder extends OrderPlugin {
  val name = "drum"
  protected val subjectBase = "הזמנת דרמים"
  protected val htmlTitle = "הזמנת דרמים"

  /** DrumOrder.py:99-132: single-item drum type + qty; empty → ("", 0). */
  def html(t: Ticket, items: Seq[TicketItem], notes: String = "",
      toAddr: String = ""): String = {
    val (typeStr, total) =
      if (items.nonEmpty) (esc(items.head.label), items.head.qty) else ("", 0)
    oracleOpen +
      row(tdLabel, "שם הלקוח", esc(t.customer)) +
      row(tdLabel, "מספר סידורי", esc(t.serial)) +
      row(tdLabel, "דגם המכשיר", esc(t.model)) +
      row(tdLabel, "סוג דרם", typeStr) +
      row(tdLabel, "כמות דרמים", total.toString) +
      row(tdLabel, "כתובת מלאה לאספקת המשלוח", esc(t.address), wrapStyle) +
      row(tdLabel, "שם איש קשר", esc(t.contact)) +
      row(tdLabel, "מספר טלפון נייד", esc(t.phone)) +
      "</table></div>"
  }
}

object PrinterTechnician extends TicketPlugin {
  val name = "tech"
  protected val subjectBase = "פתיחת קריאת שירות"
  protected val htmlTitle = "פתיחת קריאה למדפסת"
  protected val tdLabel =
    "padding:10px 12px;border:1px solid #ccc;font-weight:600;width:200px;"
  protected val tableStyle =
    "border-collapse:collapse;width:100%;max-width:780px;mso-table-lspace:0pt;mso-table-rspace:0pt;"

  /** PrinterTechnician.py:92-120: no items — remarks + recipient rows. */
  def html(t: Ticket, items: Seq[TicketItem], notes: String = "",
      toAddr: String = ""): String =
    oracleOpen +
      row(tdLabel, "שם הלקוח", esc(t.customer)) +
      row(tdLabel, "מספר סידורי", esc(t.serial)) +
      row(tdLabel, "דגם המכשיר", esc(t.model)) +
      row(tdLabel, "כתובת", esc(t.address)) +
      row(tdLabel, "איש קשר", esc(t.contact)) +
      row(tdLabel, "טלפון", esc(t.phone)) +
      row(tdLabel, "הערות", esc(notes), wrapStyle) +
      row(tdLabel, "נמען", esc(toAddr)) +
      "</table></div>"
}

object TicketPlugins {
  /** Alias map (core/openticket/plugins.py:7-36). */
  val byAlias: Map[String, TicketPlugin] = Map(
    "toner" -> TonerOrder, "drum" -> DrumOrder, "tech" -> PrinterTechnician,
    "technician" -> PrinterTechnician)
}
