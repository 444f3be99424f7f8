package graft.tickets

import graft.SparkSpec
import graft.sources.DocumentIngest

class TicketsSpec extends SparkSpec {

  private lazy val printers = DocumentIngest.printers(
    DocumentIngest.readDocument(spark,
      getClass.getResource("/printers.json").getPath))

  test("P7: id lookup — int() compare with string fallback") {
    // "7.0" and " 7\n" both live in Company as STRINGS; Python's
    // int("7.0") raises (TonerOrder.py:26-30), so only the
    // whitespace-trimmed integer literal " 7\n" matches id=7 — the
    // float-looking string falls to the (failing) string compare.
    val hits = TicketSearch.byField(printers, "Company_Grouped", "id", "7")
    assert(hits.count() == 1)
    val none = TicketSearch.byField(printers, "Branches_Grouped", "id", "7")
    assert(none.count() == 0)
  }

  test("P7: a NUMERIC id column truncates like Python int(7.9)") {
    import spark.implicits._
    val df = Seq((7.9, "Company_Grouped"), (8.0, "Company_Grouped"))
      .toDF("ID", "group")
    // int(7.9) == int("7") → truncation, not rounding
    assert(TicketSearch.byField(df, "Company_Grouped", "id", "7").count() == 1)
    assert(TicketSearch.byField(df, "Company_Grouped", "id", "8").count() == 1)
  }

  test("P7: serial is case-insensitive, ip exact") {
    assert(TicketSearch.byField(printers, "Branches_Grouped", "serial",
      "e78k011223").count() == 1)
    assert(TicketSearch.byField(printers, "Branches_Grouped", "ip",
      " 10.5.0.12 ").count() == 1)
  }

  test("P8/A7: extract — constant customer, company constants, ordered colors") {
    val b = TicketSearch.extract(
      TicketSearch.byField(printers, "Branches_Grouped", "id", "212"))
      .collect().head
    // customer is the fixed retailer name for BOTH groups (TonerOrder.py:60-67)
    assert(b.getAs[String]("customer") == "סטימצקי")
    assert(b.getAs[String]("branch_id") == "212")
    assert(b.getAs[String]("group") == "Branches_Grouped")
    // first-seen order preserved: cyan, Magenta ink, Y
    assert(b.getSeq[String](b.fieldIndex("colors")).toSeq ==
      Seq("cyan", "Magenta ink", "Y"))

    val c = TicketSearch.extract(
      TicketSearch.byField(printers, "Company_Grouped", "serial", "PHB8C12345"))
      .collect().head
    assert(c.getAs[String]("customer") == "סטימצקי")
    assert(c.getAs[String]("branch_id") == "3") // ID kept, not blanked
    assert(c.getAs[String]("address") == "מתחם לב הארץ 0, ראש העין שדרות הדלקים")
    assert(c.getAs[String]("contact") == "דימה")
    assert(c.getAs[String]("phone") == "0542050462")
  }

  test("F28/A9: subject base+model segment, exact template render") {
    val t = Ticket("סטימצקי", "105", "E78K011223", "MFC-L9570CDW",
      "הרצל 1, תל אביב", "דנה <לוי>", "0540000000", "Branches_Grouped",
      Seq("Black", "Cyan"))
    // subject: '<base> - customer | model [bid]' (TonerOrder.py:152-160)
    assert(TonerOrder.subject(t) ==
      "הזמנת טונרים - סטימצקי | MFC-L9570CDW [105]")
    assert(DrumOrder.subject(t) ==
      "הזמנת דרמים - סטימצקי | MFC-L9570CDW [105]")
    assert(PrinterTechnician.subject(t) ==
      "פתיחת קריאת שירות - סטימצקי | MFC-L9570CDW [105]")
    // blank model drops its segment
    assert(TonerOrder.subject(t.copy(model = "")) ==
      "הזמנת טונרים - סטימצקי [105]")
    // Company group: no branch suffix even with a non-blank id
    assert(!TonerOrder.subject(t.copy(group = "Company_Grouped")).contains("["))

    val items = Seq(TicketItem("Black", 2), TicketItem("Cyan", 1))
    val html = TonerOrder.html(t, items)
    assert(html.startsWith(
      "<div dir=\"rtl\" style=\"font-family:Arial, sans-serif;line-height:1.6;font-size:14px;\">"))
    assert(html.contains("<th colspan=\"2\"")) // header row
    assert(html.contains("הזמנות טונרים"))      // toner title
    assert(html.contains("Black × 2, Cyan × 1")) // multi-item display
    assert(html.contains(">3</td>"))             // qty total A9
    assert(html.contains("דנה &lt;לוי&gt;"))     // escaped contact
    assert(!html.contains("<לוי>"))
    // single item renders the bare color and its own qty
    val one = TonerOrder.html(t, Seq(TicketItem("Black", 2)))
    assert(one.contains(">Black</td>") && one.contains(">2</td>"))
    // drum: empty items → ("", 0)
    val drum = DrumOrder.html(t, Nil)
    assert(drum.contains("סוג דרם") && drum.contains(">0</td>"))
    // tech: remarks + recipient rows
    val tech = PrinterTechnician.html(t, Nil, notes = "a & b", toAddr = "x@y")
    assert(tech.contains("פתיחת קריאה למדפסת"))
    assert(tech.contains("a &amp; b") && tech.contains("x@y"))
    // plugin alias map resolves
    assert(TicketPlugins.byAlias("technician").name == "tech")
  }

  test("subject: null group keeps the [bid] suffix, padded bid renders stripped") {
    val t = Ticket("a&b <x>", "\t12 ", "sn'1", "M\"1", "Ad<dr", "c&c", "05'0",
      null, Nil)
    // fields.get("group","") != 'Company_Grouped' is TRUE for a missing
    // group; str(bid).strip() removes the tab and the space
    assert(TonerOrder.subject(t) == "הזמנת טונרים - a&b <x> | M\"1 [12]")
    assert(DrumOrder.subject(t) == "הזמנת דרמים - a&b <x> | M\"1 [12]")
    assert(PrinterTechnician.subject(t) ==
      "פתיחת קריאת שירות - a&b <x> | M\"1 [12]")
    assert(DrumOrder.subject(t.copy(group = "Company_Grouped")) ==
      "הזמנת דרמים - a&b <x> | M\"1")
    // blank-after-strip bid: no suffix; null customer and model: bare base
    assert(TonerOrder.subject(t.copy(branchId = " \t", customer = null,
      model = null)) == "הזמנת טונרים")
  }

  test("html: escaping in every field, 0/1/3 toner items, empty drum, empty toAddr") {
    val t = Ticket("a&b <x>", "12", "sn'1", "M\"1", "Ad<dr", "c&c", "05'0",
      "Branches_Grouped", Nil)
    def cell(p: TicketPlugin, label: String, v: String, wrap: Boolean = false) =
      p.oracleRowOpen(label, wrap) + v + "</td></tr>"
    def fieldsEscaped(p: TicketPlugin, html: String) = {
      assert(html.startsWith(p.oracleOpen) && html.endsWith("</table></div>"))
      Seq("a&amp;b &lt;x&gt;", "sn&#x27;1", "M&quot;1", "Ad&lt;dr", "c&amp;c",
        "05&#x27;0").foreach(v => assert(html.contains(">" + v + "</td>"), v))
      assert(!html.contains("<x>") && !html.contains("sn'1"))
    }

    val none = TonerOrder.html(t, Nil)
    fieldsEscaped(TonerOrder, none)
    assert(none.contains(cell(TonerOrder, "צבע טונר", "")))
    assert(none.contains(cell(TonerOrder, "כמות טונרים", "0")))
    val one = TonerOrder.html(t, Seq(TicketItem("Black&White", 3)))
    assert(one.contains(cell(TonerOrder, "צבע טונר", "Black&amp;White")))
    assert(one.contains(cell(TonerOrder, "כמות טונרים", "3")))
    val three = TonerOrder.html(t,
      Seq(TicketItem("Black", 2), TicketItem("Cy<an", 1), TicketItem("Yellow", 4)))
    assert(three.contains(cell(TonerOrder, "צבע טונר",
      "Black × 2, Cy&lt;an × 1, Yellow × 4")))
    assert(three.contains(cell(TonerOrder, "כמות טונרים", "7")))
    assert(three.contains(cell(TonerOrder, "כתובת מלאה לאספקת המשלוח", "Ad&lt;dr",
      wrap = true)))

    val drum = DrumOrder.html(t, Nil)
    fieldsEscaped(DrumOrder, drum)
    assert(drum.contains(cell(DrumOrder, "סוג דרם", "")))
    assert(drum.contains(cell(DrumOrder, "כמות דרמים", "0")))
    // drum renders items[0] only
    val drumOne = DrumOrder.html(t, Seq(TicketItem("DR<um>&1", 3), TicketItem("x", 9)))
    assert(drumOne.contains(cell(DrumOrder, "סוג דרם", "DR&lt;um&gt;&amp;1")))
    assert(drumOne.contains(cell(DrumOrder, "כמות דרמים", "3")))

    val notes = "note & \"q\"\nline2"
    val tech = PrinterTechnician.html(t, Nil, notes = notes, toAddr = "")
    fieldsEscaped(PrinterTechnician, tech)
    assert(tech.contains(cell(PrinterTechnician, "הערות",
      "note &amp; &quot;q&quot;\nline2", wrap = true)))
    assert(tech.contains(cell(PrinterTechnician, "נמען", "")))
    // Python `to_addr or ""`: a null recipient renders like an empty one
    assert(PrinterTechnician.html(t, Nil, notes = notes, toAddr = null) == tech)
  }
}
