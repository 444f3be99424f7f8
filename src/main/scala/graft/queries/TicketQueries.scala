package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.tickets.{DrumOrder, PrinterTechnician, Ticket, TicketItem,
  TicketPlugin, TicketSearch, TonerOrder}

/** Driver oracles for the ticket lookup/projection pair (SURVEY.md §2.3
  * P7/P8) — the last reference operators that were spec-verified only.
  * Printers are synthesized from `customer` with adversarial field
  * shapes (padded ids, float-looking id STRINGS that Python's int()
  * rejects, null/blank serial+model fallbacks, null cartridges) and the
  * DuckDB twin hand-derives the reference outcome per shape
  * (TonerOrder.py:26-48 search, :59-82 extract). Both are scan-local
  * point filters/projections — no shuffle beyond the presentation sort. */
object TicketQueries {

  /** The synthesized printers fleet: one row per customer. Padded
    * variants use TAB + NEWLINE (not just spaces) so the engine's
    * Python-strip semantics — str.strip() removes \t\n too — are
    * hash-gated, not only space-trim. */
  private def printers(s: SparkSession, d: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, d).select(
      k.as("pid"),
      when(k % 2 === 0, "Branches_Grouped").otherwise("Company_Grouped")
        .as("group"),
      when(k % 4 === 0, (k % 50).cast("string"))
        .when(k % 4 === 1, concat(lit("\t"), (k % 50).cast("string"), lit("\n")))
        .when(k % 4 === 2, concat((k % 50).cast("string"), lit(".0")))
        .otherwise(concat(lit("B"), (k % 50).cast("string"))).as("ID"),
      when(k % 3 === 0, concat(lit("sn-"), (k % 40).cast("string")))
        .when(k % 3 === 1, concat(lit("\tSN-"), (k % 40).cast("string"), lit("\n")))
        .otherwise(concat(lit("sx"), k.cast("string"))).as("Serial"),
      when(k % 5 === 0, concat(lit("10.0.0."), (k % 30).cast("string")))
        .when(k % 5 === 1, concat(lit("\t10.0.0."), (k % 30).cast("string"), lit("\n")))
        .otherwise(concat(lit("192.168.1."), k.cast("string"))).as("Printer IP"))
  }

  // DuckDB twin of Python str.strip(): RE2 \s = [ \t\n\f\r] (no \x0B,
  // which the synthesis never emits).
  private def strip(e: String): String =
    s"regexp_replace($e, '^\\s+|\\s+$$', '', 'g')"

  private val PrintersSql =
    s"""SELECT c_custkey AS pid,
      |  CASE WHEN c_custkey % 2 = 0 THEN 'Branches_Grouped'
      |       ELSE 'Company_Grouped' END AS "group",
      |  CASE c_custkey % 4
      |    WHEN 0 THEN CAST(c_custkey % 50 AS VARCHAR)
      |    WHEN 1 THEN concat(chr(9), CAST(c_custkey % 50 AS VARCHAR), chr(10))
      |    WHEN 2 THEN concat(CAST(c_custkey % 50 AS VARCHAR), '.0')
      |    ELSE concat('B', CAST(c_custkey % 50 AS VARCHAR)) END AS "ID",
      |  CASE c_custkey % 3
      |    WHEN 0 THEN concat('sn-', CAST(c_custkey % 40 AS VARCHAR))
      |    WHEN 1 THEN concat(chr(9), 'SN-', CAST(c_custkey % 40 AS VARCHAR), chr(10))
      |    ELSE concat('sx', CAST(c_custkey AS VARCHAR)) END AS "Serial",
      |  CASE c_custkey % 5
      |    WHEN 0 THEN concat('10.0.0.', CAST(c_custkey % 30 AS VARCHAR))
      |    WHEN 1 THEN concat(chr(9), '10.0.0.', CAST(c_custkey % 30 AS VARCHAR), chr(10))
      |    ELSE concat('192.168.1.', CAST(c_custkey AS VARCHAR)) END AS "Printer IP"
      |FROM customer""".stripMargin

  /** P7 — four probes through `TicketSearch.byField`, tagged and
    * unioned: an id probe (int() on both sides, so "42" matches and
    * the STRING "42.0" does not), an id2 probe in the Company group
    * whose value 17 is odd-reachable so the \t17\n padded-ID variant
    * (k%4==1 → odd keys) is hash-gated, a case-folded serial probe
    * (hits the \tSN-7\n padded rows), and an exact-stripped ip probe
    * whose value 6 ≡ 1 (mod 5) so only the padded ip variant matches. */
  val p7TicketLookup: QuerySpec = QuerySpec.sql(
    "p7_ticket_lookup",
    s"""WITH p AS ($PrintersSql)
       |SELECT probe, pid, "group", "ID" AS id, "Serial" AS serial,
       |  "Printer IP" AS printer_ip
       |FROM (
       |  SELECT 'id' AS probe, * FROM p
       |  WHERE "group" = 'Branches_Grouped' AND
       |    CASE WHEN regexp_matches(${strip("\"ID\"")}, '^[+-]?[0-9]+$$')
       |         THEN TRY_CAST(${strip("\"ID\"")} AS BIGINT) = 42
       |         ELSE ${strip("\"ID\"")} = '42' END
       |  UNION ALL
       |  SELECT 'id2' AS probe, * FROM p
       |  WHERE "group" = 'Company_Grouped' AND
       |    CASE WHEN regexp_matches(${strip("\"ID\"")}, '^[+-]?[0-9]+$$')
       |         THEN TRY_CAST(${strip("\"ID\"")} AS BIGINT) = 17
       |         ELSE ${strip("\"ID\"")} = '17' END
       |  UNION ALL
       |  SELECT 'serial' AS probe, * FROM p
       |  WHERE "group" = 'Company_Grouped' AND
       |    upper(${strip("\"Serial\"")}) = 'SN-7'
       |  UNION ALL
       |  SELECT 'ip' AS probe, * FROM p
       |  WHERE "group" = 'Branches_Grouped' AND
       |    ${strip("\"Printer IP\"")} = '10.0.0.6'
       |)
       |ORDER BY probe, pid""".stripMargin) { (s, d) =>
    val p = printers(s, d)
    def tag(t: String, found: DataFrame): DataFrame =
      found.select(lit(t).as("probe"), col("pid"), col("group"),
        col("ID").as("id"), col("Serial").as("serial"),
        col("Printer IP").as("printer_ip"))
    tag("id", TicketSearch.byField(p, "Branches_Grouped", "id", "42"))
      .unionByName(tag("id2",
        TicketSearch.byField(p, "Company_Grouped", "id", "17")))
      .unionByName(tag("serial",
        TicketSearch.byField(p, "Company_Grouped", "serial", "sn-7")))
      .unionByName(tag("ip",
        TicketSearch.byField(p, "Branches_Grouped", "ip", "10.0.0.6")))
      .orderBy("probe", "pid")
  }

  /** P8 — full projection through `TicketSearch.extract`: Python-or
    * model fallback (""/null Model falls through to Type), Company
    * constants vs stripped storeInfo fields, null-key "" defaults, and
    * the cartridge walk (strip, drop blanks, str(None)=="None", first-
    * seen dedup) flattened to a comma join for hashing. */
  val p8TicketExtract: QuerySpec = QuerySpec.sql(
    "p8_ticket_extract",
    """WITH e AS (SELECT c_custkey AS pid,
      |  CASE WHEN c_custkey % 2 = 0 THEN 'Branches_Grouped'
      |       ELSE 'Company_Grouped' END AS grp,
      |  CASE c_custkey % 3
      |    WHEN 0 THEN CAST(c_custkey AS VARCHAR)
      |    WHEN 1 THEN concat(' ', CAST(c_custkey AS VARCHAR), ' ')
      |    ELSE NULL END AS id_raw,
      |  CASE WHEN c_custkey % 4 = 0 THEN NULL
      |       ELSE concat(' sn', CAST(c_custkey AS VARCHAR)) END AS serial_raw,
      |  CASE c_custkey % 4
      |    WHEN 0 THEN concat('M-', CAST(c_custkey % 9 AS VARCHAR))
      |    WHEN 3 THEN concat(' M', CAST(c_custkey % 9 AS VARCHAR), ' ')
      |    ELSE CASE WHEN c_custkey % 2 = 0
      |              THEN concat('T-', CAST(c_custkey % 5 AS VARCHAR))
      |              ELSE '' END END AS model_raw,
      |  CASE WHEN c_custkey % 5 = 0 THEN NULL
      |       ELSE concat('Addr ', CAST(c_custkey % 7 AS VARCHAR)) END AS loc_raw,
      |  CASE WHEN c_custkey % 6 = 0 THEN NULL
      |       ELSE concat(' Mgr ', CAST(c_custkey % 11 AS VARCHAR)) END AS mgr_raw,
      |  CASE WHEN c_custkey % 7 = 0 THEN NULL
      |       ELSE concat('05-', CAST(c_custkey % 1000 AS VARCHAR)) END AS phone_raw
      |FROM customer)
      |SELECT pid,
      |  'סטימצקי' AS customer,
      |  trim(coalesce(id_raw, '')) AS branch_id,
      |  trim(coalesce(serial_raw, '')) AS serial,
      |  trim(model_raw) AS model,
      |  CASE WHEN grp = 'Company_Grouped'
      |       THEN 'מתחם לב הארץ 0, ראש העין שדרות הדלקים'
      |       ELSE trim(coalesce(loc_raw, '')) END AS address,
      |  CASE WHEN grp = 'Company_Grouped' THEN 'דימה'
      |       ELSE trim(coalesce(mgr_raw, '')) END AS contact,
      |  CASE WHEN grp = 'Company_Grouped' THEN '0542050462'
      |       ELSE trim(coalesce(phone_raw, '')) END AS phone,
      |  grp AS "group",
      |  CASE pid % 4 WHEN 0 THEN 'Black,Cyan'
      |       WHEN 1 THEN 'None,Yellow' ELSE '' END AS colors
      |FROM e
      |ORDER BY pid""".stripMargin) { (s, d) =>
    val k = col("c_custkey")
    val cart = (c: Column) => struct(c.as("cartridge"))
    val entries = Tables.customer(s, d).select(
      k.as("pid"),
      when(k % 2 === 0, "Branches_Grouped").otherwise("Company_Grouped")
        .as("group"),
      when(k % 3 === 0, k.cast("string"))
        .when(k % 3 === 1, concat(lit(" "), k.cast("string"), lit(" ")))
        .as("ID"),
      when(k % 4 =!= 0, concat(lit(" sn"), k.cast("string"))).as("Serial"),
      when(k % 4 === 0, concat(lit("M-"), (k % 9).cast("string")))
        .when(k % 4 === 3, concat(lit(" M"), (k % 9).cast("string"), lit(" ")))
        .when(k % 4 === 1, lit("")).as("Model"),
      when(k % 2 === 0, concat(lit("T-"), (k % 5).cast("string")))
        .otherwise("").as("Type"),
      struct(
        when(k % 5 =!= 0, concat(lit("Addr "), (k % 7).cast("string")))
          .as("Location"),
        when(k % 6 =!= 0, concat(lit(" Mgr "), (k % 11).cast("string")))
          .as("Manager"),
        when(k % 7 =!= 0, concat(lit("05-"), (k % 1000).cast("string")))
          .as("Phone")).as("storeInfo"),
      when(k % 4 === 0,
        struct(array(cart(lit("Black")), cart(lit(" Black ")), cart(lit("Cyan")))
          .as("cartridges")))
        .when(k % 4 === 1,
          struct(array(cart(lit("")), cart(lit(null).cast("string")),
            cart(lit("Yellow"))).as("cartridges")))
        .when(k % 4 === 2,
          struct(array().cast("array<struct<cartridge:string>>")
            .as("cartridges")))
        .as("printerInfo"))
    TicketSearch.extract(entries, keep = Seq("pid"))
      .select(col("pid"), col("customer"), col("branch_id"), col("serial"),
        col("model"), col("address"), col("contact"), col("phone"),
        col("group"), array_join(col("colors"), ",").as("colors"))
      .orderBy("pid")
  }

  /** One synthesized ticket: the [[Ticket]] fields, parallel item
    * arrays (`labels`/`qtys`) and the tech template's `notes`/`toAddr`. */
  private[queries] final case class TicketFields(pid: Long, customer: String,
      branchId: String, serial: String, model: String, address: String,
      contact: String, phone: String, group: String, labels: Seq[String],
      qtys: Seq[Int], notes: String, toAddr: String)

  /** a9/a9b/a9c render: one ticket per customer row, synthesized from the
    * given columns and rendered by the plugin's own `subject`/`html` —
    * the renderer the helpdesk lookup path calls — in a typed map (no
    * UDF, nothing collected). Output `(pid, subject, html)` by pid. */
  private def render(s: SparkSession, d: String, plugin: TicketPlugin)(
      customer: Column, branchId: Column, serial: Column, model: Column,
      address: Column, contact: Column, phone: Column, group: Column,
      labels: Column = array().cast("array<string>"),
      qtys: Column = array().cast("array<int>"),
      notes: Column = lit(null).cast("string"),
      toAddr: Column = lit(null).cast("string")): DataFrame = {
    import s.implicits._
    Tables.customer(s, d)
      .select(col("c_custkey").as("pid"), customer.as("customer"),
        branchId.as("branchId"), serial.as("serial"), model.as("model"),
        address.as("address"), contact.as("contact"), phone.as("phone"),
        group.as("group"), labels.as("labels"), qtys.as("qtys"),
        notes.as("notes"), toAddr.as("toAddr"))
      .as[TicketFields]
      .map { f =>
        val t = Ticket(f.customer, f.branchId, f.serial, f.model, f.address,
          f.contact, f.phone, f.group, Nil)
        val items = f.labels.zip(f.qtys).map { case (l, q) => TicketItem(l, q) }
        (f.pid, plugin.subject(t), plugin.html(t, items, f.notes, f.toAddr))
      }
      .toDF("pid", "subject", "html")
      .orderBy("pid")
  }

  /** A9 + F28 (real template) — subject + full RTL HTML render through
    * [[render]] with `TonerOrder` (make_subject TonerOrder.py:
    * 152-160, make_html :162-195). The DuckDB twin interpolates the
    * SAME template constants from the plugin object (drift-proof) and
    * hand-derives the escaped fields, the single-vs-multi color string,
    * and the qty total per residue class: k%3==0 → one item (bare qty,
    * bare escaped color), k%3==1 → three items ('label × qty' joined,
    * summed total), k%3==2 → NO items (empty string + 0 total). Subject
    * branches: model "" (falsy) drops its part at k%3==0; the
    * ' [branch_id]' suffix fires only off-Company with non-blank id
    * (k%4==2). Escaping is exercised in customer and labels (& < >). */
  val a9TonerTicket: QuerySpec = {
    def ro(label: String, wrap: Boolean = false) =
      TonerOrder.oracleRowOpen(label, wrap)
    val close = "</td></tr>"
    val sqlText =
      s"""WITH t AS (
         |  SELECT c_custkey AS pid,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'A&amp;B &lt;ltd&gt;'
         |         ELSE 'סטימצקי' END AS cust_esc,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'A&B <ltd>'
         |         ELSE 'סטימצקי' END AS cust_raw,
         |    concat('sn', CAST(c_custkey AS VARCHAR)) AS serial,
         |    CASE WHEN c_custkey % 3 = 0 THEN ''
         |         ELSE concat('M-', CAST(c_custkey % 7 AS VARCHAR)) END AS model,
         |    concat('Addr ', CAST(c_custkey % 11 AS VARCHAR)) AS address,
         |    concat('05', CAST(c_custkey % 100 AS VARCHAR)) AS phone,
         |    CASE WHEN c_custkey % 2 = 0 THEN 'Branches_Grouped'
         |         ELSE 'Company_Grouped' END AS grp,
         |    CASE WHEN c_custkey % 4 = 0 THEN ''
         |         ELSE CAST(c_custkey % 50 AS VARCHAR) END AS bid,
         |    CASE c_custkey % 3
         |      WHEN 0 THEN 'Black&amp;White'
         |      WHEN 1 THEN concat('Black × ', CAST(c_custkey % 4 + 1 AS VARCHAR),
         |                         ', Cyan × 2, Yellow&lt;X&gt; × 1')
         |      ELSE '' END AS color_str,
         |    CASE c_custkey % 3
         |      WHEN 0 THEN c_custkey % 5 + 1
         |      WHEN 1 THEN c_custkey % 4 + 4
         |      ELSE 0 END AS total
         |  FROM customer
         |)
         |SELECT pid,
         |  concat('הזמנת טונרים - ', cust_raw,
         |    CASE WHEN model <> '' THEN concat(' | ', model) ELSE '' END,
         |    CASE WHEN grp <> 'Company_Grouped' AND bid <> ''
         |         THEN concat(' [', bid, ']') ELSE '' END) AS subject,
         |  concat('${TonerOrder.oracleOpen}${ro("שם הלקוח")}', cust_esc,
         |    '$close${ro("מספר סידורי")}', serial,
         |    '$close${ro("דגם המכשיר")}', model,
         |    '$close${ro("צבע טונר")}', color_str,
         |    '$close${ro("כמות טונרים")}', CAST(total AS VARCHAR),
         |    '$close${ro("כתובת מלאה לאספקת המשלוח", wrap = true)}', address,
         |    '$close${ro("שם איש קשר")}Mgr$close${ro("מספר טלפון נייד")}', phone,
         |    '$close</table></div>') AS html
         |FROM t
         |ORDER BY pid""".stripMargin
    QuerySpec.sql("a9_toner_ticket", sqlText) { (s, d) =>
      val k = col("c_custkey")
      val customer = when(k % 5 === 0, lit("A&B <ltd>")).otherwise(lit("סטימצקי"))
      val serial = concat(lit("sn"), k.cast("string"))
      val model = when(k % 3 === 0, lit(""))
        .otherwise(concat(lit("M-"), (k % 7).cast("string")))
      val address = concat(lit("Addr "), (k % 11).cast("string"))
      val phone = concat(lit("05"), (k % 100).cast("string"))
      val group = when(k % 2 === 0, "Branches_Grouped")
        .otherwise("Company_Grouped")
      val branchId = when(k % 4 === 0, lit(""))
        .otherwise((k % 50).cast("string"))
      val labels = when(k % 3 === 0, array(lit("Black&White")))
        .when(k % 3 === 1, array(lit("Black"), lit("Cyan"), lit("Yellow<X>")))
        .otherwise(array().cast("array<string>"))
      val qtys = when(k % 3 === 0, array((k % 5 + 1).cast("int")))
        .when(k % 3 === 1, array((k % 4 + 1).cast("int"), lit(2), lit(1)))
        .otherwise(array().cast("array<int>"))
      render(s, d, TonerOrder)(customer, branchId, serial, model, address,
        lit("Mgr"), phone, group, labels, qtys)
    }
  }

  /** A9b — Drum ticket render through [[render]] with `DrumOrder`
    * (make_subject DrumOrder.py:76-84, make_html :86-132). Beyond a9's
    * shapes this one hash-gates the two branches a9's synthesis never
    * reaches: a NULL group (k%4==2) — Python's fields.get("group","")
    * != 'Company_Grouped' is TRUE for a missing group, so the
    * ' [branch_id]' suffix must still fire — and a tab/space-PADDED
    * branch_id (k%3==1) whose suffix renders the STRIPPED id. Drum item
    * semantics: items[0] only; k%2==1 → no items → ('', 0). */
  val a9bDrumTicket: QuerySpec = {
    def ro(label: String, wrap: Boolean = false) =
      DrumOrder.oracleRowOpen(label, wrap)
    val close = "</td></tr>"
    val sqlText =
      s"""WITH t AS (
         |  SELECT c_custkey AS pid,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'A&amp;B &lt;ltd&gt;'
         |         ELSE 'סטימצקי' END AS cust_esc,
         |    CASE WHEN c_custkey % 5 = 0 THEN 'A&B <ltd>'
         |         ELSE 'סטימצקי' END AS cust_raw,
         |    concat('dsn', CAST(c_custkey AS VARCHAR)) AS serial,
         |    CASE WHEN c_custkey % 3 = 0 THEN ''
         |         ELSE concat('LJ-', CAST(c_custkey % 6 AS VARCHAR)) END AS model,
         |    concat('Addr ', CAST(c_custkey % 11 AS VARCHAR)) AS address,
         |    concat('Mgr', CAST(c_custkey % 4 AS VARCHAR)) AS contact,
         |    concat('05', CAST(c_custkey % 100 AS VARCHAR)) AS phone,
         |    CASE c_custkey % 4 WHEN 1 THEN 'Company_Grouped'
         |         WHEN 2 THEN NULL ELSE 'Branches_Grouped' END AS grp,
         |    CASE c_custkey % 3 WHEN 0 THEN ''
         |         ELSE CAST(c_custkey % 50 AS VARCHAR) END AS bid_stripped,
         |    CASE WHEN c_custkey % 2 = 0
         |         THEN concat('DR&lt;', CAST(c_custkey % 3 AS VARCHAR),
         |                     '&gt;&amp;co')
         |         ELSE '' END AS type_esc,
         |    CASE WHEN c_custkey % 2 = 0 THEN c_custkey % 5 + 1
         |         ELSE 0 END AS total
         |  FROM customer
         |)
         |SELECT pid,
         |  concat('הזמנת דרמים - ', cust_raw,
         |    CASE WHEN model <> '' THEN concat(' | ', model) ELSE '' END,
         |    CASE WHEN coalesce(grp, '') <> 'Company_Grouped'
         |          AND bid_stripped <> ''
         |         THEN concat(' [', bid_stripped, ']') ELSE '' END) AS subject,
         |  concat('${DrumOrder.oracleOpen}${ro("שם הלקוח")}', cust_esc,
         |    '$close${ro("מספר סידורי")}', serial,
         |    '$close${ro("דגם המכשיר")}', model,
         |    '$close${ro("סוג דרם")}', type_esc,
         |    '$close${ro("כמות דרמים")}', CAST(total AS VARCHAR),
         |    '$close${ro("כתובת מלאה לאספקת המשלוח", wrap = true)}', address,
         |    '$close${ro("שם איש קשר")}', contact,
         |    '$close${ro("מספר טלפון נייד")}', phone,
         |    '$close</table></div>') AS html
         |FROM t
         |ORDER BY pid""".stripMargin
    QuerySpec.sql("a9b_drum_ticket", sqlText) { (s, d) =>
      val k = col("c_custkey")
      val customer = when(k % 5 === 0, lit("A&B <ltd>")).otherwise(lit("סטימצקי"))
      val serial = concat(lit("dsn"), k.cast("string"))
      val model = when(k % 3 === 0, lit(""))
        .otherwise(concat(lit("LJ-"), (k % 6).cast("string")))
      val address = concat(lit("Addr "), (k % 11).cast("string"))
      val contact = concat(lit("Mgr"), (k % 4).cast("string"))
      val phone = concat(lit("05"), (k % 100).cast("string"))
      val group = when(k % 4 === 1, lit("Company_Grouped"))
        .when(k % 4 === 2, lit(null).cast("string"))
        .otherwise(lit("Branches_Grouped"))
      // k%3==1 arrives TAB/space-padded: the rendered suffix must strip
      // it (str(...).strip() — DrumOrder.py:81)
      val branchId = when(k % 3 === 0, lit(""))
        .when(k % 3 === 1,
          concat(lit("\t"), (k % 50).cast("string"), lit(" ")))
        .otherwise((k % 50).cast("string"))
      val labels = when(k % 2 === 0,
        array(concat(lit("DR<"), (k % 3).cast("string"), lit(">&co"))))
        .otherwise(array().cast("array<string>"))
      val qtys = when(k % 2 === 0, array((k % 5 + 1).cast("int")))
        .otherwise(array().cast("array<int>"))
      render(s, d, DrumOrder)(customer, branchId, serial, model, address,
        contact, phone, group, labels, qtys)
    }
  }

  /** A9c — Technician ticket render through [[render]] with
    * `PrinterTechnician` (make_subject PrinterTechnician.py:73-81,
    * make_html :83-120): no items; a pre-wrap remarks row whose notes
    * carry a newline plus & and double-quote escapes, and a recipient
    * row where a NULL to_addr renders '' (Python `to_addr or ""`).
    * Subject base differs from the table title; null-group and
    * padded-bid shapes are gated exactly as in a9b. */
  val a9cTechTicket: QuerySpec = {
    def ro(label: String, wrap: Boolean = false) =
      PrinterTechnician.oracleRowOpen(label, wrap)
    val close = "</td></tr>"
    val sqlText =
      s"""WITH t AS (
         |  SELECT c_custkey AS pid,
         |    concat('tsn', CAST(c_custkey AS VARCHAR)) AS serial,
         |    CASE WHEN c_custkey % 3 = 0 THEN ''
         |         ELSE concat('MFP-', CAST(c_custkey % 6 AS VARCHAR)) END AS model,
         |    concat('Addr ', CAST(c_custkey % 11 AS VARCHAR)) AS address,
         |    concat('Mgr', CAST(c_custkey % 4 AS VARCHAR)) AS contact,
         |    concat('05', CAST(c_custkey % 100 AS VARCHAR)) AS phone,
         |    CASE c_custkey % 4 WHEN 1 THEN 'Company_Grouped'
         |         WHEN 2 THEN NULL ELSE 'Branches_Grouped' END AS grp,
         |    CASE c_custkey % 3 WHEN 0 THEN ''
         |         ELSE CAST(c_custkey % 50 AS VARCHAR) END AS bid_stripped,
         |    concat('jam &amp; &quot;grind&quot;', chr(10), 'line',
         |           CAST(c_custkey % 7 AS VARCHAR)) AS notes_esc,
         |    CASE WHEN c_custkey % 2 = 0 THEN 'sysmoked@one1.co.il'
         |         ELSE '' END AS to_esc
         |  FROM customer
         |)
         |SELECT pid,
         |  concat('פתיחת קריאת שירות - סטימצקי',
         |    CASE WHEN model <> '' THEN concat(' | ', model) ELSE '' END,
         |    CASE WHEN coalesce(grp, '') <> 'Company_Grouped'
         |          AND bid_stripped <> ''
         |         THEN concat(' [', bid_stripped, ']') ELSE '' END) AS subject,
         |  concat('${PrinterTechnician.oracleOpen}${ro("שם הלקוח")}סטימצקי',
         |    '$close${ro("מספר סידורי")}', serial,
         |    '$close${ro("דגם המכשיר")}', model,
         |    '$close${ro("כתובת")}', address,
         |    '$close${ro("איש קשר")}', contact,
         |    '$close${ro("טלפון")}', phone,
         |    '$close${ro("הערות", wrap = true)}', notes_esc,
         |    '$close${ro("נמען")}', to_esc,
         |    '$close</table></div>') AS html
         |FROM t
         |ORDER BY pid""".stripMargin
    QuerySpec.sql("a9c_tech_ticket", sqlText) { (s, d) =>
      val k = col("c_custkey")
      val customer = lit("סטימצקי")
      val serial = concat(lit("tsn"), k.cast("string"))
      val model = when(k % 3 === 0, lit(""))
        .otherwise(concat(lit("MFP-"), (k % 6).cast("string")))
      val address = concat(lit("Addr "), (k % 11).cast("string"))
      val contact = concat(lit("Mgr"), (k % 4).cast("string"))
      val phone = concat(lit("05"), (k % 100).cast("string"))
      val group = when(k % 4 === 1, lit("Company_Grouped"))
        .when(k % 4 === 2, lit(null).cast("string"))
        .otherwise(lit("Branches_Grouped"))
      val branchId = when(k % 3 === 0, lit(""))
        .when(k % 3 === 1,
          concat(lit("\t"), (k % 50).cast("string"), lit(" ")))
        .otherwise((k % 50).cast("string"))
      val notes = concat(lit("jam & \"grind\"\n"), lit("line"),
        (k % 7).cast("string"))
      val toAddr = when(k % 2 === 0, lit("sysmoked@one1.co.il"))
        .otherwise(lit(null).cast("string"))
      render(s, d, PrinterTechnician)(customer, branchId, serial, model,
        address, contact, phone, group, notes = notes, toAddr = toAddr)
    }
  }

  val all: Seq[QuerySpec] = Seq(p7TicketLookup, p8TicketExtract, a9TonerTicket,
    a9bDrumTicket, a9cTechTicket)
}
