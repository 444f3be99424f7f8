package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** SNMP payload → cartridges: the reference's `get_snmp_toner` pipeline
  * (adapters/snmp_toner.py:90-138) over walk rows `(ip, oid, value)` —
  * SURVEY.md §2 A1 (row reshape), J4 (colorant lookup), W3 (row order),
  * F9/F10/F11/F12/F13 (percent/format/color/text/OID).
  *
  * Faithful layout (snmp_toner.py:6-14):
  *  - supplies OID = …43.11.1.1.{col}.{dev}.{rowIdx} — col at marker+4,
  *    rowIdx at marker+6 (:36-45); columns 2=marker-idx 3=colorant-idx
  *    5=type 6=description 7=unit 8=max 9=level are table VALUES,
  *    including the row's marker/colorant link;
  *  - colorant OID = …43.12.1.1.4.{dev}.{marker}.{color} with dev
  *    required to be "1" (:47-59);
  *  - lookup defaults: marker None-or-0 → 1, colorant None → 0
  *    (`r.get(col) or default`, :128-129);
  *  - toner-type filter ∈ {3,5,6,10,21} (:109-110), rows in ascending
  *    SNMP row order (:124), text fields through `_to_text` (F12).
  *
  * Every step is keyed by device, as in the reference's per-printer
  * loop, so the plan has one shuffle: each walk row is parsed once (a
  * codegen'd projection), one `groupBy(ip)` collects the device's
  * supplies cells and colorant rows, and array functions build its
  * cartridges. Higher-order functions are interpreted, so the lambdas
  * compare only the integers parsed before the shuffle.
  */
object SnmpPayload {

  val SuppliesBase = "1.3.6.1.2.1.43.11.1.1"
  val ColorantBase = "1.3.6.1.2.1.43.12.1.1.4"

  /** Toner-ish supply types kept by the reference (snmp_toner.py:13). */
  val TonerTypes: Seq[Int] = Seq(3, 5, 6, 10, 21)

  /** Full pipeline, one pass per device: supplies rows (A1; a column's
    * value is its first non-null cell) → type filter → colorant lookup
    * (J4 with the reference's `or`-defaults: marker 0/None→1, colorant
    * None→0; a key walked several times takes its last colorant row,
    * none → the description's color) → percent
    * (F9/F10) + friendly color (F11) → per-device cartridge array in
    * ascending SNMP row order (W3). Devices with no toner row are absent. */
  def cartridges(walk: DataFrame): DataFrame = {
    val at = Normalize.oidColRow(col("oid"))
    // the 43.12 colorant parse: its offsets differ from F13's supplies marker
    val parts = split(col("oid"), "\\.")
    val i = array_position(parts, lit("43"))
    def p(off: Int): Column = try_element_at(parts, (i + off).cast("int"))
    val perDevice = walk
      .select(col("ip"),
        when(at.isNotNull && col("value").isNotNull,
          struct(at("row").as("row"), at("col").as("col"), col("value"))).as("cell"),
        // null-ip rows share one group without being one device: no colorant lookup
        when(col("ip").isNotNull && i > 0 && p(1) === "12" && p(4) === "4" && p(5) === "1",
          struct(p(6).try_cast("int").as("marker"), p(7).try_cast("int").as("colorant_idx"),
            Normalize.toText(col("value")).as("colorant_name"))).as("colorant"))
      .groupBy("ip")
      .agg(collect_list("cell").as("cells"), collect_list("colorant").as("colorants"))

    val cells = col("cells")
    def cell(row: Column, colId: Int): Column =
      get(filter(cells, c => c("row") <=> row && c("col") === colId), lit(0))("value")
    val supplies = transform(array_distinct(transform(cells, _("row"))), r => struct(
      r.as("rowIdx"),
      cell(r, 2).try_cast("int").as("marker_idx"),
      cell(r, 3).try_cast("int").as("colorant_idx"),
      cell(r, 5).try_cast("int").as("supply_type"),
      Normalize.toText(cell(r, 6)).as("description"),
      cell(r, 7).try_cast("int").as("unit"),
      cell(r, 8).try_cast("long").as("max_capacity"),
      cell(r, 9).try_cast("long").as("level")))
    val toners = filter(supplies, s => s("supply_type").isin(TonerTypes: _*))
    val rows = transform(toners, s => {
      // Python `x or default` treats 0 AND None as falsy — marker 0 → 1.
      val markerKey = when(s("marker_idx").isNull || s("marker_idx") === 0, 1)
        .otherwise(s("marker_idx"))
      val matches = filter(col("colorants"), c =>
        c("marker") === markerKey && c("colorant_idx") === coalesce(s("colorant_idx"), lit(0)))
      // the reference's colorant dict keeps one name per key, the last walked
      val name = try_element_at(matches, lit(-1))("colorant_name")
      val pct = Normalize.pctWithSymbol(Normalize.computePercent(
        s("unit"), s("level"), s("max_capacity")))
      struct(s("rowIdx").as("rowIdx"),
        Normalize.friendlyColor(name, s("description")).as("cartridge"),
        pct.as("remaining_percent"))
    })
    perDevice
      .select(col("ip"), array_sort(rows).as("ordered"))
      .where(size(col("ordered")) > 0)
      .select(col("ip"),
        transform(col("ordered"),
          x => struct(x.getField("cartridge").as("cartridge"),
            x.getField("remaining_percent").as("remaining_percent")))
          .as("cartridges"))
  }

  // ---- toner-type codes (adapters/toner_type_snmp.py:70-107) ----

  /** `_friendly_color_from_text` (toner_type_snmp.py:41-53) — note the
    * Hebrew aliases differ from snmp_toner's F11 (ציאן/מג here vs
    * כחול/אדום there); no fallback, null when nothing matches. */
  def tonerColorFromText(c: Column): Column = {
    val t = lower(coalesce(c, lit("")))
    when(t === "", lit(null).cast("string"))
      .when(t.contains("black") || t.contains("שחור"), "Black")
      .when(t.contains("cyan") || t.contains("ציאן"), "Cyan")
      .when(t.contains("magenta") || t.contains("מג"), "Magenta")
      .when(t.contains("yellow") || t.contains("צהוב"), "Yellow")
      .otherwise(lit(null).cast("string"))
  }

  /** `_extract_code` (toner_type_snmp.py:55-67): parenthesized token
    * wins; else the token after a case-insensitive "HP" unless it is
    * exactly ddDV (case-sensitive reject → falls through); else the
    * LAST generic token of the UPPERCASED text. */
  def extractTonerCode(desc: Column): Column = {
    val paren = regexp_extract(desc, "\\(([A-Z0-9\\-]{3,})\\)", 1)
    val hp = regexp_extract(desc, "(?i)\\bHP\\b\\W*([A-Z0-9\\-]{3,})", 1)
    val gens = regexp_extract_all(upper(desc),
      lit("\\b([A-Z][A-Z0-9\\-]{2,})\\b"), lit(1))
    val genLast = when(size(gens) > 0, get(gens, size(gens) - 1))
    when(length(paren) > 0, paren)
      .when(length(hp) > 0 && !hp.rlike("^\\d{3}V$"), hp)
      .otherwise(genLast)
  }

  /** A8 — `get_snmp_toner_types` tail (toner_type_snmp.py:85-107):
    * toner-typed rows whose desc mentions "hp", (color, code) pairs
    * deduped, sorted by fixed color rank then code; one codes list per
    * device. Input: rows with `ip`, `supply_type` (int) and
    * `description` (string). */
  def tonerTypeCodes(supplies: DataFrame): DataFrame = {
    val colorRank = Map("Black" -> 0, "Cyan" -> 1, "Magenta" -> 2, "Yellow" -> 3)
    val desc = coalesce(col("description"), lit(""))
    val color = tonerColorFromText(desc)
    val code = extractTonerCode(desc)
    supplies
      .where(col("supply_type").isin(TonerTypes: _*) &&
        length(desc) > 0 && lower(desc).contains("hp"))
      .select(col("ip"), color.as("color"), code.as("code"))
      .where(col("color").isNotNull && col("code").isNotNull)
      .distinct()
      .withColumn("color_rank",
        coalesce(element_at(typedLit(colorRank), col("color")), lit(99)))
      .groupBy(col("ip"))
      .agg(array_sort(collect_list(struct(
        col("color_rank"), col("code")))).as("pairs"))
      .select(col("ip"),
        transform(col("pairs"), p => p.getField("code")).as("codes"))
  }
}
