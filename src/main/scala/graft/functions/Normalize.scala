package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Scalar normalizer pack — the reference's per-value Python helpers
  * re-expressed as pure Catalyst `Column` expressions (SURVEY.md §2.6).
  * No UDFs anywhere: every function below stays inside whole-stage
  * codegen and is usable at 100 TB without serialization overhead.
  *
  * Reference citations (`/root/reference/`) are per-function; semantics
  * were derived by reading the Python, not by porting it.
  */
object Normalize {

  /** F1 `_norm`: trim, lower, collapse internal whitespace.
    * Ref: core/excel/import_from_xlsm.py:25-28. */
  def norm(c: Column): Column =
    lower(regexp_replace(trim(c), "\\s+", " "))

  /** F2 `canonicalize_id`: numeric-looking → str(int(float(v))) ("7.0"→"7");
    * else strip + newlines→spaces. Ref: core/excel/update_from_json.py:17-26.
    * Python's int() is unbounded, so a finite value past a long's range
    * gives its integer digits ("1e20" → "1" + 20 zeros; past 17
    * significant digits these are the double's shortest decimal form,
    * where Python prints its exact binary value). NaN and ±inf fail
    * int() and take the text branch. Nothing here throws under ANSI mode. */
  def canonicalizeId(c: Column): Column = {
    val d = c.cast("string").try_cast("double")
    val finite = abs(d) < Double.PositiveInfinity // Spark orders NaN above +inf
    when(finite, coalesce(d.try_cast("long").cast("string"),
        regexp_replace(format_number(d, 0), ",", "")))
      .otherwise(trim(regexp_replace(c.cast("string"), "[\\n\\r]", " ")))
  }

  /** F3 `normalize_color`: substring → Black/Cyan/Magenta/Yellow; also
    * single letters k/c/m/y (exactly those four — "bk" is NOT accepted);
    * else null. Ref: update_from_json.py:28-40. */
  def normalizeColor(c: Column): Column = {
    val s = norm(c)
    when(s.contains("black") || s === "k", "Black")
      .when(s.contains("cyan") || s === "c", "Cyan")
      .when(s.contains("magenta") || s === "m", "Magenta")
      .when(s.contains("yellow") || s === "y", "Yellow")
      .otherwise(lit(null).cast("string"))
  }

  /** F4 `_status_online_offline`: SUBSTRING keyword scan (`k in s`, not
    * equality) over the reference's exact tuples, online first, then
    * the "off"-before-"on" fallbacks; null/blank → offline.
    * Ref: update_from_json.py:42-58. */
  val OnlineKeys: Seq[String] = Seq("online", "ready", "idle", "sleep",
    "printing", "working", "active", "ok", "connected")
  val OfflineKeys: Seq[String] = Seq("offline", "down", "disconnected",
    "error", "unknown", "not reachable", "unreachable", "no connection",
    "disabled")

  def statusOnlineOffline(c: Column): Column = {
    val s = lower(trim(coalesce(c.cast("string"), lit(""))))
    when(OnlineKeys.map(k => s.contains(k)).reduce(_ || _), "online")
      .when(OfflineKeys.map(k => s.contains(k)).reduce(_ || _), "offline")
      .when(s.contains("off"), "offline") // before the "on" fallback
      .when(s.contains("on"), "online")
      .otherwise("offline")
  }

  /** Python `str.strip()`: removes ALL leading/trailing ASCII
    * whitespace — \t \n \r \f \x0B as well as spaces; Spark's `trim`
    * strips spaces only. Residual gap: Python also strips Unicode
    * whitespace (U+00A0, U+2028, U+0085, ...) which Java \s does not
    * match — switch to "(?U)\\s" if real inputs carry non-ASCII padding. */
  def pyStrip(c: Column): Column = regexp_replace(c, "^\\s+|\\s+$", "")

  /** Empty string → null (a failed `regexp_extract` reads ""). */
  def nullIfEmpty(c: Column): Column = when(length(c) > 0, c)

  /** F5 `dash_if_blank`: null/blank → "-". Ref: update_from_json.py:60-65. */
  def dashIfBlank(c: Column): Column =
    when(c.isNull || trim(c.cast("string")) === "", "-")
      .otherwise(c.cast("string"))

  /** F6 `sanitize_excel_value`: strip XML-illegal control chars.
    * Ref: update_from_json.py:8-15. */
  def sanitizeCell(c: Column): Column =
    regexp_replace(c, "[\\x00-\\x08\\x0B\\x0C\\x0E-\\x1F]", "")

  /** F7 `_split_postal` (core/enrich/locations.py:27-36): trailing
    * 7-digit run → postal (NULL when absent, like the reference's
    * None); on a match the digits AND their leading separator run are
    * removed, then rstrip(" ,:-") and strip; on no match the address is
    * merely stripped — trailing separators survive.
    * Returns (postal, cleanedAddress). */
  def splitPostal(addr: Column): (Column, Column) = {
    val postal0 = regexp_extract(addr, "(\\d{7})\\s*$", 1)
    val postal = when(postal0 =!= "", postal0)
    val cleaned = when(postal0 =!= "",
      trim(regexp_replace(
        regexp_replace(addr, "[\\s,:\\-]*\\d{7}\\s*$", ""), "[ ,:\\-]+$", "")))
      .otherwise(trim(addr))
    (postal, cleaned)
  }

  /** F8 `_safe_int`: int(float(str(x))) else null. Ref: locations.py:11-17.
    * NaN, ±inf and values past a long's range read null instead of
    * throwing under ANSI mode. */
  def safeInt(c: Column): Column =
    c.cast("string").try_cast("double").try_cast("long")

  /** F9 `_compute_percent`: unit==19 → clamp(level,0,100); elif max>0 and
    * level>=0 → round(100*level/max) clamped; sentinel levels −1/−2/−3
    * (and other negatives) → null. Ref: adapters/snmp_toner.py:61-69.
    * The clamp runs before the cast to long, so a huge level reads 100
    * instead of overflowing the cast (which throws under ANSI mode). */
  def computePercent(unit: Column, level: Column, max: Column): Column =
    when(level.isNull || level.isin(-1, -2, -3), lit(null).cast("long"))
      .when(unit === 19, greatest(least(level, lit(100L)), lit(0L)).cast("long"))
      .when(max > 0 && level >= 0,
        greatest(least(round(lit(100.0) * level / max), lit(100.0)), lit(0.0)).cast("long"))
      .otherwise(lit(null).cast("long"))

  /** F10 `_pct_with_symbol`: int → "N%". Ref: snmp_toner.py:71-72. */
  def pctWithSymbol(c: Column): Column =
    when(c.isNull, lit(null).cast("string"))
      .otherwise(format_string("%d%%", c.cast("long")))

  /** F11 `_friendly_color`: keyword scan over colorant name then desc,
    * Hebrew map, Title-case fallback. Ref: snmp_toner.py:74-88. */
  def friendlyColor(name: Column, desc: Column): Column = {
    def pick(c: Column): Column = {
      val s = norm(coalesce(c, lit("")))
      when(s.contains("black") || s.contains("שחור"), "black")
        .when(s.contains("cyan") || s.contains("כחול"), "cyan")
        .when(s.contains("magenta") || s.contains("אדום"), "magenta")
        .when(s.contains("yellow") || s.contains("צהוב"), "yellow")
        .otherwise(lit(null).cast("string"))
    }
    initcap(coalesce(pick(name), pick(desc), lit("unknown")))
  }

  /** F12 `_to_text`: decode bytes (UTF-8), strip edge NULs, and un-repr
    * Python-style b'...' / b"..." wrappers that leak from scraped
    * payloads. The single-quote check runs FIRST and short-circuits
    * (Python if/elif), so b'b"x"' unwraps once to b"x", not twice; the
    * slice is s[2:-1], so the degenerate "b'" (wrapper sharing its own
    * quote) unwraps to "". NUL strip is leading/trailing only
    * (str.strip("\x00")). Ref: snmp_toner.py:17-33; toner_type_snmp.py:15-28. */
  def toText(c: Column): Column = {
    val s = when(c.isNull, lit(null).cast("string")).otherwise(c.cast("string"))
    val body = s.substr(lit(3), greatest(length(s) - 3, lit(0)))
    val unreprd = when(s.startsWith("b'") && s.endsWith("'"), body)
      .when(s.startsWith("b\"") && s.endsWith("\""), body)
      .otherwise(s)
    regexp_replace(unreprd, "^\\x00+|\\x00+$", "")
  }

  /** F16 `_clean_desc`: exact-match Hebrew→English translation map,
    * then a lowercase suppression set → "". Tables are the reference's
    * verbatim (snmp_alerts.py:36-50 HEB_EN, :36-41 SUPPRESS_PHRASES;
    * applied :74-82 — translate first, then suppress). */
  val DescTranslations: Map[String, String] = Map(
    "תוף שחור ברמה נמוכה מאוד" -> "Black drum very low",
    "אי-התאמת גודל ב-מגש 1" -> "Tray 1 size mismatch",
    "גודל בלתי צפוי ב-מגש 1" -> "Unexpected size in Tray 1",
    "מושהה" -> "Paused",
    "41.03.B1 גודל בלתי צפוי ב-מגש 1" -> "Unexpected size in Tray 1",
    "66044" -> "Service requested")

  val SuppressedDescs: Seq[String] = Seq(
    "sleep mode on", "power saver mode", "מצב שינה פועל",
    "genuine hp cartridge installed")

  def cleanDesc(c: Column): Column = {
    val t = trim(coalesce(c, lit("")))
    val translated = coalesce(
      element_at(typedLit(DescTranslations), t), t)
    when(lower(translated).isin(SuppressedDescs: _*), "")
      .otherwise(translated)
  }

  /** F13 OID structural parse: find the full "43.11.1.1" marker in a
    * dotted OID, emit (col = parts[i+4], row = parts[i+6]) — 1-based
    * `array_position` of its "43"; null when the marker is absent, a
    * null part when the OID ends early. Ref: snmp_toner.py:35-59. */
  def oidColRow(oid: Column): Column = {
    val parts = split(oid, "\\.")
    val i = array_position(parts, "43") // 1-based; 0 when absent
    def p(off: Int): Column = try_element_at(parts, (i + off).cast("int"))
    when(i > 0 && p(1) === "11" && p(2) === "1" && p(3) === "1",
      struct(p(4).try_cast("int").as("col"), p(6).try_cast("int").as("row")))
      .otherwise(lit(null).cast("struct<col:int,row:int>"))
  }

  /** F14 `_severity_tag`: 1→other, 2→unknown, 3→warning, 4→critical.
    * Ref: snmp_alerts.py:57-72. */
  def severityTag(c: Column): Column =
    when(c === 1, "other").when(c === 2, "unknown")
      .when(c === 3, "warning").when(c === 4, "critical")
      .otherwise("unknown")

  /** F15 `_hr_bits_as_flags`: 15-bit hrPrinterDetectedErrorState mask →
    * array of set-flag names; severity critical iff offline(bit6) or
    * serviceRequested(bit7) else warning (0 mask → empty, informational).
    * Ref: snmp_alerts.py:16-34,92-97,136-150. */
  val HrFlagNames: Seq[(Int, String)] = Seq(
    0 -> "lowPaper", 1 -> "noPaper", 2 -> "lowToner", 3 -> "noToner",
    4 -> "doorOpen", 5 -> "jammed", 6 -> "offline", 7 -> "serviceRequested",
    8 -> "inputTrayMissing", 9 -> "outputTrayMissing",
    10 -> "markerSupplyMissing", 11 -> "outputNearFull", 12 -> "outputFull",
    13 -> "inputTrayEmpty", 14 -> "overduePreventMaint")

  def hrFlags(mask: Column): Column = {
    val flags = HrFlagNames.map { case (bit, name) =>
      when(shiftright(mask, bit).bitwiseAND(1) === 1, name)
        .otherwise(lit(null).cast("string"))
    }
    filter(array(flags: _*), c => c.isNotNull)
  }

  def hrSeverity(mask: Column): Column =
    when(mask.isNull || mask === 0, "informational")
      .when(shiftright(mask, 6).bitwiseAND(1) === 1 ||
            shiftright(mask, 7).bitwiseAND(1) === 1, "critical")
      .otherwise("warning")

  /** F17 `_triage_three`: all-digit strings (str.isdigit) → int with
    * thresholds ≥6 critical / ≥3 warning / else informational; words
    * match the tier sets EXACTLY (set membership, not substring) after
    * strip+lower. The EWS and LEDM variants carry different sets —
    * LEDM adds stricterror/strictwarning (ews_alerts.py:14-32 vs
    * ledm_client.py:46-64). */
  private def triageWith(critical: Seq[String], warning: Seq[String])(c: Column): Column = {
    val t = trim(coalesce(c.cast("string"), lit("")))
    val isDigit = t.rlike("^[0-9]+$")
    val n = t.try_cast("long")
    val s = lower(t)
    when(isDigit && n.isNull, "critical") // > Long.Max digits: still >= 6
      .when(isDigit && n >= 6, "critical")
      .when(isDigit && n >= 3, "warning")
      .when(isDigit, "informational")
      .when(s.isin(critical: _*), "critical")
      .when(s.isin(warning: _*), "warning")
      .otherwise("informational")
  }

  /** EWS variant (ews_alerts.py:14-32). */
  def triage(c: Column): Column =
    triageWith(Seq("critical", "fatal", "severe", "error"),
      Seq("attention", "warning", "warn"))(c)

  /** LEDM variant (ledm_client.py:46-64). */
  def triageLedm(c: Column): Column =
    triageWith(Seq("critical", "fatal", "stricterror", "error", "severe"),
      Seq("warning", "strictwarning", "warn", "attention"))(c)

  /** LEDM `SEVERITY_ORDER` (ledm_client.py:10-17) — election ranks for
    * EventTable events (default −1, ledm_client.py:96-109) and
    * status-doc Alerts (same tiers, default 0, :130-147). */
  val LedmSeverityOrder: Map[String, Int] = Map(
    "CRITICAL" -> 3, "STRICTERROR" -> 3, "ERROR" -> 3,
    "WARNING" -> 2, "STRICTWARNING" -> 2, "INFO" -> 1)

  /** F18 `_severity_rank`: all-digit strings → their integer value;
    * otherwise EXACT-match tiers (fatal/critical 9, error/severe 6,
    * attention 5, warning 3, info/informational 1, else 0).
    * Ref: ews_alerts.py:144-161. */
  def severityRank(c: Column): Column = {
    val t = trim(coalesce(c.cast("string"), lit("")))
    val s = lower(t)
    when(t.rlike("^[0-9]+$"),
      coalesce(t.try_cast("long"), lit(Long.MaxValue))) // unbounded in Python
      .when(s.isin("fatal", "critical"), 9L)
      .when(s.isin("error", "severe"), 6L)
      .when(s === "attention", 5L)
      .when(s === "warning", 3L)
      .when(s.isin("info", "informational"), 1L)
      .otherwise(0L)
  }

  /** `_catalog_status_to_rank` (ews_alerts.py:163-171): CRITICAL 9,
    * ATTENTION 5, INFO 1, else 0 — exact match after strip+upper. */
  def catalogStatusRank(c: Column): Column = {
    val s = upper(trim(coalesce(c.cast("string"), lit(""))))
    when(s === "CRITICAL", 9L).when(s === "ATTENTION", 5L)
      .when(s === "INFO", 1L).otherwise(0L)
  }

  /** F19 `_short_label_for`: when the code matched the catalog, the
    * entry's info (or "Check printer" if blank) wins unconditionally —
    * pass `catalogInfo` NON-NULL exactly when the code matched, null
    * otherwise. Unmatched codes run the keyword decision list over the
    * description, blank → "Normal", default "Check printer".
    * Ref: ews_alerts.py:173-199. */
  def shortLabel(catalogInfo: Column, desc: Column): Column = {
    val s = lower(trim(coalesce(desc, lit(""))))
    val drumish = s.contains("drum") || s.contains("imaging unit")
    when(catalogInfo.isNotNull,
      coalesce(when(length(trim(catalogInfo)) > 0, catalogInfo),
        lit("Check printer")))
      .otherwise(coalesce(
        when(s === "", "Normal"),
        when(s.contains("door"), "Door open"),
        when(s.contains("jam"), "Paper jam"),
        when(s.contains("toner") && s.contains("detect"), "Toner not detected"),
        when(s.contains("toner") && (s.contains("empty") || s.contains("end")),
          "Toner empty"),
        when(drumish && s.contains("not") && s.contains("install"),
          "Drum not installed"),
        when(drumish && (s.contains("end") || s.contains("replace")),
          "Replace drum now"),
        when(s.contains("transfer"), "Transfer roller fault"),
        when(s.contains("scanner"), "Scanner error"),
        when(s.contains("fuser"), "Fuser error"),
        lit("Check printer")))
  }

  /** F21 `derive_severity_from_problem`: substring keyword sets over the
    * lowercased problem (no trim/collapse — the reference only lowers) →
    * critical / warning / informational. Ref: ledm_client.py:149-157. */
  val ProblemCriticalKeys: Seq[String] = Seq(
    "jam", "door", "open", "cover", "fault", "failure", "error", "empty",
    "replace")
  val ProblemWarningKeys: Seq[String] = Seq(
    "low", "depleted", "almost", "calibrat", "warming", "busy", "sleep",
    "power saver", "attention")

  def severityFromProblem(c: Column): Column = {
    val s = lower(coalesce(c, lit("")))
    when(ProblemCriticalKeys.map(k => s.contains(k)).reduce(_ || _), "critical")
      .when(ProblemWarningKeys.map(k => s.contains(k)).reduce(_ || _), "warning")
      .otherwise("informational")
  }

  /** F22 error-code regexes. Ref: ews_alerts.py:12; toner_type_web.py:8-9;
    * toner_type_snmp.py:11-13. */
  val EwsCodeRe = "\\b[A-Z]\\d-\\d{3,5}\\b"
  val TonerIdRes = Seq("W\\d{4}[A-Z]X?", "MLT-[A-Z]\\d{3,5}[A-Z]*", "[A-Z]{2}\\d{3}[A-Z]")

  def extractEwsCode(c: Column): Column = regexp_extract(c, s"($EwsCodeRe)", 1)

  /** F23 `_normalize_label`: alpha-only upper, then EXACT sets —
    * BK/K/BLK/BLACK→BK, C/CYAN→C, M/MAGENTA→M, Y/YELLOW→Y; empty→null;
    * anything else passes through. Ref: brother_toner_web.py:12-25. */
  def labelNormalize(c: Column): Column = {
    val u = upper(regexp_replace(coalesce(c, lit("")), "[^A-Za-z]", ""))
    when(u === "", lit(null).cast("string"))
      .when(u.isin("BK", "K", "BLK", "BLACK"), "BK")
      .when(u.isin("C", "CYAN"), "C")
      .when(u.isin("M", "MAGENTA"), "M")
      .when(u.isin("Y", "YELLOW"), "Y")
      .otherwise(u)
  }

  /** `COLOR_PRETTY.get(code, code)`: unknown codes pass through
    * UNCHANGED (no re-casing). Ref: brother_toner_web.py:10,96. */
  def labelPretty(c: Column): Column = {
    val u = labelNormalize(c)
    when(u === "BK", "Black").when(u === "C", "Cyan")
      .when(u === "M", "Magenta").when(u === "Y", "Yellow")
      .otherwise(u)
  }
}
