package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Normalize
import graft.functions.Normalize.nullIfEmpty

/** Raw-payload parsers for the remaining device-scan sources
  * (SURVEY.md §2.1 S8/S9/S11, §2.6 F23/F26/F27). The network fetch is
  * DevicePoll's seam; these transform captured payload columns into
  * relational rows — the `xml_local_records`/`xml_first_local_text`
  * generators (graft.plans) for XML, built-in regex for the fixed
  * Brother HTML layout, from_json over the catalog shapes. All
  * scan-local, zero shuffle. */
object PayloadParsers {

  // ---- S8/F27: LEDM XML (adapters/ledm_client.py:19-44,96-170) ----

  /** `problem_from_status` (ledm_client.py:111-128): first non-blank
    * among LocString/StatusString/StatusMessage/Reason/DetailedReason/
    * State; else the lowercased StatusCategory through the fixed
    * mapping (unknown categories capitalize); null when neither. */
  def ledmProblemFromStatus(xml: Column): Column = {
    val s = call_function("xml_first_local_text", xml,
      lit("LocString,StatusString,StatusMessage,Reason,DetailedReason,State"))
    val cat = lower(coalesce(
      call_function("xml_first_local_text", xml, lit("StatusCategory")), lit("")))
    val mapped = when(cat === "ready", "Ready")
      .when(cat === "processing", "Processing")
      .when(cat === "warmup", "Warming up")
      .when(cat === "attention", "Needs attention")
      .when(cat === "interventionrequired", "Needs attention")
      .when(cat === "error", "Error")
      .when(cat === "idle", "Idle")
      .when(cat === "sleep", "Sleep")
      // str.capitalize(): first char upper, rest already lower
      .otherwise(concat(upper(substring(cat, 1, 1)), substring(cat, 2, 1 << 30)))
    coalesce(s, when(cat =!= "", mapped))
  }

  /** EventTable.xml → one row per Event element with the reference's
    * candidate tag lists (ledm_client.py:96-109): Severity, then
    * Code/EventCode/ID/ErrorCode and Description/EventDescription/
    * Name/Reason, each `_text_of_first` within the Event subtree. */
  def ledmEvents(payloads: DataFrame, keyCol: String, xmlCol: String = "xml"): DataFrame = {
    payloads.selectExpr(s"`$keyCol`",
      s"""xml_local_records(`$xmlCol`, 'Event', 'Severity',
         |'Code,EventCode,ID,ErrorCode',
         |'Description,EventDescription,Name,Reason')
         |AS (event_idx, severity, code, description)""".stripMargin)
  }

  /** ProductStatusDyn.xml Alert elements (ledm_client.py:130-147):
    * severity defaults to "Info", code candidates include the
    * HP-specific ProductStatusAlertID/StringId. */
  def ledmAlerts(payloads: DataFrame, keyCol: String, xmlCol: String = "xml"): DataFrame = {
    payloads.selectExpr(s"`$keyCol`",
      s"""xml_local_records(`$xmlCol`, 'Alert', 'Severity',
         |'ProductStatusAlertID,StringId,ID,Code',
         |'AlertDetailsUserAction,Description,Name,Reason')
         |AS (alert_idx, severity, code, description)""".stripMargin)
  }

  /** `best_event_from_table` election (ledm_client.py:96-109): rank by
    * SEVERITY_ORDER (default −1), `>=` keeps the LAST max — a max over
    * (rank, idx) since idx is unique. Emits one row per key with
    * (ev_code, ev_problem, ev_severity = LEDM triage of the winner's
    * raw severity). Keys with no events emit nothing (None tuple). */
  def ledmBestEvents(events: DataFrame, keyCol: String): DataFrame =
    bestByRank(events, keyCol, "event_idx", defaultRank = -1,
      sevForRank = upper(coalesce(col("severity"), lit(""))), prefix = "ev")

  /** `_best_alert_from_status` election (ledm_client.py:130-147): same
    * shape, severity defaults "Info", rank default 0. */
  def ledmBestAlerts(alerts: DataFrame, keyCol: String): DataFrame =
    bestByRank(alerts, keyCol, "alert_idx", defaultRank = 0,
      sevForRank = upper(coalesce(col("severity"), lit("Info"))), prefix = "al")

  private def bestByRank(rows: DataFrame, keyCol: String, idxCol: String,
      defaultRank: Int, sevForRank: Column, prefix: String): DataFrame = {
    val rank = coalesce(
      element_at(typedLit(Normalize.LedmSeverityOrder), sevForRank),
      lit(defaultRank))
    rows
      .groupBy(col(keyCol))
      .agg(max(struct(rank.as("rank"), col(idxCol).as("idx"),
        col("code"), col("description"), sevForRank.as("sev_raw"))).as("best"))
      .select(col(keyCol),
        col("best.code").as(s"${prefix}_code"),
        col("best.description").as(s"${prefix}_problem"),
        Normalize.triageLedm(col("best.sev_raw")).as(s"${prefix}_severity"))
  }

  /** `normalize_problem_and_severity` (ledm_client.py:159-170):
    * SUBSTRING-based chain — unknown → (null, informational);
    * acknowledgeconsumablestate → Ready; ready-not-"not ready"/
    * "unready" or מוכן → Ready; sleep / inpowersave / שינה → Sleeping. */
  def normalizeProblemSeverity(problem: Column, severity: Column): (Column, Column) = {
    val p = trim(coalesce(problem, lit("")))
    val low = lower(p)
    val isUnknown = low.contains("unknown")
    val isAck = low.contains("acknowledgeconsumablestate")
    val isReady = (low.contains("ready") && !low.contains("not ready") &&
      !low.contains("unready")) || p.contains("מוכן")
    val isSleep = low.contains("sleep") || low.contains("inpowersave") ||
      p.contains("שינה")
    val np = when(isUnknown, lit(null).cast(StringType))
      .when(isAck || isReady, "Ready")
      .when(isSleep, "Sleeping")
      .otherwise(problem)
    val ns = when(isUnknown || isAck || isReady || isSleep, "informational")
      .otherwise(severity)
    (np, ns)
  }

  /** `get_ledm_problem_and_severity` (ledm_client.py:172-184): event
    * election wins, then status-doc alert election, then
    * problem_from_status, then "Unknown"; severity = event → alert →
    * derived-from-problem; normalize; blank-fill Normal/informational.
    * Event and alert severities take precedence over text-derived.
    * Reads the `status_xml` and `events_xml` documents; a device with
    * no EventTable payload has a null `events_xml`, which elects no
    * event and leaves the status-doc chain. */
  def ledmProblemSeverity(payloads: DataFrame, keyCol: String): DataFrame = {
    val ev = ledmBestEvents(ledmEvents(payloads, keyCol, "events_xml"), keyCol)
    val al = ledmBestAlerts(ledmAlerts(payloads, keyCol, "status_xml"), keyCol)
    val joined = payloads
      .withColumn("st_problem", ledmProblemFromStatus(col("status_xml")))
      .join(ev, Seq(keyCol), "left")
      .join(al, Seq(keyCol), "left")
    // Python `or` chain: empty strings are falsy, but the election and
    // st_problem already null out blanks.
    val problem0 = coalesce(col("ev_problem"), col("al_problem"),
      col("st_problem"), lit("Unknown"))
    val severity0 = coalesce(col("ev_severity"), col("al_severity"),
      Normalize.severityFromProblem(problem0))
    val (np, ns) = normalizeProblemSeverity(problem0, severity0)
    joined
      .withColumn("problem", coalesce(when(length(np) > 0, np), lit("Normal")))
      .withColumn("severity", coalesce(when(length(ns) > 0, ns), lit("informational")))
  }

  // ---- S9/F23/F26: Brother ink-level HTML (brother_toner_web.py:38-100) ----

  /** Faithful fixed-layout scrape (brother_toner_web.py:63-100): the
    * `#inkLevel` (else `#inkLevelMono`) table needs ≥3 rows; bar
    * heights come from row 1's `<td>`s — img height attr, img style
    * height, td height attr, td style height, in that order — and
    * labels from row 2's `<th>` texts, normalized with nulls REMOVED
    * before the positional zip (zip truncates to the shorter list).
    * A td with no readable height still emits its cartridge with a
    * null percent. Reads the page from the `html` column. */
  def brotherInkLevels(payloads: DataFrame, keyCol: String): DataFrame = {
    val html = col("html")
    val table = coalesce(
      nullIfEmpty(regexp_extract(html, "(?s)<table[^>]*id=\"inkLevel\"[^>]*>.*?</table>", 0)),
      nullIfEmpty(regexp_extract(html, "(?s)<table[^>]*id=\"inkLevelMono\"[^>]*>.*?</table>", 0)))
    val rows = regexp_extract_all(table, lit("(?s)<tr[^>]*>.*?</tr>"), lit(0))
    val tds = regexp_extract_all(get(rows, lit(1)),
      lit("(?s)<td[^>]*>.*?</td>"), lit(0))
    val ths = regexp_extract_all(get(rows, lit(2)),
      lit("(?s)<th[^>]*>.*?</th>"), lit(0))
    // first digit run of an attr value / style height, reference order
    def attrDigits(frag: Column, attr: String): Column =
      nullIfEmpty(regexp_extract(
        regexp_extract(frag, s"(?i)$attr\\s*=\\s*(\"[^\"]*\"|[^\\s>]+)", 1),
        "(\\d+)", 1))
    def styleDigits(frag: Column): Column =
      nullIfEmpty(regexp_extract(frag, "(?i)height\\s*:\\s*(\\d+)", 1))
    val heights = transform(tds, td => {
      val img = nullIfEmpty(regexp_extract(td, "(?s)<img[^>]*>", 0))
      val tdOpen = regexp_extract(td, "(?s)^<td[^>]*>", 0)
      coalesce(attrDigits(img, "height"), styleDigits(img),
        attrDigits(tdOpen, "height"), styleDigits(tdOpen))
        .try_cast("int")
    })
    val labels = filter(
      transform(ths, th => Normalize.labelNormalize(
        trim(regexp_replace(th, "<[^>]+>", "")))),
      x => x.isNotNull)
    val n = least(coalesce(size(labels), lit(0)), coalesce(size(heights), lit(0)))
    val ok = table.isNotNull && coalesce(size(rows), lit(0)) >= 3
    val pairs = when(ok,
      arrays_zip(slice(labels, lit(1), n), slice(heights, lit(1), n)))
    payloads
      .select(col(keyCol), posexplode(pairs).as(Seq("bar_idx", "z")))
      .select(col(keyCol), col("bar_idx"),
        Normalize.labelPretty(col("z.0")).as("cartridge"),
        // null height stays null: greatest/least SKIP nulls, so the
        // clamp must be guarded or a no-height td would read 100%
        // (_clamp_pct(None) → None, brother_toner_web.py:27-36)
        when(col("z.1").isNotNull,
          Normalize.pctWithSymbol(
            greatest(least(col("z.1").cast("long"), lit(100L)), lit(0L))))
          .as("remaining_percent"))
  }

  // ---- S11: code catalog, three accepted shapes (ews_alerts.py:118-142) ----

  private val ItemSchema = ArrayType(StructType(Seq(
    StructField("code", StringType), StructField("status", StringType),
    StructField("info", StringType))))

  /** `_load_code_catalog`: accepts a list of {code,status,info} items,
    * a {"items": [...]} wrapper, or a {code: {status,info}} map, and
    * lands a normalized (code, status, info) table — code stripped and
    * non-empty, status stripped+UPPER defaulting to "INFO", info
    * stripped defaulting to "". Duplicate codes: last wins (the
    * reference builds a dict). Reads the payload from the `json`
    * column. Ready to broadcast into J6. */
  def codeCatalog(raw: DataFrame): DataFrame = {
    val t = trim(col("json"))
    val wrapped = when(t.startsWith("{"), from_json(t,
      StructType(Seq(StructField("items", ItemSchema)))).getField("items"))
    val listArr = coalesce(when(t.startsWith("["), from_json(t, ItemSchema)), wrapped)
    val listRows = raw
      .select(posexplode(listArr).as(Seq("pos", "e")))
      .select(col("pos"), col("e.code"), col("e.status"), col("e.info"))
    val mapRows = raw.where(t.startsWith("{") && wrapped.isNull)
      .select(explode(from_json(t,
        MapType(StringType, StructType(Seq(
          StructField("status", StringType), StructField("info", StringType))))))
        .as(Seq("code", "v")))
      .where(col("v").isNotNull) // non-dict values are skipped
      .select(lit(0).as("pos"), col("code"), col("v.status"), col("v.info"))
    listRows.unionByName(mapRows)
      .select(col("pos"), trim(coalesce(col("code"), lit(""))).as("code"),
        col("status"), col("info"))
      .where(col("code") =!= "")
      .groupBy("code")
      .agg(max(struct(col("pos"),
        coalesce(nullIfEmpty(upper(trim(coalesce(col("status"), lit(""))))), lit("INFO"))
          .as("status"),
        trim(coalesce(col("info"), lit(""))).as("info"))).as("m"))
      .select(col("code"), col("m.status"), col("m.info"))
  }
}
