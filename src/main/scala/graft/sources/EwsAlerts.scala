package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.functions.Normalize.nullIfEmpty

/** EWS active-alert processing (SURVEY.md §2.1 S7/S10/S11, §2.4 A4/A5,
  * §2.6 F17/F18/F19/F26): the relational semantics downstream of the
  * reference's HTTP fetch (adapters/ews_alerts.py) over captured
  * payload/alert tables. The JSON extraction path is the
  * `json_alert_extract` generator (graft.plans); this object adds the
  * HTML-table path, the catalog-refined top-1 election, and the final
  * problem/severity composition.
  *
  * Scale: the HTML scrape is scan-local regex/HOF work (no shuffle);
  * the election is one groupBy per device key; catalog joins broadcast
  * (the code catalog is tiny). */
object EwsAlerts {

  // ---- F26: HTML alert-table extract (ews_alerts.py:81-116) ----

  private val RowPat =
    "(?s)<div[^>]*class=\"[^\"]*x-grid3-row[^>]*>.*?(?=<div[^>]*class=\"[^\"]*x-grid3-row|\\z)"
  private val TrPat = "(?s)<tr[^>]*>.*?</tr>"
  private val CellPat = "(?s)<div[^>]*x-grid3-cell-inner[^>]*>(.*?)</div>"
  private val TdPat = "(?s)<td[^>]*>(.*?)</td>"

  private def cellText(c: Column): Column =
    trim(regexp_replace(c, "<[^>]+>", ""))

  /** One alert candidate per grid row: ExtJS x-grid3 rows inside the
    * grid body when present, else plain `<tr>` rows; cells are
    * x-grid3-cell-inner divs else `<td>`s; desc = longest cell (first
    * max, like Python `max(key=len)`); code = word-bounded EWS code in
    * the desc, stripped from its head; severity = img alt, else the
    * shortest non-empty cell, else "unknown"; header rows (mentioning
    * both "description" and "status code") are skipped; first-seen
    * dedup on the full triple. Reads the page from the `html` column.
    * Output: (key, alert_idx, severity, status_code, description). */
  def alertsFromHtml(payloads: DataFrame, keyCol: String): DataFrame = {
    val html = col("html")
    // rows scoped to the grid body when the ExtJS layout is present
    val gridBody = nullIfEmpty(regexp_extract(html, "(?s)<div[^>]*x-grid3-body.*", 0))
    val gridRows = regexp_extract_all(gridBody, lit(RowPat), lit(0))
    val trRows = regexp_extract_all(html, lit(TrPat), lit(0))
    val rows = when(coalesce(size(gridRows), lit(0)) > 0, gridRows)
      .otherwise(coalesce(trRows, array()))

    val parsed = transform(rows, row => {
      val cellsA = regexp_extract_all(row, lit(CellPat), lit(1))
      val cellsB = regexp_extract_all(row, lit(TdPat), lit(1))
      val cells0 = when(coalesce(size(cellsA), lit(0)) > 0, cellsA).otherwise(cellsB)
      val cells = transform(cells0, cellText(_))
      val joined = lower(concat_ws(" ", cells))
      val isHeader = joined.contains("description") && joined.contains("status code")
      // max(cells, key=len): first maximal wins
      val desc0 = aggregate(cells, lit(""),
        (acc, x) => when(length(x) > length(acc), x).otherwise(acc))
      val code = Normalize.extractEwsCode(desc0)
      // desc.startswith(code) → drop the code head + lstrip(" :.- ")
      val desc = when(length(code) > 0 && desc0.startsWith(code),
        regexp_replace(desc0.substr(length(code) + 1, lit(Int.MaxValue)),
          "^[ :.\\- ]+", "")).otherwise(desc0)
      val alt = trim(regexp_extract(row, "(?s)<img[^>]*alt=\"([^\"]*)\"", 1))
      val nonEmptyCells = filter(cells, x => length(x) > 0)
      // min(short, key=len): first minimal wins
      val shortest = aggregate(nonEmptyCells, lit(null).cast("string"),
        (acc, x) => when(acc.isNull || length(x) < length(acc), x).otherwise(acc))
      val sev = coalesce(nullIfEmpty(alt), shortest, lit("unknown"))
      when(coalesce(size(cells0), lit(0)) > 0 && !isHeader &&
        (length(desc) > 0 || length(code) > 0),
        struct(sev.as("severity"), code.as("status_code"), desc.as("description")))
        .otherwise(lit(null).cast(
          "struct<severity:string,status_code:string,description:string>"))
    })

    val exploded = payloads
      .select(col(keyCol), posexplode(parsed).as(Seq("alert_idx", "a")))
      .where(col("a").isNotNull)
      .select(col(keyCol), col("alert_idx"),
        col("a.severity"), col("a.status_code"), col("a.description"))
    // first-seen dedup on (severity, status_code, description) per key
    val w = Window.partitionBy(col(keyCol), col("severity"),
      col("status_code"), col("description")).orderBy(col("alert_idx"))
    exploded.withColumn("rn", row_number().over(w))
      .where(col("rn") === 1).drop("rn")
  }

  // ---- A4: `_pick_alert` election (ews_alerts.py:262-284) ----

  /** Top-1 alert per key: rank = `_severity_rank(severity)`, refined
    * through the catalog's status when 0 and the code is cataloged;
    * sort desc by (rank, has_code) with Python-stable ties (earliest
    * alert wins); the winner's code is backfilled from the description
    * via CODE_RE. Output: (key, code, description, severity_raw,
    * matched base severity inputs) for [[problemSeverity]]. */
  def pickAlert(alerts: DataFrame, keyCol: String, catalog: DataFrame): DataFrame = {
    val cat = broadcast(catalog.select(col("code").as("cat_code"),
      col("status").as("cat_status")))
    val hasCode = length(coalesce(col("status_code"), lit(""))) > 0
    val r0 = Normalize.severityRank(col("severity"))
    val r = when(r0 === 0 && hasCode && col("cat_code").isNotNull,
      Normalize.catalogStatusRank(col("cat_status"))).otherwise(r0)
    alerts
      .join(cat, col("status_code") === col("cat_code"), "left")
      .groupBy(col(keyCol))
      .agg(max(struct(r.as("r"), when(hasCode, 1).otherwise(0).as("has_code"),
        (-col("alert_idx")).as("nidx"), col("status_code"),
        col("description"), col("severity"))).as("top"))
      .select(col(keyCol),
        when(length(coalesce(col("top.status_code"), lit(""))) > 0,
          col("top.status_code"))
          .otherwise(Normalize.extractEwsCode(trim(coalesce(col("top.description"), lit("")))))
          .as("code"),
        trim(coalesce(col("top.description"), lit(""))).as("description"),
        col("top.severity").as("severity_raw"))
  }

  /** EWS `_normalize_problem_and_severity` (ews_alerts.py:201-208):
    * ""/"normal" → (Ready, informational); sleep → (Sleeping,
    * informational); else no forced severity. Distinct from the LEDM
    * chain (no unknown/ready/acknowledge handling). */
  def normalizeProblem(label: Column): (Column, Column) = {
    val p = trim(coalesce(label, lit("")))
    val low = lower(p)
    val isReady = (p === "") || (low === "normal")
    val isSleep = low.contains("sleep")
    val np = when(isReady, "Ready").when(isSleep, "Sleeping").otherwise(p)
    val forced = when(isReady || isSleep, "informational")
    (np, forced)
  }

  /** `get_ews_problem_and_severity` tail (ews_alerts.py:286-293):
    * pick → short label (catalog info wins) → normalize → severity =
    * forced, else catalog-status triage, else rank-base triage; devices
    * with no alerts resolve to (Ready, informational) — the reference's
    * empty-pick path. Output: devices + (problem, severity, ews_code). */
  def problemSeverity(devices: DataFrame, alerts: DataFrame, catalog: DataFrame,
      keyCol: String): DataFrame = {
    val picked = pickAlert(alerts, keyCol, catalog)
    val cat = broadcast(catalog.select(col("code").as("cat2_code"),
      col("status").as("cat2_status"), col("info").as("cat2_info")))
    val joined = devices
      .join(picked, Seq(keyCol), "left")
      .withColumn("code0", coalesce(col("code"), lit("")))
      .withColumn("desc0", coalesce(col("description"), lit("")))
      .join(cat, col("code0") === col("cat2_code"), "left")
    val matched = col("cat2_code").isNotNull && length(col("code0")) > 0
    val baseSev = when(matched, Normalize.triage(col("cat2_status")))
      .otherwise(Normalize.triage(col("severity_raw")))
    val label0 = Normalize.shortLabel(
      when(matched, coalesce(col("cat2_info"), lit(""))), col("desc0"))
    val (np, forced) = normalizeProblem(label0)
    joined
      .withColumn("problem", when(length(np) > 0, np).otherwise("Ready"))
      .withColumn("severity", coalesce(forced,
        when(matched, Normalize.triage(col("cat2_status"))), baseSev))
      .withColumn("ews_code", col("code0"))
      .drop("code", "description", "severity_raw", "code0", "desc0",
        "cat2_code", "cat2_status", "cat2_info")
  }
}
