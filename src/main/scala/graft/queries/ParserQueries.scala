package graft.queries

import org.apache.spark.sql.functions._

import graft.Tables
import graft.sources.{DeterministicSnmpFake, DevicePoll, EwsAlerts, PayloadParsers,
  SnmpPayload}

/** End-to-end oracles for the custom extractor components (the parts of
  * the engine DuckDB cannot run directly): each query SYNTHESIZES a
  * payload (XML / JSON) from testdata columns, runs it through the real
  * extractor + election chain on the Spark side, and lets DuckDB
  * compute the expected answer algebraically from the same source
  * columns. A hash match proves the extractor inverts the synthesis
  * exactly — parse, candidate-tag resolution, election order, triage
  * and label chains included.
  *
  * Scale: payload synthesis is one groupBy per key; the extractors are
  * scan-local generators; elections are single aggregations. */
object ParserQueries {

  /** Exact-match triage CASE (F17 variants) as SQL. */
  private def triageSql(v: String, critical: Seq[String], warning: Seq[String]): String = {
    def set(xs: Seq[String]) = xs.map(x => s"'$x'").mkString(", ")
    s"""CASE WHEN regexp_matches(trim($v), '^[0-9]+$$') AND TRY_CAST(trim($v) AS BIGINT) >= 6 THEN 'critical'
       |     WHEN regexp_matches(trim($v), '^[0-9]+$$') AND TRY_CAST(trim($v) AS BIGINT) >= 3 THEN 'warning'
       |     WHEN regexp_matches(trim($v), '^[0-9]+$$') THEN 'informational'
       |     WHEN lower(trim($v)) IN (${set(critical)}) THEN 'critical'
       |     WHEN lower(trim($v)) IN (${set(warning)}) THEN 'warning'
       |     ELSE 'informational' END""".stripMargin
  }

  private def triageLedmSql(v: String): String =
    triageSql(v, Seq("critical", "fatal", "stricterror", "error", "severe"),
      Seq("warning", "strictwarning", "warn", "attention"))

  private def triageEwsSql(v: String): String =
    triageSql(v, Seq("critical", "fatal", "severe", "error"),
      Seq("attention", "warning", "warn"))

  /** X1 — LEDM EventTable election through the real XML generator:
    * build one EventTable per user from its events (event_id order),
    * parse with `xml_local_records`, elect via SEVERITY_ORDER with
    * `>=` last-wins (ledm_client.py:96-109). DuckDB computes the
    * winner directly from the source rows. */
  val x1LedmEventElection: QuerySpec = QuerySpec.sql(
    "x1_ledm_event_election",
    s"""WITH sev AS (
       |  SELECT user_id, event_id,
       |    CASE event_type WHEN 'error' THEN 'ERROR' WHEN 'purchase' THEN 'Warning'
       |         WHEN 'view' THEN 'info' WHEN 'signup' THEN 'StrictWarning'
       |         ELSE 'unknown' END AS sev_raw
       |  FROM events
       |), r AS (
       |  SELECT user_id, event_id, sev_raw,
       |    CASE upper(trim(sev_raw)) WHEN 'CRITICAL' THEN 3 WHEN 'STRICTERROR' THEN 3
       |         WHEN 'ERROR' THEN 3 WHEN 'WARNING' THEN 2 WHEN 'STRICTWARNING' THEN 2
       |         WHEN 'INFO' THEN 1 ELSE -1 END AS rk
       |  FROM sev
       |), t AS (
       |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
       |    ORDER BY rk DESC, event_id DESC) AS rn FROM r
       |)
       |SELECT user_id,
       |  concat('c', CAST(event_id AS VARCHAR)) AS ev_code,
       |  concat('d', CAST(event_id AS VARCHAR)) AS ev_problem,
       |  ${triageLedmSql("sev_raw")} AS ev_severity
       |FROM t WHERE rn = 1
       |ORDER BY user_id""".stripMargin) { (s, d) =>
    val sevOf = when(col("event_type") === "error", "ERROR")
      .when(col("event_type") === "purchase", "Warning")
      .when(col("event_type") === "view", "info")
      .when(col("event_type") === "signup", "StrictWarning")
      .otherwise("unknown")
    val frag = concat(
      lit("<Event><Severity>"), sevOf,
      lit("</Severity><Code>c"), col("event_id").cast("string"),
      lit("</Code><Description>d"), col("event_id").cast("string"),
      lit("</Description></Event>"))
    val payloads = Tables.events(s, d)
      .select(col("user_id"), col("event_id"), frag.as("frag"))
      .groupBy("user_id")
      .agg(concat(lit("<EventTable>"),
        array_join(transform(
          array_sort(collect_list(struct(col("event_id").as("eid"), col("frag").as("f")))),
          x => x.getField("f")), ""),
        lit("</EventTable>")).as("xml"))
    PayloadParsers.ledmBestEvents(
      PayloadParsers.ledmEvents(payloads, "user_id"), "user_id")
      .orderBy("user_id")
  }

  /** X2 — EWS pick-alert chain over synthesized alerts + catalog:
    * severity-rank with catalog refinement, (rank, has_code) top-1 with
    * stable ties, short-label with catalog-info precedence, exact-set
    * triage (ews_alerts.py:144-199,262-293). */
  val x2EwsPickAlert: QuerySpec = {
    val rankSql =
      """CASE WHEN regexp_matches(trim(severity), '^[0-9]+$') THEN CAST(trim(severity) AS BIGINT)
        |     WHEN lower(trim(severity)) IN ('fatal', 'critical') THEN 9
        |     WHEN lower(trim(severity)) IN ('error', 'severe') THEN 6
        |     WHEN lower(trim(severity)) = 'attention' THEN 5
        |     WHEN lower(trim(severity)) = 'warning' THEN 3
        |     WHEN lower(trim(severity)) IN ('info', 'informational') THEN 1
        |     ELSE 0 END""".stripMargin
    QuerySpec.sql(
      "x2_ews_pick_alert",
      s"""WITH al AS (
         |  SELECT user_id, event_id AS alert_idx,
         |    CASE event_type WHEN 'error' THEN 'error' WHEN 'purchase' THEN '3'
         |         WHEN 'view' THEN '' WHEN 'signup' THEN 'attention'
         |         ELSE 'zzz' END AS severity,
         |    CASE WHEN event_type = 'view'
         |         THEN concat('C4-', CAST(1000 + event_id % 8 AS VARCHAR))
         |         ELSE '' END AS status_code,
         |    CASE event_id % 4 WHEN 0 THEN 'door sensor' WHEN 1 THEN 'paper jam detected'
         |         WHEN 2 THEN 'toner almost empty' ELSE 'mystery state' END AS description
         |  FROM events
         |), cat AS (
         |  SELECT concat('C4-', CAST(r_regionkey + 1000 AS VARCHAR)) AS code,
         |    CASE r_regionkey % 3 WHEN 0 THEN 'CRITICAL' WHEN 1 THEN 'ATTENTION'
         |         ELSE 'INFO' END AS status,
         |    CASE WHEN r_regionkey % 2 = 0
         |         THEN concat('Region issue ', CAST(r_regionkey AS VARCHAR))
         |         ELSE '' END AS info
         |  FROM region
         |), ranked AS (
         |  SELECT a.user_id, a.alert_idx, a.severity, a.status_code, a.description,
         |    CASE WHEN ($rankSql) = 0 AND length(a.status_code) > 0 AND c.code IS NOT NULL
         |         THEN CASE c.status WHEN 'CRITICAL' THEN 9 WHEN 'ATTENTION' THEN 5
         |              WHEN 'INFO' THEN 1 ELSE 0 END
         |         ELSE ($rankSql) END AS r,
         |    CASE WHEN length(a.status_code) > 0 THEN 1 ELSE 0 END AS has_code
         |  FROM al a LEFT JOIN cat c ON a.status_code = c.code
         |), top AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
         |    ORDER BY r DESC, has_code DESC, alert_idx ASC) AS rn FROM ranked
         |), sel AS (
         |  -- the winner's blank code is backfilled from the description
         |  -- via CODE_RE (ews_alerts.py:273-278), mirroring
         |  -- EwsAlerts.pickAlert; the synthesized descriptions contain
         |  -- no code-shaped text today, so this guards future synthesis
         |  SELECT user_id,
         |    CASE WHEN length(status_code) > 0 THEN status_code
         |         ELSE regexp_extract(trim(description),
         |                '\b[A-Z][0-9]-[0-9]{3,5}\b', 0) END AS code0,
         |    trim(description) AS desc0, severity
         |  FROM top WHERE rn = 1
         |), m AS (
         |  SELECT s.user_id, s.code0, s.desc0, s.severity, c.status AS c2s, c.info AS c2i,
         |    (c.code IS NOT NULL AND length(s.code0) > 0) AS matched
         |  FROM sel s LEFT JOIN cat c ON s.code0 = c.code
         |), lab AS (
         |  SELECT user_id, code0, matched, c2s, severity,
         |    CASE WHEN matched THEN
         |      CASE WHEN length(trim(c2i)) > 0 THEN c2i ELSE 'Check printer' END
         |    ELSE coalesce(
         |      CASE WHEN lower(desc0) = '' THEN 'Normal' END,
         |      CASE WHEN lower(desc0) LIKE '%door%' THEN 'Door open' END,
         |      CASE WHEN lower(desc0) LIKE '%jam%' THEN 'Paper jam' END,
         |      CASE WHEN lower(desc0) LIKE '%toner%' AND lower(desc0) LIKE '%detect%'
         |           THEN 'Toner not detected' END,
         |      CASE WHEN lower(desc0) LIKE '%toner%' AND (lower(desc0) LIKE '%empty%'
         |           OR lower(desc0) LIKE '%end%') THEN 'Toner empty' END,
         |      CASE WHEN lower(desc0) LIKE '%transfer%' THEN 'Transfer roller fault' END,
         |      CASE WHEN lower(desc0) LIKE '%scanner%' THEN 'Scanner error' END,
         |      CASE WHEN lower(desc0) LIKE '%fuser%' THEN 'Fuser error' END,
         |      'Check printer') END AS label
         |  FROM m
         |)
         |SELECT user_id,
         |  CASE WHEN trim(label) = '' OR lower(trim(label)) = 'normal' THEN 'Ready'
         |       WHEN lower(trim(label)) LIKE '%sleep%' THEN 'Sleeping'
         |       ELSE trim(label) END AS problem,
         |  CASE WHEN trim(label) = '' OR lower(trim(label)) = 'normal'
         |            OR lower(trim(label)) LIKE '%sleep%' THEN 'informational'
         |       WHEN matched THEN ${triageEwsSql("c2s")}
         |       ELSE ${triageEwsSql("severity")} END AS severity,
         |  code0 AS ews_code
         |FROM lab
         |ORDER BY user_id""".stripMargin) { (s, d) =>
      val ev = Tables.events(s, d)
      val alerts = ev.select(col("user_id"), col("event_id").as("alert_idx"),
        when(col("event_type") === "error", "error")
          .when(col("event_type") === "purchase", "3")
          .when(col("event_type") === "view", "")
          .when(col("event_type") === "signup", "attention")
          .otherwise("zzz").as("severity"),
        when(col("event_type") === "view",
          concat(lit("C4-"), (lit(1000) + col("event_id") % 8).cast("string")))
          .otherwise("").as("status_code"),
        when(col("event_id") % 4 === 0, "door sensor")
          .when(col("event_id") % 4 === 1, "paper jam detected")
          .when(col("event_id") % 4 === 2, "toner almost empty")
          .otherwise("mystery state").as("description"))
      val catalog = Tables.region(s, d).select(
        concat(lit("C4-"), (col("r_regionkey") + 1000).cast("string")).as("code"),
        when(col("r_regionkey") % 3 === 0, "CRITICAL")
          .when(col("r_regionkey") % 3 === 1, "ATTENTION")
          .otherwise("INFO").as("status"),
        when(col("r_regionkey") % 2 === 0,
          concat(lit("Region issue "), col("r_regionkey").cast("string")))
          .otherwise("").as("info"))
      val devices = ev.select("user_id").distinct()
      EwsAlerts.problemSeverity(devices, alerts, catalog, "user_id")
        .select("user_id", "problem", "severity", "ews_code")
        .orderBy("user_id")
    }
  }

  /** X3 — JSON alert walk through the real generator: a two-alert
    * payload per document (hinted object + message-only object + the
    * code-valued string walked on its own) must yield exactly the three
    * deduped rows the reference walk produces (ews_alerts.py:47-79). */
  val x3JsonAlertExtract: QuerySpec = QuerySpec.sql(
    "x3_json_alert_extract",
    """WITH base AS (SELECT doc_id,
      |  concat('sev', CAST(doc_id % 3 AS VARCHAR)) AS sev,
      |  concat('C4-', CAST(1000 + doc_id % 90 AS VARCHAR)) AS code,
      |  concat('Toner low ', CAST(doc_id AS VARCHAR)) AS descr,
      |  concat('note ', CAST(doc_id AS VARCHAR)) AS msg
      |FROM documents)
      |SELECT doc_id, severity, code, description FROM (
      |  SELECT doc_id, sev AS severity, code, descr AS description FROM base
      |  UNION ALL
      |  SELECT doc_id, 'unknown' AS severity, code, code AS description FROM base
      |  UNION ALL
      |  SELECT doc_id, 'unknown' AS severity, '' AS code, msg AS description FROM base
      |)
      |ORDER BY doc_id, severity, code, description""".stripMargin) { (s, d) =>
    val json = concat(
      lit("{\"alerts\": [{\"Severity\": \""),
      concat(lit("sev"), (col("doc_id") % 3).cast("string")),
      lit("\", \"StatusCode\": \""),
      concat(lit("C4-"), (lit(1000) + col("doc_id") % 90).cast("string")),
      lit("\", \"Description\": \""),
      concat(lit("Toner low "), col("doc_id").cast("string")),
      lit("\"}, {\"message\": \""),
      concat(lit("note "), col("doc_id").cast("string")),
      lit("\"}]}"))
    Tables.documents(s, d)
      .select(col("doc_id"), json.as("body"))
      .selectExpr("doc_id",
        "json_alert_extract(body) AS (path, severity, code, description)")
      .select("doc_id", "severity", "code", "description")
      .orderBy("doc_id", "severity", "code", "description")
  }

  /** X4 — SNMP alert election (`_decide_message_from_rows` +
    * Normal fallback, snmp_alerts.py:152-190): severity tiers scanned
    * critical→warning→other→unknown, first non-empty message (cleaned
    * desc, else "Code N" for truthy codes) in rowIdx order; final
    * severity collapses to critical/warning; quiet devices → Normal. */
  val x4SnmpAlertDecide: QuerySpec = {
    import graft.functions.Normalize
    val transSql = Normalize.DescTranslations.map { case (k, v) =>
      s"WHEN '${k.replace("'", "''")}' THEN '${v.replace("'", "''")}'"
    }.mkString(" ")
    val suppSql = Normalize.SuppressedDescs.map(s => s"'$s'").mkString(", ")
    QuerySpec.sql(
      "x4_snmp_alert_decide",
      s"""WITH al AS (
         |  SELECT user_id, event_id AS row_idx,
         |    event_id % 6 AS severity_num, event_id % 3 AS code,
         |    CASE event_id % 5 WHEN 0 THEN 'Sleep Mode On' WHEN 1 THEN 'מושהה'
         |         WHEN 2 THEN NULL WHEN 3 THEN 'Tray jam'
         |         ELSE '66044' END AS description
         |  FROM events
         |), cd AS (
         |  SELECT user_id, row_idx, severity_num, code,
         |    CASE trim(coalesce(description, '')) $transSql
         |         ELSE trim(coalesce(description, '')) END AS xl
         |  FROM al
         |), m AS (
         |  SELECT user_id, row_idx,
         |    CASE severity_num WHEN 1 THEN 'other' WHEN 2 THEN 'unknown'
         |         WHEN 3 THEN 'warning' WHEN 4 THEN 'critical'
         |         ELSE 'unknown' END AS tag,
         |    CASE WHEN (CASE WHEN lower(xl) IN ($suppSql) THEN '' ELSE xl END) <> ''
         |         THEN (CASE WHEN lower(xl) IN ($suppSql) THEN '' ELSE xl END)
         |         WHEN code <> 0 THEN concat('Code ', CAST(code AS VARCHAR))
         |         ELSE '' END AS msg
         |  FROM cd
         |), r AS (
         |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY
         |    CASE tag WHEN 'critical' THEN 0 WHEN 'warning' THEN 1
         |         WHEN 'other' THEN 2 ELSE 3 END, row_idx) AS rn
         |  FROM m WHERE msg <> ''
         |)
         |SELECT d.user_id,
         |  coalesce(r.msg, 'Normal') AS message,
         |  coalesce(CASE WHEN r.tag IS NULL THEN NULL
         |                WHEN r.tag = 'critical' THEN 'critical'
         |                ELSE 'warning' END, 'informational') AS severity
         |FROM (SELECT DISTINCT user_id FROM events) d
         |LEFT JOIN r ON d.user_id = r.user_id AND r.rn = 1
         |ORDER BY d.user_id""".stripMargin) { (s, d) =>
      import graft.sources.SnmpAlerts
      val ev = Tables.events(s, d)
      val alerts = ev.select(col("user_id"),
        col("event_id").as("rowIdx"),
        (col("event_id") % 6).cast("int").as("severity_num"),
        (col("event_id") % 3).cast("int").as("code"),
        when(col("event_id") % 5 === 0, "Sleep Mode On")
          .when(col("event_id") % 5 === 1, "מושהה")
          .when(col("event_id") % 5 === 3, "Tray jam")
          .when(col("event_id") % 5 === 4, "66044")
          .as("description"))
      val devices = ev.select("user_id").distinct()
      SnmpAlerts.problemSeverity(devices, alerts, None, "user_id")
        .orderBy("user_id")
    }
  }

  /** X5 — SNMP toner-code pairs (`get_snmp_toner_types` tail +
    * `_extract_code`, toner_type_snmp.py:55-107): paren token, else
    * after-HP token with the ddDV reject falling through, else LAST
    * generic uppercase token; "hp" filter, (color, code) dedup, fixed
    * color-rank sort. Brands act as devices. */
  val x5TonerCodePairs: QuerySpec = QuerySpec.sql(
    "x5_toner_code_pairs",
    s"""WITH sup AS (
       |  SELECT p_brand AS ip,
       |    CASE p_partkey % 4
       |      WHEN 0 THEN concat('black HP toner (CF', CAST(p_partkey % 900 + 100 AS VARCHAR), 'X)')
       |      WHEN 1 THEN concat('cyan cartridge for HP ', CAST(p_partkey % 900 + 100 AS VARCHAR), 'V')
       |      WHEN 2 THEN concat('yellow HP W', CAST(p_partkey % 9000 + 1000 AS VARCHAR), 'A')
       |      ELSE 'magenta mystery MX-500' END AS descr
       |  FROM part
       |), f AS (
       |  SELECT ip, descr FROM sup
       |  WHERE length(descr) > 0 AND lower(descr) LIKE '%hp%'
       |), ext AS (
       |  SELECT ip,
       |    CASE WHEN lower(descr) LIKE '%black%' THEN 'Black'
       |         WHEN lower(descr) LIKE '%cyan%' THEN 'Cyan'
       |         WHEN lower(descr) LIKE '%magenta%' THEN 'Magenta'
       |         WHEN lower(descr) LIKE '%yellow%' THEN 'Yellow'
       |         ELSE NULL END AS color,
       |    coalesce(
       |      nullif(regexp_extract(descr, '\\(([A-Z0-9\\-]{3,})\\)', 1), ''),
       |      CASE WHEN nullif(regexp_extract(descr, '(?i)\\bHP\\b\\W*([A-Z0-9\\-]{3,})', 1), '') IS NOT NULL
       |                AND NOT regexp_matches(
       |                  regexp_extract(descr, '(?i)\\bHP\\b\\W*([A-Z0-9\\-]{3,})', 1), '^\\d{3}V$$')
       |           THEN regexp_extract(descr, '(?i)\\bHP\\b\\W*([A-Z0-9\\-]{3,})', 1) END,
       |      regexp_extract_all(upper(descr), '\\b([A-Z][A-Z0-9\\-]{2,})\\b', 1)[-1]) AS code
       |  FROM f
       |), p AS (
       |  SELECT DISTINCT ip, color, code FROM ext
       |  WHERE color IS NOT NULL AND code IS NOT NULL
       |), r AS (
       |  SELECT ip, code,
       |    CASE color WHEN 'Black' THEN 0 WHEN 'Cyan' THEN 1
       |         WHEN 'Magenta' THEN 2 WHEN 'Yellow' THEN 3 ELSE 99 END AS cr
       |  FROM p
       |)
       |SELECT ip, string_agg(code, ',' ORDER BY cr, code) AS codes
       |FROM r GROUP BY ip
       |ORDER BY ip""".stripMargin) { (s, d) =>
    import graft.sources.SnmpPayload
    val pk = col("p_partkey")
    val supplies = Tables.part(s, d).select(
      col("p_brand").as("ip"),
      pk.as("rowIdx"),
      lit(3).as("supply_type"),
      when(pk % 4 === 0,
        concat(lit("black HP toner (CF"), (pk % 900 + 100).cast("string"), lit("X)")))
        .when(pk % 4 === 1,
          concat(lit("cyan cartridge for HP "), (pk % 900 + 100).cast("string"), lit("V")))
        .when(pk % 4 === 2,
          concat(lit("yellow HP W"), (pk % 9000 + 1000).cast("string"), lit("A")))
        .otherwise("magenta mystery MX-500").as("description"))
    SnmpPayload.tonerTypeCodes(supplies)
      .select(col("ip"), concat_ws(",", col("codes")).as("codes"))
      .orderBy("ip")
  }

  /** X6 — toner-id pick through the real JSON generator
    * (toner_type_web.py:28-53): per document the supplies JSON yields
    * candidates in walk order; the pick is the first W-code, else the
    * first candidate. DuckDB computes the expected pick directly from
    * the synthesized codes. */
  val x6TonerIdPick: QuerySpec = QuerySpec.sql(
    "x6_toner_id_pick",
    """WITH base AS (SELECT doc_id,
      |  CASE doc_id % 3
      |    WHEN 0 THEN concat('W', CAST(1000 + doc_id % 9000 AS VARCHAR), 'AX')
      |    WHEN 1 THEN concat('MLT-D', CAST(203 + doc_id % 700 AS VARCHAR), 'E')
      |    ELSE concat('ZZ', CAST(100 + doc_id % 900 AS VARCHAR), 'X') END AS code1,
      |  concat('see W', CAST(2000 + doc_id % 8000 AS VARCHAR), 'B') AS note
      |FROM documents)
      |SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN code1
      |       ELSE concat('W', CAST(2000 + doc_id % 8000 AS VARCHAR), 'B')
      |  END AS toner_id
      |FROM base
      |ORDER BY doc_id""".stripMargin) { (s, d) =>
    val json = concat(
      lit("{\"supplies\": {\"partno\": \""),
      when(col("doc_id") % 3 === 0,
        concat(lit("W"), (lit(1000) + col("doc_id") % 9000).cast("string"), lit("AX")))
        .when(col("doc_id") % 3 === 1,
          concat(lit("MLT-D"), (lit(203) + col("doc_id") % 700).cast("string"), lit("E")))
        .otherwise(
          concat(lit("ZZ"), (lit(100) + col("doc_id") % 900).cast("string"), lit("X"))),
      lit("\"}, \"note\": \"see W"),
      (lit(2000) + col("doc_id") % 8000).cast("string"),
      lit("B\"}"))
    Tables.documents(s, d)
      .select(col("doc_id"), json.as("body"))
      .selectExpr("doc_id", "json_toner_ids(body) AS (idx, code, contextual)")
      .groupBy("doc_id")
      // first W-code in candidate order, else first candidate
      .agg(min(struct(
        when(col("code").startsWith("W"), 0).otherwise(1).as("w"),
        col("idx"), col("code"))).as("best"))
      .select(col("doc_id"), col("best.code").as("toner_id"))
      .orderBy("doc_id")
  }

  /** X7 — Brother status.html scrape through the real regex parser
    * (brother_toner_web.py:63-95): per supplier, synthesize the
    * fixed-layout ink table — row 1 bar `<td>`s with heights carried in
    * all four reference positions (img height attr, img style height,
    * td height attr, td style height) plus a heightless bar, row 2
    * `<th>` labels incl. a blank one that is removed BEFORE the
    * positional zip — and let DuckDB derive each bar's clamped percent
    * and prettied label directly from the key. Odd suppliers get the
    * `inkLevelMono` fallback id; every 10th supplier has no table and
    * must emit nothing. The blank 5th label zips away the heightless
    * 6th bar; bar 5 keeps a null percent (no readable height). */
  val x7BrotherBars: QuerySpec = QuerySpec.sql(
    "x7_brother_bars",
    """WITH s AS (SELECT s_suppkey FROM supplier WHERE s_suppkey % 10 <> 0),
      |bars AS (
      |  SELECT s_suppkey, 0 AS bar_idx, 'Black' AS cartridge,
      |    concat(CAST(least(s_suppkey % 120, 100) AS VARCHAR), '%') AS remaining_percent
      |  FROM s
      |  UNION ALL
      |  SELECT s_suppkey, 1, 'Cyan',
      |    concat(CAST((s_suppkey * 7) % 100 AS VARCHAR), '%') FROM s
      |  UNION ALL
      |  SELECT s_suppkey, 2, 'Magenta',
      |    concat(CAST(s_suppkey % 50 AS VARCHAR), '%') FROM s
      |  UNION ALL
      |  SELECT s_suppkey, 3, 'Yellow',
      |    concat(CAST((s_suppkey * 3) % 100 AS VARCHAR), '%') FROM s
      |  UNION ALL
      |  SELECT s_suppkey, 4, 'UNK', NULL FROM s
      |)
      |SELECT s_suppkey, bar_idx, cartridge, remaining_percent
      |FROM bars
      |ORDER BY s_suppkey, bar_idx""".stripMargin) { (s, d) =>
    val k = col("s_suppkey")
    val tableId = when(k % 2 === 0, "inkLevel").otherwise("inkLevelMono")
    val html = concat(
      lit("<html><body><table id=\""), tableId, lit("\"><tbody>"),
      lit("<tr><th colspan=\"6\">Ink level</th></tr><tr>"),
      // all four height carriers, in the reference's probe order
      lit("<td><img src=\"b\" height=\""), (k % 120).cast("string"),
      lit("\"/></td>"),
      lit("<td><img src=\"b\" style=\"height:"), ((k * 7) % 100).cast("string"),
      lit("px\"/></td>"),
      lit("<td height=\""), (k % 50).cast("string"), lit("\"></td>"),
      lit("<td style=\"HEIGHT: "), ((k * 3) % 100).cast("string"),
      lit("px\"></td>"),
      lit("<td><img src=\"no-height\"/></td>"),
      lit("<td><img src=\"b\" height=\"30\"/></td>"),
      lit("</tr><tr><th>BK</th><th>cyan!</th><th>M</th><th>YELLOW</th>") ,
      lit("<th>unk#</th><th> </th></tr>"),
      lit("</tbody></table></body></html>"))
    val payloads = Tables.supplier(s, d)
      .select(k,
        when(k % 10 === 0, lit("<html>no ink table here</html>"))
          .otherwise(html).as("html"))
    PayloadParsers.brotherInkLevels(payloads, "s_suppkey")
      .orderBy("s_suppkey", "bar_idx")
  }

  /** P2 — the recursive printer finder through the real generator
    * (`_iter_printers`, update_from_json.py:67-75) over synthesized
    * nested JSON: a root-level printer (numeric ID), a fleet-array
    * printer, and a printer nested two dicts inside ANOTHER printer —
    * yielded in depth-first dict-before-values order — plus three
    * decoys that must NOT yield: printerInfo-is-a-list, lowercase
    * `id` key (Python `in` is case-sensitive), and a missing ID. The
    * oracle hand-derives the three yielded rows per document. */
  val p2RecursiveFinder: QuerySpec = QuerySpec.sql(
    "p2_recursive_finder",
    """SELECT doc_id, ord, path, id, status FROM (
      |  SELECT doc_id, 0 AS ord, '$' AS path,
      |    CAST(doc_id AS VARCHAR) AS id, 'ready' AS status FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1, '$.fleet[0]',
      |    concat('A', CAST(doc_id % 7 AS VARCHAR)), 'idle' FROM documents
      |  UNION ALL
      |  SELECT doc_id, 2, '$.fleet[0].nested.deep',
      |    concat('D', CAST(doc_id % 5 AS VARCHAR)), NULL FROM documents
      |)
      |ORDER BY doc_id, ord""".stripMargin) { (s, d) =>
    val json = concat(
      lit("{\"ID\": "), col("doc_id").cast("string"),
      lit(", \"printerInfo\": {\"status\": \"ready\"}, \"fleet\": [" +
        "{\"ID\": \"A"),
      (col("doc_id") % 7).cast("string"),
      lit("\", \"printerInfo\": {\"status\": \"idle\"}, " +
        "\"nested\": {\"deep\": {\"ID\": \"D"),
      (col("doc_id") % 5).cast("string"),
      lit("\", \"printerInfo\": {}}}}, " +
        "{\"ID\": \"L1\", \"printerInfo\": [\"x\"]}, " +
        "{\"id\": \"low\", \"printerInfo\": {\"status\": \"x\"}}, " +
        "{\"printerInfo\": {\"status\": \"y\"}}]}"))
    Tables.documents(s, d)
      .select(col("doc_id"), json.as("body"))
      .selectExpr("doc_id", "json_printers(body) AS (ord, path, id, status)")
      .orderBy("doc_id", "ord")
  }

  /** S5 — the device fan-out under the driver hash gate: a 25-device
    * frame narrowed to three `isin` IPs BEFORE [[DevicePoll.walk]] (the
    * manual pre-filter `DocumentIngest.withValidIp` applies on the
    * fleet path — the walk is opaque to Catalyst, so only the 3 kept
    * devices are polled; PlanContractSpec pins the IP set), and the
    * DeterministicSnmpFake's supplies walk re-derived in the oracle.
    * The key keeps its `dsv2` name so its oracle entry is unchanged.
    * The fake keys every row off Java
    * `ip.hashCode` — reproduced in SQL as the 31-polynomial over the
    * fixed 3-digit suffix with 32-bit signed wrap (prefix hash inlined
    * as a constant computed from the same string). */
  val s5DsV2Pushdown: QuerySpec = {
    val base = SnmpPayload.SuppliesBase
    val hp = "10.0.0.".hashCode
    QuerySpec.sql(
      "s5_dsv2_pushdown",
      s"""WITH ips AS (
         |  SELECT concat('10.0.0.', CAST(100 + n_nationkey AS VARCHAR)) AS ip,
         |         100 + n_nationkey AS m
         |  FROM nation WHERE 100 + n_nationkey IN (101, 105, 110)
         |), h AS (
         |  SELECT ip, abs(((((CAST($hp AS BIGINT) * 29791
         |      + (48 + m // 100) * 961
         |      + (48 + (m // 10) % 10) * 31
         |      + (48 + m % 10)) % 4294967296)
         |      + 4294967296 + 2147483648) % 4294967296) - 2147483648) AS habs
         |  FROM ips
         |), carts AS (
         |  SELECT ip, habs, rn FROM h, (VALUES (1),(2),(3),(4)) AS r(rn)
         |  WHERE rn <= 1 + habs % 4
         |)
         |SELECT ip, oid, value FROM (
         |  SELECT ip, concat('$base.2.1.', CAST(rn AS VARCHAR)) AS oid,
         |    '1' AS value FROM carts
         |  UNION ALL
         |  SELECT ip, concat('$base.3.1.', CAST(rn AS VARCHAR)),
         |    CAST(rn AS VARCHAR) FROM carts
         |  UNION ALL
         |  SELECT ip, concat('$base.5.1.', CAST(rn AS VARCHAR)),
         |    CASE WHEN rn = 4 THEN '5' ELSE '3' END FROM carts
         |  UNION ALL
         |  SELECT ip, concat('$base.6.1.', CAST(rn AS VARCHAR)),
         |    concat(CASE rn WHEN 1 THEN 'black' WHEN 2 THEN 'cyan'
         |                   WHEN 3 THEN 'magenta' ELSE 'yellow' END,
         |           ' cartridge ', ip) FROM carts
         |  UNION ALL
         |  SELECT ip, concat('$base.7.1.', CAST(rn AS VARCHAR)),
         |    CAST(CASE WHEN rn % 2 = 0 THEN 19 ELSE 7 END AS VARCHAR) FROM carts
         |  UNION ALL
         |  SELECT ip, concat('$base.8.1.', CAST(rn AS VARCHAR)),
         |    CAST(CASE WHEN rn % 3 = 0 THEN 0
         |              ELSE 100 + (habs % 5) * 50 END AS VARCHAR) FROM carts
         |  UNION ALL
         |  SELECT ip, concat('$base.9.1.', CAST(rn AS VARCHAR)),
         |    CAST((habs // rn) % 111 - 5 AS VARCHAR) FROM carts
         |)
         |ORDER BY ip, oid, value""".stripMargin) { (s, d) =>
      val devices = s.range(25)
        .select(concat(lit("10.0.0."), (col("id") + 100).cast("string")).as("ip"))
        .where(col("ip").isin("10.0.0.101", "10.0.0.105", "10.0.0.110"))
      DevicePoll.walk(s, devices, SnmpPayload.SuppliesBase,
        new DeterministicSnmpFake(failEvery = 0))
        .orderBy("ip", "oid", "value")
    }
  }

  val all: Seq[QuerySpec] = Seq(
    x1LedmEventElection, x2EwsPickAlert, x3JsonAlertExtract,
    x4SnmpAlertDecide, x5TonerCodePairs, x6TonerIdPick, x7BrotherBars,
    p2RecursiveFinder, s5DsV2Pushdown)
}
