package graft.queries

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Enrich, FleetSnapshot, ScanMerge}
import graft.sources.DocumentIngest

/** X8 — the full reference pipeline as ONE hash-gated oracle: a
  * printers document synthesized from `customer` flows through the real
  * composed operators — J1 employees enrich (last-wins index,
  * non-empty-wins update) → J2 locations enrich (last-wins address with
  * postal split, first-seen ranked description pairs, first-subscriber
  * LineID) → tonerFinder scan merge (hit/miss/untouched)
  * → tonerType group-representative merge (probe-else-scan preset
  * backfill) → extract_info flattening (status classify, per-color
  * cells, toner display) → J3 last-wins id-map upsert — while DuckDB
  * predicts the final sheet algebraically from the same `c_custkey`
  * residues. A hash match gates the CHAIN end-to-end: every stage's
  * write-back rule, join key, and ordering contract at once, not each
  * operator in isolation (core/pipeline.py:67-147 is this composition;
  * stage semantics per the cited operator files).
  *
  * Synthesis map (k = c_custkey):
  * group k%2, row_idx k/2, ID k%399 (399 is odd, so equal IDs genuinely
  * straddle the two groups → the J3 upsert's cross-group DOCUMENT-order
  * last-wins is exercised, not just the within-group path),
  * IP k%7 (two bad-IP shapes), Type k%5 (two tonerFinder models, one
  * tonerType model, one foreign, one blank), printerInfo present iff
  * k%3≠0, status/printerError k%4, cartridges (k/2)%6 (verbatim "37%",
  * int-render "55"/"88.0", float "12.5"/"0.5", "-" placeholder, null
  * value, empty), tonerType k%11, employees last-wins on k with blank
  * names at k%6=0, tonerFinder scan answers at k%3=1, tonerType scan
  * answers at k%3=2.
  *
  * Scale: the chain inherits each operator's shape — broadcast side
  * tables, one bounded groupBy for the tonerType preset, narrow
  * projections elsewhere; nothing here shuffles the fleet more than
  * the standalone operators do. */
object PipelineE2EQueries {

  private val CartsType =
    "array<struct<cartridge:string,remaining_percent:string>>"

  val x8PipelineE2E: QuerySpec = QuerySpec.sql(
    "x8_pipeline_e2e",
    """WITH base AS (
      |  SELECT c_custkey AS k,
      |    CASE WHEN c_custkey % 2 = 0 THEN 0 ELSE 1 END AS grp,
      |    c_custkey // 2 AS ridx,
      |    CAST(c_custkey % 399 AS VARCHAR) AS id,
      |    CASE WHEN c_custkey % 7 = 0 THEN '0.0.0.0'
      |         WHEN c_custkey % 7 = 1 THEN '-'
      |         ELSE concat('10.', CAST(c_custkey % 250 AS VARCHAR), '.',
      |                     CAST(c_custkey // 250 AS VARCHAR), '.9') END AS ip,
      |    CASE c_custkey % 5 WHEN 0 THEN 'M404dn' WHEN 1 THEN 'M426fdw'
      |         WHEN 2 THEN 'E60055' WHEN 3 THEN 'HL-L8360CDW' ELSE '' END AS typ
      |  FROM customer
      |), attrs AS (
      |  SELECT *,
      |    (k % 7 >= 2) AS good_ip,
      |    ((k // 2) % 6) AS cc,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN k % 4 = 0 THEN 'Ready' WHEN k % 4 = 1 THEN 'POWER off'
      |         WHEN k % 4 = 2 THEN 'sleep' ELSE '' END AS status0,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN k % 4 = 0 THEN 'Ready' WHEN k % 4 = 1 THEN 'Paper jam'
      |         WHEN k % 4 = 2 THEN '' ELSE NULL END AS err0,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN k % 4 = 0 THEN 'informational' WHEN k % 4 = 1 THEN 'critical'
      |         WHEN k % 4 = 2 THEN '' ELSE NULL END AS sev0,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN (k // 2) % 6 = 1 THEN '37%' WHEN (k // 2) % 6 = 2 THEN '55'
      |         WHEN (k // 2) % 6 = 3 THEN '-' END AS black0,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN (k // 2) % 6 = 2 THEN '12.5' END AS cyan0,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN (k // 2) % 6 = 4 THEN '0.5' END AS magenta0,
      |    CASE WHEN k % 3 = 0 THEN NULL
      |         WHEN (k // 2) % 6 = 5 THEN '88' END AS yellow0,
      |    CASE WHEN k % 3 <> 0 AND k % 11 = 0 THEN concat('W', CAST(k % 9 AS VARCHAR))
      |         WHEN k % 3 <> 0 AND k % 11 = 3 THEN 'A, B' END AS ttdisp0,
      |    (k % 3 <> 0 AND (k % 11 = 0 OR k % 11 = 3)) AS tt_nonempty
      |  FROM base
      |), sel AS (
      |  SELECT *,
      |    (good_ip AND lower(trim(typ)) IN ('m404dn', 'm426fdw')) AS sel_tf,
      |    (good_ip AND lower(trim(typ)) = 'e60055') AS sel_tt
      |  FROM attrs
      |), emps AS (
      |  SELECT CAST(c_custkey % 399 AS VARCHAR) AS eid,
      |    arg_max(CASE WHEN c_custkey % 6 = 0 THEN ''
      |                 ELSE concat('E', CAST(c_custkey AS VARCHAR)) END,
      |            c_custkey) AS wname,
      |    arg_max(concat('P', CAST(c_custkey % 100 AS VARCHAR)),
      |            c_custkey) AS wphone
      |  FROM customer GROUP BY 1
      |), locp AS (
      |  SELECT CAST(c_custkey % 399 AS VARCHAR) AS lbid,
      |    MAX(c_custkey) AS kmax
      |  FROM customer GROUP BY 1
      |), lp AS (
      |  SELECT CAST(c_custkey % 399 AS VARCHAR) AS lbid,
      |    concat('P', CAST(c_custkey % 3 AS VARCHAR)) AS pd,
      |    concat('S', CAST(c_custkey % 2 AS VARCHAR)) AS sd,
      |    MIN(c_custkey) AS fs,
      |    arg_min(concat('05', CAST(c_custkey AS VARCHAR)), c_custkey)
      |      FILTER (WHERE c_custkey % 4 = 0) AS line
      |  FROM customer GROUP BY 1, 2, 3
      |), lr AS (
      |  SELECT *, ROW_NUMBER() OVER (PARTITION BY lbid ORDER BY fs) AS prn
      |  FROM lp
      |), ldesc AS (
      |  SELECT lbid,
      |    MAX(CASE WHEN prn = 1 THEN pd END) AS p1_pd,
      |    MAX(CASE WHEN prn = 1 THEN coalesce(line, '') END) AS p1_line,
      |    MAX(CASE WHEN prn = 2 THEN sd END) AS p2_sd
      |  FROM lr WHERE prn <= 2 GROUP BY lbid
      |), tt_grp AS (
      |  -- document order = (grp, ridx) lexicographic, never a packed key
      |  SELECT
      |    (SELECT ttdisp0 FROM sel WHERE sel_tt AND tt_nonempty
      |     ORDER BY grp, ridx LIMIT 1) AS probe_disp,
      |    (SELECT k FROM sel WHERE sel_tt
      |     ORDER BY grp, ridx LIMIT 1) AS rep_k
      |), tt_preset AS (
      |  SELECT CASE WHEN probe_disp IS NOT NULL THEN probe_disp
      |              WHEN rep_k % 3 = 2 THEN concat('TT', CAST(rep_k % 4 AS VARCHAR))
      |              ELSE NULL END AS preset_disp
      |  FROM tt_grp
      |), merged AS (
      |  SELECT s.*,
      |    CASE WHEN sel_tf AND k % 3 = 1 THEN 'polled'
      |         WHEN sel_tf THEN 'offline' ELSE status0 END AS status1,
      |    CASE WHEN sel_tf AND k % 3 = 1 THEN '6'
      |         WHEN sel_tf THEN NULL ELSE black0 END AS black1,
      |    CASE WHEN sel_tf THEN NULL ELSE cyan0 END AS cyan1,
      |    CASE WHEN sel_tf THEN NULL ELSE magenta0 END AS magenta1,
      |    CASE WHEN sel_tf THEN NULL ELSE yellow0 END AS yellow1,
      |    CASE WHEN sel_tt THEN p.preset_disp ELSE ttdisp0 END AS tt1
      |  FROM sel s CROSS JOIN tt_preset p
      |), classified AS (
      |  SELECT *,
      |    CASE WHEN s2 LIKE '%online%' OR s2 LIKE '%ready%' OR s2 LIKE '%idle%'
      |           OR s2 LIKE '%sleep%' OR s2 LIKE '%printing%' OR s2 LIKE '%working%'
      |           OR s2 LIKE '%active%' OR s2 LIKE '%ok%' OR s2 LIKE '%connected%'
      |         THEN 'online'
      |         WHEN s2 LIKE '%offline%' OR s2 LIKE '%down%' OR s2 LIKE '%disconnected%'
      |           OR s2 LIKE '%error%' OR s2 LIKE '%unknown%' OR s2 LIKE '%not reachable%'
      |           OR s2 LIKE '%unreachable%' OR s2 LIKE '%no connection%' OR s2 LIKE '%disabled%'
      |         THEN 'offline'
      |         WHEN s2 LIKE '%off%' THEN 'offline'
      |         WHEN s2 LIKE '%on%' THEN 'online'
      |         ELSE 'offline' END AS status_cls
      |  FROM (SELECT *, lower(trim(coalesce(status1, ''))) AS s2 FROM merged)
      |), ranked AS (
      |  SELECT c.*, e.wname, e.wphone, l.kmax, dd.p1_pd, dd.p1_line, dd.p2_sd,
      |    ROW_NUMBER() OVER (PARTITION BY c.id ORDER BY c.grp DESC, c.ridx DESC) AS rn
      |  FROM classified c JOIN emps e ON c.id = e.eid
      |    JOIN locp l ON c.id = l.lbid
      |    JOIN ldesc dd ON c.id = dd.lbid
      |)
      |SELECT id, status_cls AS status,
      |  black1 AS black, cyan1 AS cyan, magenta1 AS magenta, yellow1 AS yellow,
      |  err0 AS error, sev0 AS severity, tt1 AS toner_type,
      |  CASE WHEN grp = 1 AND trim(wname) <> '' THEN wname END AS manager,
      |  CASE WHEN grp = 1 AND trim(wphone) <> '' THEN wphone END AS phone,
      |  CASE WHEN grp = 1 THEN concat('Addr ', CAST(kmax AS VARCHAR)) END AS location,
      |  CASE WHEN grp = 1 THEN CAST(kmax + 1000000 AS VARCHAR) END AS postal,
      |  CASE WHEN grp = 1 THEN p1_line END AS line_id,
      |  CASE WHEN grp = 1 THEN p1_pd END AS first_primary,
      |  CASE WHEN grp = 1 THEN p2_sd END AS second_secondary
      |FROM ranked WHERE rn = 1
      |ORDER BY id""".stripMargin) { (s, d) =>
    val k = col("k")
    val base = Tables.customer(s, d).select(col("c_custkey").cast("long").as("k"))
    val ipC = when(k % 7 === 0, "0.0.0.0")
      .when(k % 7 === 1, "-")
      .otherwise(concat(lit("10."), (k % 250).cast("string"), lit("."),
        expr("k div 250").cast("string"), lit(".9")))
    val typC = when(k % 5 === 0, "M404dn").when(k % 5 === 1, "M426fdw")
      .when(k % 5 === 2, "E60055").when(k % 5 === 3, "HL-L8360CDW")
      .otherwise("")
    val cc = expr("(k div 2) % 6")
    def cart(name: Column, v: Column) =
      struct(name.as("cartridge"), v.as("remaining_percent"))
    val nullS = lit(null).cast("string")
    val carts0 = when(cc === 1, array(cart(lit("Black"), lit("37%"))))
      .when(cc === 2, array(cart(lit("Black"), lit("55")),
        cart(lit("Cyan"), lit("12.5"))))
      .when(cc === 3, array(cart(lit("black toner"), lit("-"))))
      .when(cc === 4, array(cart(lit("Cyan"), nullS),
        cart(lit("Magenta"), lit("0.5"))))
      .when(cc === 5, array(cart(lit("Yellow"), lit("88.0"))))
      .otherwise(expr("array()").cast(CartsType))
    val tt0 = when(k % 11 === 0, array(concat(lit("W"), (k % 9).cast("string"))))
      .when(k % 11 === 1, expr("array()").cast("array<string>"))
      .when(k % 11 === 3, array(lit("A"), lit("B")))
      .otherwise(lit(null).cast("array<string>"))
    val status0 = when(k % 4 === 0, "Ready").when(k % 4 === 1, "POWER off")
      .when(k % 4 === 2, "sleep").otherwise("")
    val problem0 = when(k % 4 === 0, "Ready").when(k % 4 === 1, "Paper jam")
      .when(k % 4 === 2, "").otherwise(nullS)
    val sev0 = when(k % 4 === 0, "informational").when(k % 4 === 1, "critical")
      .when(k % 4 === 2, "").otherwise(nullS)
    val pi0 = when(k % 3 =!= 0, struct(
      status0.as("status"), carts0.as("cartridges"),
      struct(problem0.as("problem"), sev0.as("severity")).as("printerError"),
      tt0.as("tonerType")))
    val p0 = base.select(
      when(k % 2 === 0, "Company_Grouped").otherwise("Branches_Grouped")
        .as("group"),
      expr("k div 2").as("row_idx"),
      (k % 399).cast("string").as("ID"),
      ipC.as("Printer IP"), typC.as("Type"), pi0.as("printerInfo"))
    val emp = base.select((k % 399).cast("string").as("id"),
      when(k % 6 === 0, "").otherwise(concat(lit("E"), k.cast("string")))
        .as("name"),
      concat(lit("P"), (k % 100).cast("string")).as("phone"),
      k.as("row_idx"))
    val locs = base.select((k % 399).cast("string").as("branch_id"),
      concat(lit("Addr "), k.cast("string"), lit(" "),
        (k + 1000000).cast("string")).as("address"),
      concat(lit("P"), (k % 3).cast("string")).as("primary_desc"),
      concat(lit("S"), (k % 2).cast("string")).as("secondary_desc"),
      when(k % 4 === 0, concat(lit("05"), k.cast("string"))).as("subscriber"),
      k.as("row_idx"))
    val tfRes = base.filter(k % 3 === 1 && k % 7 >= 2)
      .select(ipC.as("ip"), lit("polled").as("status"),
        array(cart(lit("Black"), lit("6"))).as("cartridges"))
    val ttRes = base.filter(k % 3 === 2 && k % 7 >= 2)
      .select(ipC.as("ip"),
        array(concat(lit("TT"), (k % 4).cast("string"))).as("codes"))

    val p1 = Enrich.locations(Enrich.employees(p0, emp), locs)
    val modelOf = lower(trim(coalesce(col("Type"), lit(""))))
    val p2 = ScanMerge(p1, tfRes,
      DocumentIngest.hasValidIp(p1) && modelOf.isin("m404dn", "m426fdw"))
    val p3 = ScanMerge.tonerType(p2, ttRes,
      DocumentIngest.hasValidIp(p2) && modelOf === "e60055", web = false)
    // storeInfo fields ride the snapshot projection (no fleet re-join)
    val snapPlus = FleetSnapshot(p3,
      col("storeInfo").getField("Manager").as("manager"),
      col("storeInfo").getField("Phone").as("phone"),
      col("storeInfo").getField("Location").as("location"),
      col("storeInfo").getField("Postal").as("postal"),
      col("storeInfo").getField("firstDescription").getField("LineID")
        .as("line_id"),
      col("storeInfo").getField("firstDescription")
        .getField("PrimaryDescription").as("first_primary"),
      col("storeInfo").getField("secondDescription")
        .getField("SecondayDescription").as("second_secondary"))
    FleetSnapshot.upsertIdMap(snapPlus)
      .select(col("id"), col("Status").as("status"),
        col("Black").as("black"), col("Cyan").as("cyan"),
        col("Magenta").as("magenta"), col("Yellow").as("yellow"),
        col("Error").as("error"), col("Severity").as("severity"),
        col("Toner Type").as("toner_type"),
        col("manager"), col("phone"), col("location"), col("postal"),
        col("line_id"), col("first_primary"), col("second_secondary"))
      .orderBy("id")
  }

  val all: Seq[QuerySpec] = Seq(x8PipelineE2E)
}
