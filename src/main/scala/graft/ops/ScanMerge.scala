package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, StructType}

import graft.sources.DocumentIngest

/** The tonerFinder merge rule (plugins/tonerFinder/toner_hp.py:75-93,
  * same shape in toner_brother.py): SELECTED printers (good IP + model
  * match) get `printerInfo.status/cartridges` written from the scan —
  * a device whose scan produced nothing degrades to ("offline", [])
  * like the reference's per-printer except-branch — while UNSELECTED
  * printers are untouched (their printerInfo stays null if it was
  * null: `ensure_printer_info` only runs on selected records).
  *
  * Scale: one equi-join keyed by device IP. The results side (the
  * poll's `mapPartitions` inside the same plan) is hashed by IP once,
  * by `SnmpPayload.cartridges`' `groupBy(ip)`, and [[onePerIp]] rides
  * that partitioning. A fleet-sized results side has size statistics
  * below the broadcast threshold, so the join plans as a broadcast from
  * the start and the printers are never shuffled. */
object ScanMerge {

  /** printerInfo widened to the canonical fields: a register fresh from
    * an Excel import has none, and JSON inference types only the fields
    * some record carries. */
  private def withPi(printers: DataFrame): DataFrame =
    DocumentIngest.ensureStruct(printers, "printerInfo", DocumentIngest.PrinterInfoFields)

  private def piField(printers: DataFrame, name: String): DataType =
    printers.schema("printerInfo").dataType.asInstanceOf[StructType](name).dataType

  /** One scan row per device: the reference processes each printer's IP
    * exactly once (a per-device call, not a result TABLE), so a results
    * frame carrying duplicate IPs (e.g. an appended retry) must not fan
    * the fleet out through the merge join — keep one row per key.
    * Spark keeps no append order across a results frame, so the
    * reference's "last appended wins" is not reconstructable: the pick
    * is the min over the value struct — deterministic but
    * value-lexicographic. Cost note: the dedup hashes on the same key
    * as the results' upstream `groupBy(ip)`, so it rides that exchange;
    * `array_min(collect_list(...))` plans as one hash aggregate, where
    * `min` over a struct holding an array needs a sort. */
  private def onePerIp(r: DataFrame): DataFrame = {
    val valueCols = r.columns.filterNot(_ == "scan_ip")
    r.groupBy("scan_ip")
      .agg(array_min(collect_list(struct(valueCols.map(col): _*))).as("__v"))
      .select(col("scan_ip") +: valueCols.map(c => col(s"__v.`$c`").as(c)): _*)
  }

  /** Shared write-back skeleton: join scan results to SELECTED printers
    * by normalized IP, then rewrite printerInfo via `hit` (a scan row
    * answered) or `miss` (selected but nothing came back — the
    * reference's per-printer except-branch). Unselected rows keep their
    * printerInfo verbatim. `printers` is already [[withPi]]-widened. */
  private def writeBack(printers: DataFrame, r0: DataFrame, selected: Column)(
      hit: Column => Column, miss: Column => Column): DataFrame = {
    val piBase = DocumentIngest.structBase(printers, "printerInfo")
    val r = onePerIp(r0)
    val scanCols = r.columns.toSeq
    printers
      .withColumn("__sel", selected)
      .withColumn("__ip", DocumentIngest.ipOf(printers))
      .join(r, col("__ip") === col("scan_ip") && col("__sel"), "left")
      .withColumn("printerInfo",
        when(!col("__sel") || col("__sel").isNull, col("printerInfo"))
          .when(col("scan_ip").isNotNull, hit(piBase))
          .otherwise(miss(piBase)))
      .drop(Seq("__sel", "__ip") ++ scanCols: _*)
  }

  /** @param printers unified printers frame (printerInfo struct column)
    * @param results  scan output `(ip, status, cartridges)`
    * @param selected the plugin's selection predicate over `printers`
    *                 (e.g. valid IP ∧ model set; NOTE the reference's
    *                 --only-ip mode selects by IP equality ALONE — no
    *                 type screen — so pass only the ip predicate there) */
  def apply(printers: DataFrame, results: DataFrame, selected: Column): DataFrame = {
    val pw = withPi(printers)
    val cartsType = piField(pw, "cartridges")
    val r = results.select(col("ip").as("scan_ip"),
      col("status").as("scan_status"), col("cartridges").as("scan_carts"))
    writeBack(pw, r, selected)(
      hit = _.withField("status", col("scan_status"))
        .withField("cartridges", col("scan_carts").cast(cartsType)),
      miss = _.withField("status", lit("offline"))
        .withField("cartridges", array().cast(cartsType)))
  }

  /** The tonerType merge rule (plugins/tonerType/toner_type_snmp.py:
    * 61-94, toner_type_web.py:56-89) — the third write-back family,
    * and the only one with a GROUP-representative access path: selected
    * printers are grouped by `strip(str(Type))`; each group takes ONE
    * preset — the first member (document order) already holding a
    * valid-typed non-empty tonerType, else the scan result of the
    * group's first good-IP representative, else the family's empty
    * value — and the preset is backfilled to EVERY member
    * (`ensure_printer_info` creates printerInfo on members lacking it).
    * Unselected printers are untouched.
    *
    * Dual typing: SNMP writes a list (toner_type_snmp.py:49,93), web a
    * plain string (toner_type_web.py:44,88). This engine's canonical
    * schema unifies tonerType to array<string> at ingest (SURVEY §1.2),
    * so the web path unifies AT MERGE too: a scalar scan result wraps
    * to a 1-element array, and web's empty-string write lands as
    * [""] — exactly what re-ingesting the reference's store would
    * yield. The probe keeps each family's isinstance guard as far as
    * the unified type can carry it: SNMP accepts any non-empty array
    * (including [""], faithful to `isinstance(tt0, list) and tt0`),
    * web accepts only a 1-element array with a non-empty element (a
    * multi-element array is SNMP-shaped — `isinstance(tt0, str)`
    * fails). Post-unification a 1-element SNMP list is indistinguishable
    * from a web scalar; the reference's disjoint TARGET_TYPES mean the
    * ambiguity only arises on hand-authored cross-family residue.
    *
    * Scale: this is the reference's per-group scan cache — ONE probe
    * per model, not per device. Here: one partial-agg groupBy over the
    * selected fleet (group count bounded by the model set, ~14), a
    * broadcast join against the scan results, and a broadcast join
    * back — no fleet-sized shuffle anywhere.
    *
    * @param printers unified printers frame (printerInfo.tonerType is
    *                 array<string>; `group`/`row_idx` give doc order)
    * @param results  scan output — snmp: `(ip, codes array<string>)`,
    *                 web: `(ip, tid string)`
    * @param selected the plugin's selection predicate (good IP ∧ model
    *                 set, mirroring the reference's group builder)
    * @param web      which family's probe/write/empty rules apply */
  def tonerType(printers: DataFrame, results: DataFrame, selected: Column,
      web: Boolean): DataFrame = {
    val pw = withPi(printers)
    val ttType = piField(pw, "tonerType")
    val piBase = DocumentIngest.structBase(pw, "printerInfo")
    val r = onePerIp(results.select(col("ip").as("scan_ip"),
      (if (web) DocumentIngest.unifyTonerType(col("tid")) else col("codes"))
        .cast(ttType).as("scan_tt")))
    val emptyPreset =
      (if (web) array(lit("")) else array()).cast(ttType)
    // global document order: groups in GroupKeys order, then row_idx
    // (iter_printers walks group arrays in declaration order) — as a
    // two-field struct ordering, NOT a packed arithmetic key, so it
    // holds for any group size; unknown groups rank last so they LOSE
    // the first-wins (min) probe/representative picks
    val grpRank = DocumentIngest.groupRank(DocumentIngest.GroupKeys.size.toLong)
    val tt = col("printerInfo").getField("tonerType")
    val probeOk =
      if (web) tt.isNotNull && size(tt) === 1 &&
        get(tt, lit(0)).isNotNull && get(tt, lit(0)) =!= ""
      else tt.isNotNull && size(tt) > 0
    val sel = pw
      .withColumn("__sel", selected)
      .withColumn("__t", trim(coalesce(col("Type").cast("string"), lit(""))))
      .withColumn("__gr", grpRank)
      .withColumn("__ri", col("row_idx").cast("long"))
      .withColumn("__gip",
        when(DocumentIngest.hasValidIp(printers), DocumentIngest.ipOf(printers)))
    def firstByDocOrder(v: Column) =
      struct(col("__gr").as("g"), col("__ri").as("r"), v.as("v"))
    val presets = sel.filter(col("__sel"))
      .groupBy(col("__t"))
      .agg(
        min(when(probeOk, firstByDocOrder(tt))).as("probe"),
        min(when(col("__gip").isNotNull, firstByDocOrder(col("__gip"))))
          .as("rep"))
      .select(col("__t").as("p_type"), col("probe.v").as("probe_tt"),
        col("rep.v").as("rep_ip"))
      .join(r, col("rep_ip") === col("scan_ip"), "left")
      .select(col("p_type"),
        coalesce(col("probe_tt"), col("scan_tt"), emptyPreset).as("preset"))
    pw
      .withColumn("__sel", selected)
      .withColumn("__t", trim(coalesce(col("Type").cast("string"), lit(""))))
      .join(broadcast(presets), col("__t") === col("p_type") && col("__sel"),
        "left")
      .withColumn("printerInfo",
        when(!col("__sel") || col("__sel").isNull, col("printerInfo"))
          .otherwise(piBase.withField("tonerType",
            coalesce(col("preset"), emptyPreset))))
      .drop("__sel", "__t", "p_type", "preset")
  }

  /** The printerError merge rule (plugins/printerError/
    * snmp_active_alerts.py:43-82, identical in ews/ledm variants):
    * selected printers get `printerInfo.printerError = {problem,
    * severity}` from the alert poll; a selected device that yielded
    * nothing takes this family's DISTINCT except-branch default
    * {"Offline", "critical"} — not the tonerFinder ("offline", [])
    * pair. The struct replaces any previous printerError wholesale
    * (`info["printerError"] = {...}`). */
  def alerts(printers: DataFrame, results: DataFrame, selected: Column): DataFrame = {
    def pe(p: Column, s: Column): Column =
      struct(p.as("problem"), s.as("severity"))
    val r = results.select(col("ip").as("scan_ip"),
      col("problem").as("scan_problem"), col("severity").as("scan_severity"))
    writeBack(withPi(printers), r, selected)(
      hit = _.withField("printerError",
        pe(col("scan_problem"), col("scan_severity"))),
      miss = _.withField("printerError", pe(lit("Offline"), lit("critical"))))
  }
}
