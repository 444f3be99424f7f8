package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize
import graft.sources.DocumentIngest

/** The `extract_info` flattening (SURVEY.md §7.2 slice 0): unified
  * printer records → one flat sheet-update row per printer with the
  * columns the reference writes back to Excel
  * (core/excel/update_from_json.py:77-124, result column list :191).
  *
  * Semantics carried over exactly:
  *  - status classified through the keyword chain (F4, :42-58);
  *  - per-color columns Black/Cyan/Magenta/Yellow (:91-105): value is
  *    Python `float(rp)` — so the usual "37%" string FAILS the parse
  *    and is kept VERBATIM; plain numeric strings render int-if-
  *    integral; the cell is only overwritten while it is None/"-"
  *    (first non-placeholder wins, else the last placeholder);
  *  - Error/Severity raw from the printerError struct (:108-111);
  *  - Toner Type (:113-123): per-element str+strip, drop empties
  *    (null elements are Python `str(None)` == "None"), first-seen
  *    dedup, ", " join, empty → null;
  *  - dashing/sanitizing happens at the SHEET write (update_sheet
  *    :205), not here — the snapshot keeps raw nulls.
  *
  * Not representable post-ingest: the carts[0].status fallback
  * (:82-86 — our cartridge struct carries no status field) and the
  * err["error"] alternate key (:110 — schema has only `problem`).
  *
  * Everything is a narrow projection — no shuffle at any scale.
  */
object FleetSnapshot {

  private val Colors = Seq("Black", "Cyan", "Magenta", "Yellow")

  /** Reference cell value for one color (update_from_json.py:91-105):
    * first matching cartridge whose computed value is not None/"-",
    * else the last match's placeholder value, else null. */
  def colorValue(cartridges: Column, color: String): Column = {
    val hits = filter(cartridges,
      c => Normalize.normalizeColor(c.getField("cartridge")) === color)
    val vals = transform(hits, c => {
      val rp = c.getField("remaining_percent")
      val d = rp.try_cast("double")
      when(rp.isNull, lit(null).cast("string"))
        .when(d.isNotNull && d === floor(d), d.cast("long").cast("string"))
        .when(d.isNotNull, d.cast("string"))
        .otherwise(rp)
    })
    val good = filter(vals, v => v.isNotNull && v =!= "-")
    // get() is 0-based and null-safe out of bounds (including the
    // empty-array -1 case) — ANSI element_at would throw.
    when(size(good) > 0, get(good, lit(0)))
      .otherwise(get(vals, size(vals) - 1))
  }

  /** A10 display string (update_from_json.py:113-123). */
  def tonerTypeDisplay(tt: Column): Column = {
    val cleaned = array_distinct(filter(
      transform(tt, x => coalesce(trim(x.cast("string")), lit("None"))),
      v => v =!= ""))
    when(tt.isNotNull && size(cleaned) > 0, concat_ws(", ", cleaned))
      .otherwise(lit(null).cast("string"))
  }

  /** Printers (DocumentIngest.printers shape) → flat snapshot; a
    * printerInfo field the register lacks reads null.
    * `keep` columns ride along in the same projection (e.g. storeInfo
    * fields a caller wants in the sheet) — a pass-through, never a
    * join. */
  def apply(printers: DataFrame, keep: Column*): DataFrame = {
    val pi = col("printerInfo")
    val carts = coalesce(pi.getField("cartridges"),
      expr("array()").cast("array<struct<cartridge:string,remaining_percent:string>>"))
    val colorCols = Colors.map(c => colorValue(carts, c).as(c))
    DocumentIngest.ensureStruct(printers, "printerInfo", DocumentIngest.PrinterInfoFields).select(
      Seq(col("group"), col("row_idx"),
        Normalize.canonicalizeId(col("ID")).as("id"),
        Normalize.statusOnlineOffline(pi.getField("status")).as("Status"))
        ++ colorCols ++ Seq(
        pi.getField("printerError").getField("problem").as("Error"),
        pi.getField("printerError").getField("severity").as("Severity"),
        tonerTypeDisplay(pi.getField("tonerType")).as("Toner Type"))
        ++ keep: _*)
  }

  /** J3: last-wins id→snapshot map then keyed upsert into a sheet
    * (update_from_json.py:126-135 — later records overwrite earlier
    * ones — and :187-212 — only matching sheet rows change).
    * "Later" means DOCUMENT order — groups in declaration order, then
    * row index (iter_printers, core/printers.py:6-17) — so when the
    * same canonical id appears in two groups, the later GROUP wins even
    * at a smaller row_idx; the ordering key is (group rank, row_idx),
    * made deterministic per SURVEY.md §4.3. At lake scale this is the
    * MERGE INTO shape: broadcast the small id-map side. */
  def upsertIdMap(snapshot: DataFrame): DataFrame = {
    val valueCols = snapshot.columns.filterNot(Seq("group", "row_idx", "id").contains)
    // unknown groups rank -1 so they LOSE the max_by last-wins pick —
    // iter_printers would never have yielded them
    val grpRank =
      if (snapshot.columns.contains("group")) DocumentIngest.groupRank(-1L)
      else lit(0L)
    snapshot
      // build_id_map skips records whose canonical id is falsy (:128-131)
      .where(length(coalesce(col("id"), lit(""))) > 0)
      .groupBy("id")
      .agg(max_by(struct(valueCols.map(col): _*),
        struct(grpRank.as("g"), col("row_idx").as("r"))).as("v"))
      .select(col("id") +: valueCols.map(c => col(s"v.`$c`").as(c)): _*)
  }

  /** Legacy header upgrade (SURVEY.md §7.4 hard part 3,
    * update_from_json.py:167-177): when no "Toner Type" column exists,
    * the FIRST column headed "type" (case-insensitive, trimmed) is
    * renamed to "Toner Type" — faithfully including the reference's
    * quirk that this may claim the model column on legacy sheets. */
  def upgradeHeaders(sheet: DataFrame): DataFrame = {
    val lower = sheet.columns.map(_.trim.toLowerCase)
    if (lower.contains("toner type")) sheet
    else lower.indexOf("type") match {
      case -1 => sheet
      case i => sheet.withColumnRenamed(sheet.columns(i), "Toner Type")
    }
  }

  /** Apply the id-map to a sheet: rows with a matching canonical ID take
    * the new values — written through `sanitize(dash_if_blank(v))`
    * exactly like update_sheet's cell write (update_from_json.py:205) —
    * while others pass through unchanged (left join + conditional
    * update, the reference's "update only matching rows"). */
  def updateSheet(sheet: DataFrame, idMap: DataFrame): DataFrame = {
    // Qualify through the frame refs: Spark's default case-insensitive
    // resolution would otherwise see sheet.ID and idMap.id as ambiguous.
    val sheetId = Normalize.canonicalizeId(sheet("ID"))
    val updatable = idMap.columns.filterNot(_ == "id")
    def cell(c: String): Column =
      Normalize.sanitizeCell(Normalize.dashIfBlank(idMap(c)))
    // Deliberately NO broadcast() hint: the id-map is fleet-cardinality —
    // the same order as the sheet side — so an unconditional hint would
    // override AQE's size-based choice and become an OOM if this operator
    // is ever reused on data-scale keys. Size-based selection (AQE at
    // runtime, stats at plan time) still broadcasts every real printer
    // fleet; PlanContractSpec pins that.
    val joined = sheet.join(idMap, sheetId === idMap("id"), "left")
    val updated = sheet.columns.map { c =>
      if (updatable.contains(c))
        when(idMap("id").isNotNull, cell(c)).otherwise(sheet(c)).as(c)
      else sheet(c).as(c)
    } ++ updatable.filterNot(sheet.columns.contains).map(c =>
      when(idMap("id").isNotNull, cell(c)).otherwise(lit(null).cast("string")).as(c))
    joined.select(updated: _*)
  }
}
