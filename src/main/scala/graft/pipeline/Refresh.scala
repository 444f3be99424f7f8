package graft.pipeline

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.{Enrich, FleetSnapshot, ScanMerge}
import graft.queries.Clustering
import graft.sources.{DeviceClient, DevicePoll, DocumentIngest, SideTables, SnmpPayload}

/** The fleet refresh, the reference's `python -m cli.main` (SURVEY.md
  * §3.1): its numbered plan over the JSON store, pruned by `--exclude`
  * tokens, then the write-back. Without a convertToJson stage step 1 is
  * still consumed: 2 addstojson (2.1 employees, 2.2 locations), 3
  * tonerFinder (the SNMP scan), 4 convertToExcel (snapshot → upsert →
  * sheet update, one stage as in `update_from_json.py`). */
object Refresh {

  /** Refresh the store at `docIn` into `docOut` (the same path refreshes
    * in place) and the sheet into `sheetOut` (replaced if present). The
    * raw side tables get their headers resolved here; the scan selects
    * printers at a valid IP whose `lower(trim(Type))` is in `models` (a
    * plugin's TARGET_TYPES, core/printers.py:38-40). The document is
    * written from the last group stage's output, the sheet from step 4's
    * (unwritten if step 4 did not run). The stage outputs `Pipeline.run`
    * materialized are released after the writes (blocks other threads
    * pinned are left alone), and `out` lazily reads the written sheet,
    * else the document. */
  def apply(docIn: String, docOut: String, sheetOut: String,
      employees: DataFrame, locations: DataFrame, sheet: DataFrame,
      client: DeviceClient, models: Set[String], excludes: Seq[String] = Nil): RunSummary = {
    val spark = sheet.sparkSession
    val (emp, locs) = (SideTables.employees(employees), SideTables.locations(locations))
    def selected(df: DataFrame) = DocumentIngest.hasValidIp(df) &&
      lower(trim(coalesce(col("Type").cast("string"), lit(""))))
        .isin(models.toSeq.map(_.toLowerCase): _*)
    val groups = Seq(
      "addstojson" -> Seq(
        Stage("addstojson", "1_employees", df => Enrich.employees(df, emp).drop("changed")),
        Stage("addstojson", "2_locations", df => Enrich.locations(df, locs))),
      "tonerFinder" -> Seq(Stage("tonerFinder", "1_snmp_toner", { df =>
        val devs = df.where(selected(df)).withColumn("ip", DocumentIngest.ipOf(df))
        val walk = DevicePoll.walk(spark, devs, SnmpPayload.SuppliesBase, client)
          .unionByName(DevicePoll.walk(spark, devs, SnmpPayload.ColorantBase, client))
        val carts = SnmpPayload.cartridges(walk).withColumn("status", lit("online"))
        ScanMerge(df, carts, selected(df))
      })))
    val toSheet = Stage("convertToExcel", "update_from_json", df => FleetSnapshot.updateSheet(
      FleetSnapshot.upgradeHeaders(sheet), FleetSnapshot.upsertIdMap(FleetSnapshot(df))))
    val (plan, planWarnings) = Pipeline.numberedPlan(None, groups, Some(toSheet))
    val (exSteps, exSubs, invalid) = Pipeline.parseExcludes(excludes)

    val pinned = Seq.newBuilder[DataFrame]
    try {
      var document = DocumentIngest.printers(DocumentIngest.readDocument(spark, docIn))
      val summary = Pipeline.run(document, Pipeline.pruneNumbered(plan, exSteps, exSubs),
        { (name, df) =>
          pinned += df
          if (!name.startsWith(toSheet.step)) document = df
        })
      DocumentIngest.writeDocument(document, docOut)
      val out = if (summary.results.exists(r => r.step == toSheet.step && r.ok)) {
        summary.out.write.mode("overwrite").parquet(sheetOut)
        spark.read.schema(summary.out.schema).parquet(sheetOut)
      } else DocumentIngest.printers(DocumentIngest.readDocument(spark, docOut))
      summary.copy(out = out, warnings =
        planWarnings ++ invalid.map(t => s"Ignoring invalid --exclude value: $t"))
    } finally pinned.result().foreach(Clustering.release)
  }
}
