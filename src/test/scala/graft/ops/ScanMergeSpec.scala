package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.sources.DocumentIngest

class ScanMergeSpec extends SparkSpec {
  import spark.implicits._

  private lazy val printers = DocumentIngest.printers(
    DocumentIngest.readDocument(spark,
      getClass.getResource("/printers.json").getPath))

  test("selected+scanned written; selected+missing degrades; unselected untouched") {
    val results = Seq(
      ("10.0.1.7", "online", Seq(("Black", "41%")))) // only one device answered
      .toDF("ip", "status", "carts")
      .select(col("ip"), col("status"),
        expr("transform(carts, c -> named_struct('cartridge', c._1, 'remaining_percent', c._2))")
          .as("cartridges"))
    // select: valid IP and HP models only (the toner_hp shape)
    val selected = lower(trim(coalesce(col("Type"), lit(""))))
      .isin("m404dn", "m426fdw") &&
      DocumentIngest.ipOf(printers).isNotNull &&
      !lower(DocumentIngest.ipOf(printers)).isin(DocumentIngest.BadIps: _*)

    val out = ScanMerge(printers, results, selected)
    val byIdx = out
      .select(col("group"), col("row_idx"),
        col("printerInfo.status").as("st"),
        size(col("printerInfo.cartridges")).as("n"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) -> (r.getString(2), r.getInt(3)))
      .toMap

    // ID 3 @10.0.1.7 (M404dn): scanned → written
    assert(byIdx(("Company_Grouped", 0L)) == ("online", 1))
    // ID "7.0" (M426fdw) has a bad IP "-": UNSELECTED → original kept
    assert(byIdx(("Company_Grouped", 1L)) == ("sleep mode", 2))
    // ID " 7\n" @10.0.3.9 (M404dn): selected, no scan row → offline, []
    assert(byIdx(("Company_Grouped", 2L)) == ("offline", 0))
  }

  test("register with no printerInfo anywhere: every family merges, snapshot reads it") {
    // the first refresh after an Excel import: no record carries printerInfo
    val path = java.nio.file.Files.createTempFile("graft-register", ".json")
    java.nio.file.Files.writeString(path, """{"Company_Grouped": [
      |  {"ID": 1, "Printer IP": "10.0.0.1", "Type": "M404dn"},
      |  {"ID": 2, "Printer IP": "10.0.0.2", "Type": "M404dn"},
      |  {"ID": 3, "Printer IP": "-", "Type": "M404dn"}]}""".stripMargin)
    val register = DocumentIngest.printers(DocumentIngest.readDocument(spark, path.toString))
    assert(!register.columns.contains("printerInfo"))
    val selected = DocumentIngest.hasValidIp(register)
    val results = Seq(("10.0.0.1", "online", "Black", "41%")).toDF("ip", "status", "c", "p")
      .select(col("ip"), col("status"),
        array(struct(col("c").as("cartridge"), col("p").as("remaining_percent"))).as("cartridges"))

    val merged = ScanMerge(register, results, selected)
    val pi = merged.orderBy("ID").select(col("ID"), col("printerInfo.status"),
      size(col("printerInfo.cartridges")), col("printerInfo").isNull).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.get(2), r.getBoolean(3))).toMap
    assert(pi("1") == ("online", 1, false))   // hit
    assert(pi("2") == ("offline", 0, false))  // selected, no scan row
    assert(pi("3")._3)                        // unselected: stays null
    val snap = FleetSnapshot(merged).orderBy("id").select("id", "Status", "Black", "Error")
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2), r.getString(3))).toSeq
    assert(snap == Seq(("1", "online", "41%", null), ("2", "offline", null, null),
      ("3", "offline", null, null)))

    val alerted = ScanMerge.alerts(register,
      Seq(("10.0.0.1", "Paper jam", "critical")).toDF("ip", "problem", "severity"), selected)
    assert(alerted.orderBy("ID").select("printerInfo.printerError.problem").as[String]
      .collect().toSeq == Seq("Paper jam", "Offline", null))
    val codes = Seq(("10.0.0.1", Seq("W1470A"))).toDF("ip", "codes")
    val typed = ScanMerge.tonerType(register, codes, selected, web = false)
    assert(typed.orderBy("ID").select("printerInfo.tonerType").as[Seq[String]]
      .collect().toSeq == Seq(Seq("W1470A"), Seq("W1470A"), null))

    // a printerInfo carrying only `status` gains the missing fields too
    val partial = register.withColumn("printerInfo", struct(lit("idle").as("status")))
    val both = ScanMerge.tonerType(ScanMerge(partial, results, selected), codes, selected,
      web = false)
    assert(FleetSnapshot(both).orderBy("id").select("Status", "Black", "Toner Type")
      .collect().map(_.toSeq).toSeq == Seq(Seq("online", "41%", "W1470A"),
        Seq("offline", null, "W1470A"), Seq("online", null, null)))
  }

  test("tonerType merge: group probe backfills every member, creates printerInfo") {
    // snmp family over the fixture: the M404dn group's first member
    // (doc order) holds ["W1470A"] → probe wins, no scan needed, and
    // the preset backfills ALL members — including Branches 330 which
    // has no printerInfo at all (ensure_printer_info)
    val results = Seq.empty[(String, Seq[String])].toDF("ip", "codes")
    val ipN = DocumentIngest.ipOf(printers)
    val selected = lower(trim(coalesce(col("Type"), lit(""))))
      .isin("m404dn", "mfc-l9570cdw") &&
      ipN.isNotNull && !lower(ipN).isin(DocumentIngest.BadIps: _*)

    val out = ScanMerge.tonerType(printers, results, selected, web = false)
    val byIdx = out
      .select(col("group"), col("row_idx"),
        col("printerInfo.tonerType").as("tt"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) ->
        Option(r.getSeq[String](2)).map(_.toList))
      .toMap

    // M404dn group: probe = first member's ["W1470A"], backfilled to all
    assert(byIdx(("Company_Grouped", 0L)) == Some(List("W1470A")))
    assert(byIdx(("Company_Grouped", 2L)) == Some(List("W1470A")))
    // Branches 330 (M404dn, good ip, NO printerInfo): gains the struct
    assert(byIdx(("Branches_Grouped", 2L)) == Some(List("W1470A")))
    // MFC-L9570CDW group: the web-written scalar unified at ingest to
    // ["MLT-D203E"] counts as a non-empty list for the snmp probe
    assert(byIdx(("Branches_Grouped", 0L)) == Some(List("MLT-D203E")))
    // unselected (bad IPs): untouched
    assert(byIdx(("Company_Grouped", 1L)) == Some(List("CF226X", "CF226X")))
    assert(byIdx(("Branches_Grouped", 1L)).isEmpty) // null stays null
  }

  test("tonerType merge: scan path, web scalar unify-at-merge, family empty defaults") {
    // synthetic frame: no usable presets, so the representative scan
    // decides; exercises the web-vs-snmp probe guard on [""] and both
    // families' empty defaults
    val p2 = Seq(
      ("Company_Grouped", 0L, "408dn", "10.9.0.1", null.asInstanceOf[String]),
      ("Company_Grouped", 1L, "408dn", "10.9.0.2", null.asInstanceOf[String]),
      ("Company_Grouped", 2L, "MFP432", "10.9.0.3", ""),
      ("Company_Grouped", 3L, "E60055", "10.9.0.4", null.asInstanceOf[String]),
      ("Branches_Grouped", 0L, "408dn", "-", "S1"))
      .toDF("group", "row_idx", "Type", "Printer IP", "tt0")
      .withColumn("printerInfo",
        when(col("tt0").isNotNull, struct(lit("x").as("status"),
          DocumentIngest.unifyTonerType(col("tt0")).as("tonerType"))))
      .drop("tt0")
    val ipN = DocumentIngest.ipOf(p2)
    val selected = ipN.isNotNull && !lower(ipN).isin(DocumentIngest.BadIps: _*)

    def ttOf(out: org.apache.spark.sql.DataFrame) = out
      .select(col("group"), col("row_idx"), col("printerInfo.tonerType").as("tt"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) ->
        Option(r.getSeq[String](2)).map(_.toList))
      .toMap

    // web: scalar scan result wraps to a 1-element array at merge;
    // [""] is not a probe (empty string); scan-less group → [""]
    val web = ttOf(ScanMerge.tonerType(p2,
      Seq(("10.9.0.1", "TID42")).toDF("ip", "tid"),
      selected && lower(trim(col("Type"))).isin("408dn", "mfp432"), web = true))
    assert(web(("Company_Grouped", 0L)) == Some(List("TID42")))
    assert(web(("Company_Grouped", 1L)) == Some(List("TID42"))) // backfill
    assert(web(("Company_Grouped", 2L)) == Some(List(""))) // no probe, no scan → ""
    assert(web(("Company_Grouped", 3L)).isEmpty) // unselected type: untouched
    assert(web(("Branches_Grouped", 0L)) == Some(List("S1"))) // bad ip: untouched

    // snmp on the same frame: [""] IS a non-empty list → probe wins for
    // MFP432; the scan-less E60055 group takes the snmp empty [] —
    // and the scanned 408dn group takes the array result as-is
    val snmp = ttOf(ScanMerge.tonerType(p2,
      Seq(("10.9.0.1", Seq("C1", "C2"))).toDF("ip", "codes"),
      selected && lower(trim(col("Type"))).isin("408dn", "mfp432", "e60055"),
      web = false))
    assert(snmp(("Company_Grouped", 0L)) == Some(List("C1", "C2")))
    assert(snmp(("Company_Grouped", 1L)) == Some(List("C1", "C2")))
    assert(snmp(("Company_Grouped", 2L)) == Some(List("")))
    assert(snmp(("Company_Grouped", 3L)) == Some(Nil)) // snmp empty default []
    assert(snmp(("Branches_Grouped", 0L)) == Some(List("S1")))
  }

  /** An appended retry row for the same device: the reference calls
    * each device once (dict semantics). */
  private def duplicateResults = Seq(
    ("10.0.1.7", "online", Seq(("Black", "41%"))),
    ("10.0.1.7", "retry-won", Seq(("Black", "40%"), ("Cyan", "9%"))))
    .toDF("ip", "status", "carts")
    .select(col("ip"), col("status"),
      expr("transform(carts, c -> named_struct('cartridge', c._1, 'remaining_percent', c._2))")
        .as("cartridges"))

  private def hpSelected = lower(trim(coalesce(col("Type"), lit(""))))
    .isin("m404dn", "m426fdw") &&
    DocumentIngest.ipOf(printers).isNotNull &&
    !lower(DocumentIngest.ipOf(printers)).isin(DocumentIngest.BadIps: _*)

  test("duplicate scan-result IPs never fan out the fleet") {
    // the merge must keep one row per ip and one output row per printer
    val out = ScanMerge(printers, duplicateResults, hpSelected)
    assert(out.count() == printers.count()) // no duplication
    // deterministic pick (min over the value struct): "online" < "retry-won"
    val hit = out.filter(col("group") === "Company_Grouped" && col("row_idx") === 0)
      .select(col("printerInfo.status")).collect().head.getString(0)
    assert(hit == "online")
  }

  private val helper = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}

  test("the scan-stage merge plans as a broadcast from the start: the printers are never shuffled") {
    import org.apache.spark.sql.execution.exchange.Exchange
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec, SortMergeJoinExec}
    import graft.sources.{DeterministicSnmpFake, DevicePoll, SnmpPayload}
    // the refresh's tonerFinder stage: a materialized register, both
    // walks of its selected devices, cartridges, then the merge
    val pc = printers.localCheckpoint()
    val selected = lower(trim(coalesce(col("Type"), lit(""))))
      .isin("m404dn", "m426fdw") && DocumentIngest.hasValidIp(pc)
    val devs = pc.where(selected).withColumn("ip", DocumentIngest.ipOf(pc))
    val client = new DeterministicSnmpFake(failEvery = 0)
    val walk = DevicePoll.walk(spark, devs, SnmpPayload.SuppliesBase, client)
      .unionByName(DevicePoll.walk(spark, devs, SnmpPayload.ColorantBase, client))
    val out = ScanMerge(pc, SnmpPayload.cartridges(walk).withColumn("status", lit("online")),
      selected)
    assert(out.collect().length == printers.count())
    assert(out.queryExecution.sparkPlan.collect { case j: SortMergeJoinExec => j }.isEmpty)
    val joins = helper.collect(out.queryExecution.executedPlan) { case j: BaseJoinExec => j }
    assert(joins.length == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec])
    assert(helper.collect(joins.head.left) { case e: Exchange => e }.isEmpty)
  }

  test("one row per scan IP in one hash aggregate: no Sort, no SortAggregate on the results side") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, BroadcastHashJoinExec}
    val out = ScanMerge(printers, duplicateResults, hpSelected)
    assert(out.count() == printers.count())
    val joins = helper.collect(out.queryExecution.executedPlan) { case j: BaseJoinExec => j }
    assert(joins.length == 1 && joins.head.isInstanceOf[BroadcastHashJoinExec])
    val results = joins.head.right
    assert(helper.collect(results) { case s: SortExec => s }.isEmpty)
    assert(helper.collect(results) { case a: SortAggregateExec => a }.isEmpty)
    assert(helper.collect(results) { case a: ObjectHashAggregateExec => a }.nonEmpty)
  }

  test("alerts merge: printerError family defaults to {Offline, critical}") {
    // the printerError plugins' except-branch default differs from the
    // tonerFinder one (snmp_active_alerts.py:56-58 vs toner_hp.py:66-69)
    val results = Seq(("10.0.1.7", "Paper jam", "critical"))
      .toDF("ip", "problem", "severity")
    val selected = lower(trim(coalesce(col("Type"), lit(""))))
      .isin("m404dn", "m426fdw") &&
      DocumentIngest.ipOf(printers).isNotNull &&
      !lower(DocumentIngest.ipOf(printers)).isin(DocumentIngest.BadIps: _*)

    val out = ScanMerge.alerts(printers, results, selected)
    val byIdx = out
      .select(col("group"), col("row_idx"),
        col("printerInfo.printerError.problem").as("p"),
        col("printerInfo.printerError.severity").as("sv"),
        col("printerInfo.status").as("st"))
      .collect()
      .map(r => (r.getString(0), r.getAs[Number](1).longValue) ->
        (r.getString(2), r.getString(3), r.getString(4)))
      .toMap

    // scanned: alert written; pre-existing status untouched by this rule
    assert(byIdx(("Company_Grouped", 0L))._1 == "Paper jam")
    assert(byIdx(("Company_Grouped", 0L))._2 == "critical")
    // unselected (bad IP): whatever was there stays
    assert(byIdx(("Company_Grouped", 1L))._3 == "sleep mode")
    // selected, no scan row → the alert-family failure default
    assert(byIdx(("Company_Grouped", 2L))._1 == "Offline")
    assert(byIdx(("Company_Grouped", 2L))._2 == "critical")
  }
}
