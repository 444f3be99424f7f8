package graft.tools

import org.apache.spark.sql.functions._

import graft.ops.{Enrich, FleetSnapshot}
import graft.pipeline.{Pipeline, Stage}
import graft.sources.{DevicePoll, DeterministicSnmpFake, DocumentIngest, SnmpPayload}
import graft.spark.Sessions
import graft.tickets.{TicketItem, TicketPlugins, TicketSearch}

/** Runnable end-to-end demo of the reference workflow on the fixture
  * document (SURVEY.md §3.1/§3.3): ingest → device scan → merge →
  * snapshot → keyed upsert, then a point-lookup ticket. A user of the
  * reference runs `python -m cli.main`; a user of this engine runs
  * this shape (with real paths and a real DeviceClient). */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = Sessions.local(4)
    import spark.implicits._
    // the bundled fixture may live inside the jar — stage it to a file
    val docPath = args.headOption.getOrElse {
      val in = getClass.getResourceAsStream("/printers.json")
      if (in == null) sys.error("pass the printers.json path")
      val tmp = java.nio.file.Files.createTempFile("printers", ".json")
      java.nio.file.Files.copy(in, tmp,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      tmp.toString
    }

    val printers = DocumentIngest.printers(
      DocumentIngest.readDocument(spark, docPath))

    // device scan: filter BEFORE the fan-out (manual pushdown), poll,
    // parse, merge with the reference's tonerFinder rule — selected
    // devices that answered get status+cartridges, selected devices
    // that didn't degrade to ("offline", []), the rest stay untouched
    val client = new DeterministicSnmpFake(failEvery = 0)
    val scanStage = (df: org.apache.spark.sql.DataFrame) => {
      val devices = DocumentIngest.withValidIp(df)
      val supplies = DevicePoll.walk(spark, devices, SnmpPayload.SuppliesBase, client, 4)
      val colorant = DevicePoll.walk(spark, devices, SnmpPayload.ColorantBase, client, 4)
      val results = SnmpPayload.cartridges(supplies.union(colorant))
        .withColumn("status", lit("online"))
      graft.ops.ScanMerge(df, results, DocumentIngest.hasValidIp(df))
    }

    val sheet = Seq(("105", "Branch 105", ""), ("3", "HQ", ""))
      .toDF("ID", "Name", "Status")
    val summary = Pipeline.run(printers, Seq(
      Stage("scan", "1_snmp_toner", scanStage),
      Stage("extract", "snapshot", FleetSnapshot(_)),
      Stage("load", "upsert", df => FleetSnapshot.updateSheet(
        FleetSnapshot.upgradeHeaders(sheet), FleetSnapshot.upsertIdMap(df)))))

    println(s"[demo] stages ok=${summary.allOk}")
    summary.results.foreach(r =>
      println(f"[demo]   ${r.step}%-8s ${r.substep}%-14s ${r.elapsedS}%6.2fs ok=${r.ok}"))
    summary.out.show(truncate = false)

    // point-lookup ticket (§3.3)
    val found = TicketSearch.extract(
      TicketSearch.byField(printers, "Branches_Grouped", "id", "105"))
    val ticket = TicketSearch.toTicket(found.collect().head)
    val plugin = TicketPlugins.byAlias("toner")
    val items = Seq(TicketItem("Black", 2))
    println(s"[demo] subject: ${plugin.subject(ticket)}")
    println(plugin.html(ticket, items))
    spark.stop()
  }
}
