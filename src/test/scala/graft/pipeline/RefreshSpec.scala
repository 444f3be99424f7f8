package graft.pipeline

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.{Enrich, FleetSnapshot, ScanMerge}
import graft.sources.{CountingSnmpClient, DeterministicSnmpFake, DeviceClient, DevicePoll,
  DocumentIngest, SnmpPayload}
import graft.tickets.TicketSearch

/** The fleet refresh's stage shape, built from engine classes: enrich →
  * SNMP scan (supplies and colorant walks, cartridges, merge) →
  * snapshot → upsert through `Pipeline.run`, then the document and the
  * sheet write-back. Each stage runs once, so both writes read one
  * device snapshot. */
class RefreshSpec extends SparkSpec {
  import spark.implicits._

  private lazy val employees = Seq(("105", "רות כהן", "0530000001"), ("330", "", "0521111111"))
    .toDF("id", "name", "phone")
  private lazy val locations = Seq(
    (0L, "105", "אלנבי 9, תל אביב 6100002", "טלפוניה", "משני", "88001"),
    (1L, "330", "דיזנגוף 50 תל אביב", "אינטרנט", "", "55001"))
    .toDF("row_idx", "branch_id", "address", "primary_desc", "secondary_desc", "subscriber")
  private lazy val sheet = Seq(("3", "HQ", "old"), ("7", "HQ 2", "old"),
    ("105", "Branch 105", "old"), ("330", "Branch 330", "old"), ("404", "gone", "old"))
    .toDF("ID", "Name", "Status")

  /** A copy of the fixture document in a fresh directory. */
  private def fixtureCopy(): Path = {
    val p = Files.createTempDirectory("graft-refresh").resolve("printers.json")
    Files.copy(Path.of(getClass.getResource("/printers.json").toURI), p,
      StandardCopyOption.REPLACE_EXISTING)
    p
  }

  /** Refresh `docIn`, then write the document to `docOut` and the sheet
    * to `sheetOut`, in the fleet job's order. */
  private def refresh(client: DeviceClient, docIn: Path, docOut: Path, sheetOut: Path): Unit = {
    var scanned: DataFrame = null
    val stages = Seq(
      Stage("enrich", "1_employees", df => Enrich.employees(df, employees).drop("changed")),
      Stage("enrich", "2_locations", df => Enrich.locations(df, locations)),
      Stage("tonerFinder", "1_snmp_toner", { df =>
        val devs = DocumentIngest.withValidIp(df)
        val walk = DevicePoll.walk(spark, devs, SnmpPayload.SuppliesBase, client, 2)
          .unionByName(DevicePoll.walk(spark, devs, SnmpPayload.ColorantBase, client, 2))
        val carts = SnmpPayload.cartridges(walk).withColumn("status", lit("online"))
        ScanMerge(df, carts, DocumentIngest.hasValidIp(df))
      }),
      Stage("extract", "snapshot", { df => scanned = df; FleetSnapshot(df) }),
      Stage("load", "upsert", df => FleetSnapshot.updateSheet(sheet, FleetSnapshot.upsertIdMap(df))))
    val doc = DocumentIngest.printers(DocumentIngest.readDocument(spark, docIn.toString))
    val summary = Pipeline.run(doc, stages)
    assert(summary.allOk, summary.failures.mkString("; "))
    DocumentIngest.writeDocument(scanned, docOut.toString)
    summary.out.write.parquet(sheetOut.toString)
  }

  private def sheetRows(p: Path): Seq[String] =
    spark.read.parquet(p.toString).collect().map(_.mkString("|")).toSeq.sorted

  test("an in-place refresh writes the document and sheet of one that writes elsewhere") {
    val client = new DeterministicSnmpFake(failEvery = 0)
    val inPlace = fixtureCopy()
    refresh(client, inPlace, inPlace, inPlace.resolveSibling("sheet.parquet"))
    val src = fixtureCopy()
    refresh(client, src, src.resolveSibling("out.json"), src.resolveSibling("sheet.parquet"))
    assert(Files.readString(inPlace) == Files.readString(src.resolveSibling("out.json")))
    assert(sheetRows(inPlace.resolveSibling("sheet.parquet")) ==
      sheetRows(src.resolveSibling("sheet.parquet")))
  }

  test("a counting client sees one walk per (device, OID) across the run and both writes") {
    val in = fixtureCopy()
    CountingSnmpClient.polls.reset()
    refresh(new CountingSnmpClient, in, in.resolveSibling("out.json"),
      in.resolveSibling("sheet.parquet"))
    // 4 printers at a valid IP × (supplies, colorant)
    assert(CountingSnmpClient.polls.sum() == 8)
  }

  test("a second refresh in the same session compiles no class and does the same work") {
    /** One refresh, the written store read back and a helpdesk lookup on
      * it: (document, sheet, lookup rows, walks, classes compiled). */
    def once(): (String, Seq[String], Seq[String], Long, Long) = {
      val in = fixtureCopy()
      val (docOut, sheetOut) = (in.resolveSibling("out.json"), in.resolveSibling("sheet.parquet"))
      CountingSnmpClient.polls.reset()
      val compiled0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      refresh(new CountingSnmpClient, in, docOut, sheetOut)
      val walks = CountingSnmpClient.polls.sum()
      val store = DocumentIngest.printers(DocumentIngest.readDocument(spark, docOut.toString))
      val found = TicketSearch.extract(TicketSearch.byField(store, "Branches_Grouped", "id", "105"))
        .collect().map(_.mkString("|")).toSeq
      val sheetOutRows = sheetRows(sheetOut)
      (Files.readString(docOut), sheetOutRows, found, walks,
        CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiled0)
    }
    val (doc1, sheet1, found1, walks1, _) = once()
    val (doc2, sheet2, found2, walks2, compiled2) = once()
    assert(compiled2 == 0, s"the warm refresh compiled $compiled2 classes")
    assert(doc2 == doc1 && sheet2 == sheet1 && found2 == found1 && found1.size == 1)
    assert(walks1 == 8 && walks2 == 8)
  }

  test("a client that answers differently on every call still yields a document and sheet that agree") {
    val in = fixtureCopy()
    val (docOut, sheetOut) = (in.resolveSibling("out.json"), in.resolveSibling("sheet.parquet"))
    refresh(new FlakySnmpClient, in, docOut, sheetOut)
    val written = DocumentIngest.printers(DocumentIngest.readDocument(spark, docOut.toString))
    val fromDoc = in.resolveSibling("from_doc.parquet")
    FleetSnapshot.updateSheet(sheet, FleetSnapshot.upsertIdMap(FleetSnapshot(written)))
      .write.parquet(fromDoc.toString)
    assert(sheetRows(sheetOut) == sheetRows(fromDoc))
  }
}

/** A device whose toner levels move between any two walks. */
final class FlakySnmpClient extends DeviceClient {
  private val fake = new DeterministicSnmpFake(failEvery = 0)
  override def walk(ip: String, baseOid: String): Seq[(String, String)] = {
    val level = (FlakySnmpClient.calls.incrementAndGet() % 90).toString
    fake.walk(ip, baseOid).map { case (o, v) => (o, if (o.startsWith(s"$baseOid.9.")) level else v) }
  }
}

object FlakySnmpClient {
  val calls = new java.util.concurrent.atomic.AtomicLong
}
