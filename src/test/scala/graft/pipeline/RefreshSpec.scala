package graft.pipeline

import java.nio.file.{Files, Path, StandardCopyOption}

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.FleetSnapshot
import graft.sources.{CountingSnmpClient, DeterministicSnmpFake, DeviceClient, DocumentIngest}
import graft.tickets.TicketSearch

/** The fleet refresh through its engine entry point, [[Refresh]]: the
  * reference's numbered plan (2 addstojson, 3 tonerFinder, 4
  * convertToExcel), `--exclude` pruning, then the document and the sheet
  * write-back. Each stage runs once, so both writes read one device
  * snapshot. */
class RefreshSpec extends SparkSpec {
  import spark.implicits._

  private lazy val employees = Seq(("105", "רות כהן", "0530000001"), ("330", "", "0521111111"))
    .toDF("id", "name", "phone")
  /** Raw location rows under the reference sheet's Hebrew headers. */
  private lazy val locations = Seq(
    (0L, "105", "אלנבי 9, תל אביב 6100002", "טלפוניה", "משני", "88001"),
    (1L, "330", "דיזנגוף 50 תל אביב", "אינטרנט", "", "55001"))
    .toDF("row_idx", "מס' סניף", "כתובת", "תאור שרות ראשי", "תאור שרות משני", "מספר מנוי")
  private lazy val sheet = Seq(("3", "HQ", "old"), ("7", "HQ 2", "old"),
    ("105", "Branch 105", "old"), ("330", "Branch 330", "old"), ("404", "gone", "old"))
    .toDF("ID", "Name", "Status")
  /** The fixture's models at a valid IP: 4 printers. */
  private val models = Set("M404dn", "MFC-L9570CDW")

  /** A copy of the fixture document in a fresh directory. */
  private def fixtureCopy(): Path = {
    val p = Files.createTempDirectory("graft-refresh").resolve("printers.json")
    Files.copy(Path.of(getClass.getResource("/printers.json").toURI), p,
      StandardCopyOption.REPLACE_EXISTING)
    p
  }

  /** Refresh `docIn` into `docOut` and `sheetOut`; every stage must pass. */
  private def refresh(client: DeviceClient, docIn: Path, docOut: Path, sheetOut: Path,
      excludes: Seq[String] = Nil, models: Set[String] = models): RunSummary = {
    val summary = Refresh(docIn.toString, docOut.toString, sheetOut.toString,
      employees, locations, sheet, client, models, excludes)
    assert(summary.allOk, summary.failures.mkString("; "))
    summary
  }

  private def sheetRows(p: Path): Seq[String] =
    spark.read.parquet(p.toString).collect().map(_.mkString("|")).toSeq.sorted

  /** (group, row_idx) → the printer's `printerInfo` as JSON. */
  private def printerInfos(doc: Path): Map[(String, String), String] =
    DocumentIngest.printers(DocumentIngest.readDocument(spark, doc.toString))
      .select(col("group"), col("row_idx"), to_json(col("printerInfo"))).collect()
      .map(r => (r.getString(0), r.get(1).toString) -> r.getString(2)).toMap

  /** The `storeInfo` field of the printer with `ID` = `id`. */
  private def storeField(doc: Path, id: String, field: String): String =
    DocumentIngest.printers(DocumentIngest.readDocument(spark, doc.toString))
      .where(col("ID") === id).select(col(s"storeInfo.$field")).head().getString(0)

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

  test("a refresh releases every block its run pinned") {
    val in = fixtureCopy()
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val summary = refresh(new DeterministicSnmpFake(failEvery = 0), in,
      in.resolveSibling("out.json"), in.resolveSibling("sheet.parquet"))
    assert(spark.sparkContext.getPersistentRDDs.keySet == before)
    // what it returns reads the written sheet, not a released block
    assert(summary.out.collect().map(_.mkString("|")).toSeq.sorted ==
      sheetRows(in.resolveSibling("sheet.parquet")))
  }

  test("excluding step 3 skips the scan: no device is polled and every printerInfo stays as read") {
    val in = fixtureCopy()
    CountingSnmpClient.polls.reset()
    val summary = refresh(new CountingSnmpClient, in, in.resolveSibling("out.json"),
      in.resolveSibling("sheet.parquet"), excludes = Seq("3"))
    assert(summary.results.map(r => s"${r.step}:${r.substep}") == Seq(
      "addstojson:1_employees", "addstojson:2_locations", "convertToExcel:update_from_json"))
    assert(CountingSnmpClient.polls.sum() == 0)
    assert(printerInfos(in.resolveSibling("out.json")) == printerInfos(in))
  }

  test("excluding 2.1 skips only the employees stage") {
    val in = fixtureCopy()
    val out = in.resolveSibling("out.json")
    CountingSnmpClient.polls.reset()
    val summary = refresh(new CountingSnmpClient, in, out, in.resolveSibling("sheet.parquet"),
      excludes = Seq("2.1"))
    assert(summary.results.map(_.substep) == Seq("2_locations", "1_snmp_toner", "update_from_json"))
    assert(CountingSnmpClient.polls.sum() == 8)
    assert(storeField(out, "105", "Manager") == storeField(in, "105", "Manager"))
    assert(storeField(out, "105", "Location") == "אלנבי 9, תל אביב")
  }

  test("an invalid exclude token is reported and the whole plan still runs") {
    val in = fixtureCopy()
    CountingSnmpClient.polls.reset()
    val summary = refresh(new CountingSnmpClient, in, in.resolveSibling("out.json"),
      in.resolveSibling("sheet.parquet"), excludes = Seq("tonerFinder, 3.x"))
    assert(summary.results.size == 4)
    assert(summary.warnings.filter(_.startsWith("Ignoring invalid --exclude value")) == Seq(
      "Ignoring invalid --exclude value: tonerFinder", "Ignoring invalid --exclude value: 3.x"))
    assert(CountingSnmpClient.polls.sum() == 8)
  }

  test("a printer at a valid IP whose Type is outside the model set is neither polled nor changed") {
    val in = fixtureCopy()
    val out = in.resolveSibling("out.json")
    CountingSnmpClient.polls.reset()
    refresh(new CountingSnmpClient, in, out, in.resolveSibling("sheet.parquet"),
      models = Set("M404DN"))
    // 3 M404dn printers at a valid IP × (supplies, colorant); the
    // MFC-L9570CDW at 10.5.0.12 (Branches_Grouped row 0) is left alone
    assert(CountingSnmpClient.polls.sum() == 6)
    val (was, now) = (printerInfos(in), printerInfos(out))
    assert(now(("Branches_Grouped", "0")) == was(("Branches_Grouped", "0")))
    assert(now(("Company_Grouped", "2")) != was(("Company_Grouped", "2")))
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
