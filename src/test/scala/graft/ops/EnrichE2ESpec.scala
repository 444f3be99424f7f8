package graft.ops

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.pipeline.{Pipeline, Stage}
import graft.sources.{DocumentIngest, SideTables}

/** Pipeline e2e (SURVEY.md §5.4): fixture document → full stage chain
  * (ingest → enrich employees → enrich locations → extract snapshot →
  * keyed upsert) with golden assertions on the final frame. */
class EnrichE2ESpec extends SparkSpec {
  import spark.implicits._

  private lazy val printers = DocumentIngest.printers(
    DocumentIngest.readDocument(spark,
      getClass.getResource("/printers.json").getPath))

  // A3-shaped employees (header synonyms exercised in SourcesSpec; here
  // already canonical). Empty name for 212 must NOT clobber.
  private lazy val employees = Seq(
    ("105", "רות כהן", "0530000001"),
    ("212", "", "0521111111"),
    ("999", "orphan", "0500000000"))
    .toDF("id", "name", "phone")

  // A4-shaped locations with explicit source row index: branch 105 has
  // 3 rows — duplicate (primary, secondary) pair first, then a second
  // pair; later address wins; postal is the trailing 7-digit run.
  private lazy val locations = Seq(
    (0L, "105", "הרצל 1, תל אביב 6100001", "אינטרנט", "ראשי", "77001"),
    (1L, "105", "הרצל 1, תל אביב 6100001", "אינטרנט", "ראשי", "77002"),
    (2L, "105", "אלנבי 9, תל אביב 6100002", "טלפוניה", "משני", "88001"),
    (3L, "105", "אלנבי 9, תל אביב 6100002", "סיבים", "גיבוי", "99001"),
    (4L, "212", "דיזנגוף 50 תל אביב", "אינטרנט", "", "55001"))
    .toDF("row_idx", "branch_id", "address", "primary_desc",
      "secondary_desc", "subscriber")

  test("J1: non-empty-wins manager/phone + changed flags") {
    val out = Enrich.employees(printers, employees)
    val b105 = out.where($"ID" === "105").select("storeInfo.Manager",
      "storeInfo.Phone", "changed").collect().head
    assert(b105.getString(0) == "רות כהן")      // overwritten (non-empty)
    assert(b105.getString(1) == "0530000001")
    assert(b105.getBoolean(2))
    val b212 = out.where($"ID" === "212").select("storeInfo.Manager",
      "storeInfo.Phone", "changed").collect().head
    assert(b212.isNullAt(0))                     // empty name did NOT set
    assert(b212.getString(1) == "0521111111")    // phone did
    // company rows untouched, no join applied
    assert(out.where($"group" === "Company_Grouped" && $"changed").count() == 0)
  }

  private def descOf(d: Row): (String, String, String) =
    if (d == null) null
    else (d.getAs[String]("PrimaryDescription"), d.getAs[String]("SecondayDescription"),
      d.getAs[String]("LineID"))

  /** Branch → (Location, Postal, first pair, second pair). */
  private def storeInfoById(out: DataFrame): Map[String, (String, String,
      (String, String, String), (String, String, String))] =
    out.where($"group" === "Branches_Grouped")
      .select($"ID", $"storeInfo.Location", $"storeInfo.Postal",
        $"storeInfo.firstDescription", $"storeInfo.secondDescription")
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.getString(2),
        descOf(r.getStruct(3)), descOf(r.getStruct(4))))).toMap

  // branch 105's golden values under the locations fixture: row_idx=3's
  // address wins with its postal stripped; the first-seen pair carries
  // its first subscriber; rank 3 is dropped
  private val golden105 = ("אלנבי 9, תל אביב", "6100002",
    ("אינטרנט", "ראשי", "77001"), ("טלפוניה", "משני", "88001"))

  test("J2: last-wins address, postal split, first-seen pair ranking") {
    // beside the fixture: 212 gains a both-halves-blank row (skipped —
    // its subscriber must not surface), a second pair with a blank
    // primary whose first row has a blank subscriber, and a third pair
    // (dropped); 330 has pairs but no address; 331 (a copy of printer
    // 330) has an address but no pairs
    val extra = Seq(
      (5L, "212", "   ", " ", "  ", "55000"),
      (6L, "212", null, null, "גיבוי", " "),
      (7L, "212", "", " ", "גיבוי", "66001"),
      (8L, "212", null, "סיבים", "x", "66002"),
      (9L, "330", "", "טלפוניה", " משני ", null),
      (10L, "330", "  ", "טלפוניה", "משני", "33001"),
      (11L, "331", "רוטשילד 1 תל אביב 6500001", null, "", "70001"))
      .toDF(locations.columns.toSeq: _*)
    // rows arrive in reverse row order, spread over partitions: every
    // order must come from row_idx, not arrival
    val shuffled = locations.union(extra).orderBy($"row_idx".desc).repartition(3)
    val fleet = printers.union(
      printers.where($"ID" === "330").withColumn("ID", lit("331")))
    val got = storeInfoById(Enrich.locations(fleet, shuffled))
    assert(got("105") == golden105)
    assert(got("212") == (("דיזנגוף 50 תל אביב", null,
      ("אינטרנט", "", "55001"), ("", "גיבוי", "66001"))))
    assert(got("330") == ((null, null, ("טלפוניה", "משני", "33001"), null)))
    assert(got("331") == (("רוטשילד 1 תל אביב", "6500001", null, null)))
  }

  test("J2: one per-branch aggregate — no window, no second aggregate") {
    val plan = Enrich.locations(printers, locations).queryExecution.optimizedPlan
    assert(plan.collect { case a: Aggregate => a }.size == 1, plan.treeString)
    assert(plan.collect { case w: Window => w }.isEmpty, plan.treeString)
  }

  test("S4→J2: a Hebrew-header locations sheet keeps its row order through SideTables") {
    val raw = locations.select($"branch_id".as("מס' סניף"), $"address".as("כתובת"),
      $"primary_desc".as("תאור שרות ראשי"), $"secondary_desc".as("תאור שרות משני"),
      $"subscriber".as("מספר מנוי"), $"row_idx".cast("string").as("row_idx"))
    val side = SideTables.locations(raw)
    assert(storeInfoById(Enrich.locations(printers, side))("105") == golden105)
    // a row holding nothing but its row index is still a blank row
    val blank = Seq[(String, String, String, String, String, String)](
      (" ", "", null, null, " ", "5")).toDF(raw.columns.toSeq: _*)
    assert(SideTables.locations(raw.union(blank)).count() == side.count())
  }

  test("S3→J1: the later employee row wins even when its name sorts lower") {
    val raw = Seq(("0", "105", "zed", "0500000001"), ("1", "105", "amy", "0500000002"))
      .toDF("row_idx", "Branch ID", "Contact", "Phone")
    val b105 = Enrich.employees(printers, SideTables.employees(raw))
      .where($"ID" === "105").select("storeInfo.Manager", "storeInfo.Phone")
      .collect().head
    assert(b105.getString(0) == "amy" && b105.getString(1) == "0500000002")
  }

  test("J1+J2: a storeInfo inferred with only Manager/Phone is widened, not FIELD_NOT_FOUND") {
    val doc = java.nio.file.Files.createTempFile("partial_si", ".json")
    doc.toFile.deleteOnExit()
    java.nio.file.Files.write(doc, ("""{"Branches_Grouped": [{"ID": 105,""" +
      """ "Printer IP": "10.5.0.12", "storeInfo": {"Manager": "old", "Phone": "050"}}]}""")
      .getBytes("UTF-8"))
    val partial = DocumentIngest.printers(DocumentIngest.readDocument(spark, doc.toString))
    val out = Enrich.locations(Enrich.employees(partial, employees), locations)
    val si = out.select("storeInfo.*").collect().head
    assert(si.getAs[String]("Manager") == "רות כהן")
    assert(si.getAs[String]("Phone") == "0530000001")
    assert(si.getAs[String]("Location") == "אלנבי 9, תל אביב")
    assert(si.getAs[String]("Postal") == "6100002")
    assert(si.getAs[org.apache.spark.sql.Row]("firstDescription")
      .getAs[String]("PrimaryDescription") == "אינטרנט")
    assert(si.getAs[org.apache.spark.sql.Row]("secondDescription")
      .getAs[String]("PrimaryDescription") == "טלפוניה")
  }

  test("e2e: ingest → enrich → snapshot → upsert through the stage runner") {
    val sheet = Seq(
      ("105", "Branch 105", "old", "x"),
      ("7", "HQ floor", "old", "y"),
      ("404", "untouched", "old", "z"))
      .toDF("ID", "Name", "Status", "Comment")

    var snapshotStages = Vector.empty[String]
    val stages = Seq(
      Stage("enrich", "1_employees", df => Enrich.employees(df, employees).drop("changed")),
      Stage("enrich", "2_locations", df => Enrich.locations(df, locations)),
      Stage("extract", "snapshot", df => FleetSnapshot(df)),
      Stage("load", "upsert", df =>
        FleetSnapshot.updateSheet(sheet, FleetSnapshot.upsertIdMap(df))))
    val summary = Pipeline.run(printers, stages,
      (name, _) => snapshotStages :+= name)

    assert(summary.allOk, summary.failures.mkString(";"))
    assert(snapshotStages.size == 4)
    val rows = summary.out.collect().map(r => r.getAs[String]("ID") -> r).toMap
    // golden: branch 105 offline (doc says offline), HQ id 7 dup → last-wins offline
    assert(rows("105").getAs[String]("Status") == "offline")
    assert(rows("7").getAs[String]("Status") == "offline")
    assert(rows("404").getAs[String]("Status") == "old")     // untouched
    assert(rows("105").getAs[String]("Name") == "Branch 105") // non-target col kept
    assert(summary.out.columns.contains("Toner Type"))        // schema evolution
    // stage timing recorded
    assert(summary.results.forall(_.elapsedS >= 0.0))
  }
}
