package graft.sources

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.FleetSnapshot

class DocumentRoundTripSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docPath = getClass.getResource("/printers.json").getPath

  test("write-back round-trip: read → write → re-read is stable") {
    val printers = DocumentIngest.printers(
      DocumentIngest.readDocument(spark, docPath))
    val out = Files.createTempDirectory("graft-doc")
      .resolve("printers.json").toString
    DocumentIngest.writeDocument(printers, out)

    val again = DocumentIngest.printers(
      DocumentIngest.readDocument(spark, out))
    assert(again.count() == printers.count())
    // record order inside each group survives (row_idx rebuilt by position)
    val ids = (df: org.apache.spark.sql.DataFrame) =>
      df.orderBy("group", "row_idx").select("ID").as[String].collect().toSeq
    assert(ids(again) == ids(printers))
    // nested content survives (spot-check a cartridges array + Hebrew text)
    val carts = again.where($"ID" === "3")
      .select("printerInfo.cartridges").collect().head.getSeq[Any](0)
    assert(carts.nonEmpty)
    val manager = again.where($"ID" === "105")
      .select("storeInfo.Manager").as[String].collect().head
    assert(manager == "דנה לוי") // UTF-8 survived the round trip
    // atomic replace: no tmp file left behind
    assert(!Files.exists(java.nio.file.Paths.get(out + ".tmp")))
  }

  test("empty group: reads as no rows, written back as [] beside the other group") {
    val dir = Files.createTempDirectory("graft-doc")
    val in = dir.resolve("in.json")
    // JSON inference types the empty array as array<string>, not records
    Files.writeString(in, """{"Company_Grouped": [], "Branches_Grouped": [
      |  {"ID": 105, "Name": "b1", "Printer IP": "10.0.0.5"},
      |  {"ID": 106, "Name": "b2", "Printer IP": "10.0.0.6"}]}""".stripMargin)
    val printers = DocumentIngest.printers(DocumentIngest.readDocument(spark, in.toString))
    val out = dir.resolve("out.json")
    DocumentIngest.writeDocument(printers, out.toString)
    assert(Files.readString(out).contains("\"Company_Grouped\": []"))

    val again = DocumentIngest.printers(DocumentIngest.readDocument(spark, out.toString))
    assert(again.orderBy("row_idx").select("group", "ID").as[(String, String)].collect().toSeq ==
      Seq(("Branches_Grouped", "105"), ("Branches_Grouped", "106")))
  }

  test("header upgrade: first 'type' claims Toner Type only when absent") {
    val legacy = Seq(("1", "M404dn", "x")).toDF("ID", "tYpe ", "Comment")
    val up = FleetSnapshot.upgradeHeaders(legacy)
    assert(up.columns.toSeq == Seq("ID", "Toner Type", "Comment"))
    // already upgraded → untouched
    val current = Seq(("1", "M404dn", "W1470A")).toDF("ID", "Type", "Toner Type")
    assert(FleetSnapshot.upgradeHeaders(current).columns.toSeq ==
      Seq("ID", "Type", "Toner Type"))
  }
}
