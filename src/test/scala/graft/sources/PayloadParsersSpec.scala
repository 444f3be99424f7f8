package graft.sources

import org.apache.spark.sql.functions._

import graft.SparkSpec

class PayloadParsersSpec extends SparkSpec {
  import spark.implicits._

  /** Status documents of devices with no EventTable payload. */
  private def statusOnly(docs: Seq[(String, String)]) =
    docs.toDF("ip", "status_xml").withColumn("events_xml", lit(null).cast("string"))

  test("S8/F27: problem_from_status — document-order candidates, category mapping") {
    val xml1 =
      """<psdyn:ProductStatusDyn xmlns:psdyn="http://x/psdyn">
        |  <psdyn:LocString>  </psdyn:LocString>
        |  <psdyn:StatusMessage>Tray 2 jam</psdyn:StatusMessage>
        |  <psdyn:StatusString>later in doc order</psdyn:StatusString>
        |</psdyn:ProductStatusDyn>""".stripMargin
    val xml2 = """<r><StatusCategory>interventionrequired</StatusCategory></r>"""
    val xml3 = """<r><StatusCategory>custommode</StatusCategory></r>"""
    val rows = PayloadParsers.ledmProblemSeverity(
      statusOnly(Seq(("a", xml1), ("b", xml2), ("c", xml3))), "ip")
      .select("ip", "problem", "severity").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // blank LocString skipped; StatusMessage wins by DOCUMENT order
    assert(rows("a") == ("Tray 2 jam", "critical")) // F21: "jam" → critical
    assert(rows("b") == ("Needs attention", "warning")) // F21: "attention"
    assert(rows("c") == ("Custommode", "informational")) // capitalize fallback
  }

  test("S8: ready/sleep/unknown normalization → informational") {
    val mk = (body: String) => s"<root><LocString>$body</LocString></root>"
    val docs = Seq(("a", mk("Ready")), ("b", mk("InPowerSave")),
      ("c", "<root/>"), ("d", mk("device state unknown")))
    val rows = PayloadParsers.ledmProblemSeverity(statusOnly(docs), "ip")
      .select("ip", "problem", "severity").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(rows("a") == ("Ready", "informational"))
    assert(rows("b") == ("Sleeping", "informational")) // inpowersave substring
    assert(rows("c") == ("Normal", "informational"))   // Unknown → null → Normal
    assert(rows("d") == ("Normal", "informational"))   // "unknown" substring
  }

  test("S8: EventTable election — rank by Severity, >= keeps the LAST max") {
    val xml =
      """<EventTable xmlns="http://z">
        |  <Event><Severity>Warning</Severity><Code>W1</Code>
        |    <Description>Toner low</Description></Event>
        |  <Event><Severity>StrictError</Severity><EventCode>E1</EventCode>
        |    <Reason>Door open</Reason></Event>
        |  <Event><Severity>ERROR</Severity><ID>E2</ID><Name>Fuser fault</Name></Event>
        |  <Event><Code>ignored-no-severity</Code></Event>
        |</EventTable>""".stripMargin
    val events = PayloadParsers.ledmEvents(Seq(("p1", xml)).toDF("ip", "xml"), "ip")
    assert(events.orderBy("event_idx").collect().map(_.getAs[String]("severity")).toSeq ==
      Seq("Warning", "StrictError", "ERROR", null))
    val best = PayloadParsers.ledmBestEvents(events, "ip").collect().head
    // StrictError and ERROR both rank 3; ties → last (idx 2)
    assert(best.getAs[String]("ev_code") == "E2")
    assert(best.getAs[String]("ev_problem") == "Fuser fault")
    assert(best.getAs[String]("ev_severity") == "critical")
  }

  test("S8: full chain — event beats alert beats status text") {
    val statusXml =
      """<ProductStatusDyn>
        |  <LocString>Ready</LocString>
        |  <Alert><Severity>Warning</Severity>
        |    <ProductStatusAlertID>A100</ProductStatusAlertID>
        |    <AlertDetailsUserAction>Replace cartridge soon</AlertDetailsUserAction></Alert>
        |</ProductStatusDyn>""".stripMargin
    val eventsXml =
      """<EventTable><Event><Severity>Info</Severity>
        |<Description>Calibrating</Description></Event></EventTable>""".stripMargin
    val df = Seq(("p1", statusXml, eventsXml), ("p2", statusXml, null))
      .toDF("ip", "status_xml", "events_xml")
    val rows = PayloadParsers.ledmProblemSeverity(df, "ip")
      .select("ip", "problem", "severity").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    // p1: event desc + event severity win (Info → informational)
    assert(rows("p1") == ("Calibrating", "informational"))
    // p2: no events → alert election wins over the Ready status text
    assert(rows("p2") == ("Replace cartridge soon", "warning"))
  }

  test("S9/F23: Brother rows[1] td heights zip rows[2] th labels") {
    // the real status.html layout: row 0 title, row 1 bar <td>s (img
    // height attr / img style / td attr / td style), row 2 <th> labels
    val html =
      """<table id="inkLevel"><tbody>
        |<tr><th colspan="5">Ink level</th></tr>
        |<tr>
        |  <td><img src="x" height="42"/></td>
        |  <td><img src="x" style="height:130px"/></td>
        |  <td height="0"></td>
        |  <td style="HEIGHT: 7px"></td>
        |  <td><img src="no-height"/></td>
        |</tr>
        |<tr><th>BK</th><th>Cyan</th><th>M.</th><th>YELLOW</th><th></th></tr>
        |</tbody></table>""".stripMargin
    val rows = PayloadParsers.brotherInkLevels(
      Seq(("p1", html)).toDF("ip", "html"), "ip")
      .orderBy("bar_idx").collect()
    // blank label removed BEFORE the zip (brother_toner_web.py:92-94),
    // so the heightless 5th bar drops with it (zip truncates)
    assert(rows.map(_.getAs[String]("cartridge")).toSeq ==
      Seq("Black", "Cyan", "Magenta", "Yellow"))
    assert(rows.map(_.getAs[String]("remaining_percent")).toSeq ==
      Seq("42%", "100%", "0%", "7%")) // 130 clamps to 100
  }

  test("S9: null-height td under a non-blank label keeps a null percent") {
    // _pct_with_symbol(None) → None (brother_toner_web.py:27-36): the
    // cartridge row still emits, with remaining_percent null — NOT 100%
    val html =
      """<table id="inkLevel"><tbody>
        |<tr><th colspan="2">Ink level</th></tr>
        |<tr><td><img src="x" height="55"/></td><td><img src="no-height"/></td></tr>
        |<tr><th>BK</th><th>Y</th></tr>
        |</tbody></table>""".stripMargin
    val rows = PayloadParsers.brotherInkLevels(
      Seq(("p1", html)).toDF("ip", "html"), "ip").orderBy("bar_idx").collect()
    assert(rows.map(_.getAs[String]("cartridge")).toSeq == Seq("Black", "Yellow"))
    assert(rows.map(_.getAs[String]("remaining_percent")).toSeq == Seq("55%", null))
  }

  test("S9: missing table or short table yields no cartridges") {
    val short = """<table id="inkLevelMono"><tr><td></td></tr></table>"""
    val df = Seq(("a", "<html>no table</html>"), ("b", short)).toDF("ip", "html")
    assert(PayloadParsers.brotherInkLevels(df, "ip").count() == 0)
  }

  test("S11: catalog accepts list, items-wrapper AND map shapes, normalized") {
    val listJson =
      """[{"code": "C4-1001", "status": "warning", "info": "Toner low"},
        |  {"code": "", "status": "x", "info": "dropped"}]""".stripMargin
    val mapJson =
      """{"E2-210": {"status": "critical", "info": "Fuser"},
        |  "B1-100": {"status": "info", "info": null}}""".stripMargin
    val itemsJson =
      """{"items": [{"code": "Z9-000", "status": "", "info": " pad "}]}""".stripMargin
    val out = PayloadParsers.codeCatalog(
      Seq(listJson, mapJson, itemsJson).toDF("json"))
      .orderBy("code").collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2)))
    // status strip+UPPER default INFO; info strip default "" (never null)
    assert(out.toSeq == Seq(
      ("B1-100", "INFO", ""),
      ("C4-1001", "WARNING", "Toner low"),
      ("E2-210", "CRITICAL", "Fuser"),
      ("Z9-000", "INFO", "pad")))
  }
}
