package graft.sources

import graft.SparkSpec

class SnmpAlertsSpec extends SparkSpec {
  import spark.implicits._

  test("alert table pivot: col=parts[-2], row=parts[-1], int-or-absent") {
    // alert OIDs are root.{col}.{row} — col is parts[-2]
    val walk = Seq(
      ("p1", "1.3.6.1.2.1.43.18.1.1.2.7", "4"),   // severity row 7
      ("p1", "1.3.6.1.2.1.43.18.1.1.7.7", "abc"), // code parse fails → absent
      ("p1", "1.3.6.1.2.1.43.18.1.1.8.7", "  Tray jam  "),
      ("p1", "1.3.6.1.2.1.43.18.1.1.8.9", "   "), // blank desc → absent
      ("p1", "1.3.6.1.2.1.43.18.1.1.2.9", "3"))
      .toDF("ip", "oid", "value")
    val rows = SnmpAlerts.alertTable(walk).orderBy("rowIdx").collect()
    assert(rows.length == 2)
    val r7 = rows.head
    assert(r7.getAs[Int]("severity_num") == 4)
    assert(r7.isNullAt(r7.fieldIndex("code")))
    assert(r7.getAs[String]("description") == "Tray jam")
    val r9 = rows(1)
    assert(r9.getAs[Int]("severity_num") == 3)
    assert(r9.isNullAt(r9.fieldIndex("description")))
  }

  test("A2 decide: tier scan order, suppressed desc falls to code, collapse") {
    val alerts = Seq(
      // rowIdx, sev_num, code, desc
      ("p1", 1, 3, 0, "Sleep Mode On"),  // warning tier, msg "" → skipped
      ("p1", 2, 3, 7, "Sleep Mode On"),  // warning tier, msg "Code 7"
      ("p1", 3, 4, 0, null),             // critical tier but NO message
      ("p1", 4, 4, 0, "66044"),          // critical, translates → wins
      ("p2", 1, 1, 5, null),             // other tier, "Code 5"
      ("p3", 1, 2, 0, null))             // nothing eligible
      .toDF("ip", "rowIdx", "severity_num", "code", "description")
    val out = SnmpAlerts.decide(alerts).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out("p1") == ("Service requested", "critical"))
    // other/unknown picks still report "warning" (snmp_alerts.py:177)
    assert(out("p2") == ("Code 5", "warning"))
    assert(!out.contains("p3"))
  }

  test("hr fallback: first parseable value decides; empty flags stop the scan") {
    val walk = Seq(
      ("p1", "1.3.6.1.2.1.25.3.5.1.2.1", "notanint"), // skipped
      ("p1", "1.3.6.1.2.1.25.3.5.1.2.2", "68"),       // lowToner+offline
      ("p2", "1.3.6.1.2.1.25.3.5.1.2.1", "0"),        // no flags → NO result
      ("p2", "1.3.6.1.2.1.25.3.5.1.2.2", "4"),        // never reached
      ("p3", "1.3.6.1.2.1.25.3.5.1.2.1", "128"))      // serviceRequested (bit 7)
      .toDF("ip", "oid", "value")
    val out = SnmpAlerts.hrErrorState(walk).collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out("p1") == ("lowToner, offline", "critical"))
    assert(!out.contains("p2"))
    assert(out("p3") == ("serviceRequested", "critical"))
  }

  test("process composition: decide > hr > Normal") {
    val devices = Seq("p1", "p2", "p3").toDF("ip")
    val alerts = Seq(("p1", 1, 4, 0, "Door open"))
      .toDF("ip", "rowIdx", "severity_num", "code", "description")
    val hr = Seq(("p2", "1.3.6.1.2.1.25.3.5.1.2.1", "32")) // jammed
      .toDF("ip", "oid", "value")
    val out = SnmpAlerts.problemSeverity(devices, alerts, Some(hr))
      .select("ip", "message", "severity").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap
    assert(out("p1") == ("Door open", "critical"))
    assert(out("p2") == ("jammed", "warning"))
    assert(out("p3") == ("Normal", "informational"))
  }

  test("an empty OID and an OID with no dot neither throw nor change the valid rows") {
    val valid = Seq(
      ("p1", "1.3.6.1.2.1.43.18.1.1.2.7", "4"),
      ("p1", "1.3.6.1.2.1.43.18.1.1.8.7", "Tray jam"),
      ("p2", "1.3.6.1.2.1.25.3.5.1.2.2", "68"))
    // int-valued, so they reach the hr fallback's suffix parse
    val odd = Seq(("p9", "", "3"), ("p9", "5", "2"), ("p9", "", "128"))
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.where($"ip" =!= "p9").collect().map(_.mkString("|")).toSeq.sorted
    val (v, all) = (valid.toDF("ip", "oid", "value"), (valid ++ odd).toDF("ip", "oid", "value"))
    assert(rows(SnmpAlerts.alertTable(all)) == rows(SnmpAlerts.alertTable(v)))
    assert(rows(SnmpAlerts.alertTable(v)).nonEmpty)
    // neither odd OID has the two parts an alert-table row needs
    assert(SnmpAlerts.alertTable(all).where($"ip" === "p9").count() == 0)
    assert(rows(SnmpAlerts.hrErrorState(all)) == rows(SnmpAlerts.hrErrorState(v)))
    assert(rows(SnmpAlerts.hrErrorState(v)).nonEmpty)
  }
}
