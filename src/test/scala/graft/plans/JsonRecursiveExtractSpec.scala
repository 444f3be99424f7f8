package graft.plans

import graft.SparkSpec

class JsonRecursiveExtractSpec extends SparkSpec {
  import spark.implicits._

  test("a Sessions-built session resolves every GraftExtensions function") {
    val missing = GraftExtensions.functions.map(_._1.funcName)
      .filterNot(spark.catalog.functionExists)
    assert(missing.isEmpty, s"not installed: $missing")
  }

  test("F24: alert records surface from arbitrary nesting") {
    val payload =
      """{"status": {"alerts": [
        |  {"Severity": "Warning", "StatusCode": "C4-1001", "Description": "Toner low"},
        |  {"level": 3, "message": "Door open"}
        |]},
        |"misc": {"deep": {"text": "E2-210"}}}""".stripMargin
    val rows = Seq(payload).toDF("body")
      .selectExpr("json_alert_extract(body) AS (path, severity, code, description)")
      .collect()
    val triples = rows.map(r => (r.getString(1), r.getString(2), r.getString(3))).toSet
    assert(triples == Set(
      // object candidate: severity/statuscode/description keys
      ("Warning", "C4-1001", "Toner low"),
      // the bare "C4-1001" VALUE also matches CODE_RE when walked
      ("unknown", "C4-1001", "C4-1001"),
      // 'level' is NOT a severity hint (only 'severity' keys are,
      // ews_alerts.py:53-54) → default "unknown"; no code → ""
      ("unknown", "", "Door open"),
      // bare string emits (unknown, code, full string)
      ("unknown", "E2-210", "E2-210")))
    // paths are recorded
    assert(rows.forall(_.getString(0).startsWith("$")))
  }

  test("S10: lax parse repairs bare keys, garbage yields zero rows") {
    val lax = """{severity: "critical", desc: "Fuser error"}"""
    val rows = Seq(lax).toDF("body")
      .selectExpr("json_alert_extract(body) AS (path, severity, code, description)")
      .collect()
    assert(rows.length == 1)
    assert(rows.head.getString(1) == "critical")
    assert(rows.head.getString(2) == "") // missing code defaults to ""
    assert(Seq("not json at all {{{").toDF("body")
      .selectExpr("json_alert_extract(body) AS (path, severity, code, description)")
      .count() == 0)
  }

  test("F25: candidate order — gated append then bare-string append") {
    val payload =
      """{"supplies": {"black": {"PartNumber": "W1470A desc"}},
        |"noise": {"value": "W9999Z"},
        |"cartridgeInfo": ["MLT-D203E", "ZZ123X"]}""".stripMargin
    val rows = Seq(payload).toDF("body")
      .selectExpr("json_toner_ids(body) AS (idx, code, contextual)")
      .orderBy("idx").collect()
      .map(r => (r.getString(1), r.getBoolean(2)))
    // the context check only gates the EXTRA append — every string is
    // still a candidate through the bare branch (toner_type_web.py:44-47)
    assert(rows.toSeq == Seq(
      ("W1470A", true),   // gated: ctx "supplies black partnumber"
      ("W1470A", false),  // same string, bare branch
      ("W9999Z", false),  // non-contextual string still counts
      ("MLT-D203E", false), ("ZZ123X", false)))
    // caller's pick: first W-code in candidate order (:49-52)
    val pick = rows.collectFirst { case (c, _) if c.startsWith("W") => c }
      .orElse(rows.headOption.map(_._1))
    assert(pick.contains("W1470A"))
  }

  test("P2: printer finder — yield-before-recurse, case-sensitive ID, dict guard") {
    // the branches the oracle row's synthesis can't reach: a printer
    // nested INSIDE another printer's printerInfo (Python recurses into
    // ALL values of a matching dict, printerInfo included), a JSON-null
    // ID (`"ID" in obj` is TRUE for null → yields with null id), and a
    // boolean status (str(True) == "True")
    val payload =
      """{"outer": {"ID": 7, "printerInfo": {"status": true,
        |  "inner": {"ID": null, "printerInfo": {"status": "s2"}}}},
        |"list": [[{"ID": "x", "printerInfo": {}}]],
        |"noYield": {"Id": 1, "printerInfo": {}}}""".stripMargin
    val rows = Seq(payload).toDF("body")
      .selectExpr("json_printers(body) AS (ord, path, id, status)")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getString(3)))
    assert(rows.toSeq == Seq(
      (0, "$.outer", "7", "True"),
      (1, "$.outer.printerInfo.inner", null, "s2"),
      (2, "$.list[0][0]", "x", null)))
  }

  test("null input and LATERAL VIEW shape") {
    val df = Seq((1L, """{"alerts": [{"code": "X1-100", "desc": "d"}]}"""),
      (2L, null.asInstanceOf[String])).toDF("id", "body")
    df.createOrReplaceTempView("payloads")
    val rows = spark.sql(
      """SELECT id, t.code FROM payloads
        |LATERAL VIEW json_alert_extract(body) t AS path, severity, code, description
        |""".stripMargin).collect()
    // Two rows by design: the object candidate AND the bare-string code
    // match (ews_alerts emits both; A5 dedup happens downstream). The
    // null body contributes nothing.
    assert(rows.length == 2 && rows.forall(_.getLong(0) == 1L))
    assert(rows.forall(_.getString(1) == "X1-100"))
  }
}
