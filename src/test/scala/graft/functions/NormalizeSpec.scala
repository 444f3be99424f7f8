package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.prop.TableDrivenPropertyChecks

import graft.SparkSpec

/** Golden tests for the scalar pack — expectations hand-derived from
  * the reference semantics (SURVEY.md §2.6 citations), NOT from running
  * the reference. */
class NormalizeSpec extends SparkSpec with TableDrivenPropertyChecks {
  import spark.implicits._

  private def eval1(c: org.apache.spark.sql.Column, input: String): Any = {
    val df = Seq(Option(input)).toDF("v")
    df.select(c.as("out")).collect()(0).get(0)
  }

  test("F1 norm: trim, lower, collapse whitespace") {
    assert(eval1(Normalize.norm(col("v")), "  Hello   World\t X ") == "hello world x")
  }

  test("F2 canonicalize_id: numeric path truncates, string path cleans") {
    val cases = Table(("in", "out"),
      ("7.0", "7"), ("7", "7"), (" 7.0 ", "7"), ("7.9", "7"),
      ("id-12\n", "id-12"), ("a\nb", "a b"),
      // int(float(v)) is unbounded in Python and fails on NaN/inf, which
      // then take the text branch; none of these may throw under ANSI mode
      ("NaN", "NaN"), (" nan ", "nan"), ("inf", "inf"), ("-Infinity", "-Infinity"),
      ("1e20", "100000000000000000000"), ("99999999999999999999", "100000000000000000000"),
      ("-2.5e19", "-25000000000000000000"))
    forAll(cases) { (in, out) =>
      assert(eval1(Normalize.canonicalizeId(col("v")), in) == out, s"for $in")
    }
  }

  test("F8 safe_int: int(float(x)), null where a long cannot hold it") {
    val cases = Table(("in", "out"),
      ("7.9", 7L), (" -3.5 ", -3L), ("n/a", null), ("NaN", null), ("inf", null),
      ("1e20", null), ("99999999999999999999", null))
    forAll(cases) { (in, out) =>
      assert(eval1(Normalize.safeInt(col("v")), in) == out, s"for $in")
    }
  }

  test("F4 status: offline-before-online keyword order (offline ⊃ on)") {
    val cases = Table(("in", "out"),
      ("Online", "online"), ("READY", "online"), ("offline", "offline"),
      ("going offline now", "offline"), // contains "off" before "on" rule
      ("power on", "online"), ("", "offline"), (null, "offline"),
      ("mystery", "offline"),
      // substring semantics over the reference's exact tuples:
      ("Sleep mode", "online"), ("now printing p.2", "online"),
      // reference quirk, faithfully kept: "connected" ⊂ "disconnected"
      // and the online scan runs FIRST (update_from_json.py:47-51)
      ("disconnected", "online"), ("status unknown", "offline"))
    forAll(cases) { (in, out) =>
      assert(eval1(Normalize.statusOnlineOffline(col("v")), in) == out, s"for $in")
    }
  }

  test("F5 dash_if_blank") {
    assert(eval1(Normalize.dashIfBlank(col("v")), "") == "-")
    assert(eval1(Normalize.dashIfBlank(col("v")), "  ") == "-")
    assert(eval1(Normalize.dashIfBlank(col("v")), null) == "-")
    assert(eval1(Normalize.dashIfBlank(col("v")), "x") == "x")
  }

  test("F7 split_postal: trailing 7-digit run") {
    val df = Seq("הרצל 1, תל אביב 6100001").toDF("v")
    val (postal, cleaned) = Normalize.splitPostal(col("v"))
    val row = df.select(postal.as("p"), cleaned.as("c")).collect()(0)
    assert(row.getString(0) == "6100001")
    assert(row.getString(1) == "הרצל 1, תל אביב")
  }

  test("F9 percent: unit-19 clamp, ratio path, negative sentinels → null") {
    val rows = Seq(
      (19, 137.0, 0, Some(100L)),  // unit 19: clamp to 100
      (19, -5.0, 0, Some(0L)),     // unit 19: clamp to 0 (-5 is no sentinel)
      (19, -2.0, 0, None),         // sentinel checked BEFORE the unit clamp
      (7, 37.0, 100, Some(37L)),   // ratio path
      (7, 1.0, 3, Some(33L)),      // round(100/3)=33
      (7, -2.0, 100, None),        // sentinel → null
      (7, 10.0, 0, None),          // max<=0 → null
      (7, 9e17, 1, Some(100L)),    // 100·level/max past a long: clamped
      (19, 9e19, 0, Some(100L)))   // unit 19, level past a long: clamped
    val df = rows.map { case (u, l, m, _) => (u, l, m) }.toDF("u", "l", "m")
    val got = df.select(Normalize.computePercent(col("u"), col("l"), col("m")))
      .collect().map(r => if (r.isNullAt(0)) None else Some(r.getLong(0)))
    assert(got.toSeq == rows.map(_._4))
  }

  test("F13 OID parse: marker-relative col/row extraction") {
    val got = eval1(Normalize.oidColRow(col("v")),
      "1.3.6.1.2.1.43.11.1.1.9.1.4")
    val row = got.asInstanceOf[org.apache.spark.sql.Row]
    assert(row.getInt(0) == 9 && row.getInt(1) == 4) // col=9 (level), row=4
    // the full 43.11.1.1 marker: a 43.11.2.1 table is not supplies
    assert(eval1(Normalize.oidColRow(col("v")), "1.3.6.1.2.1.43.11.2.1.9.1.4") == null)
    // an OID that ends inside the marker is no row, not an index error
    assert(eval1(Normalize.oidColRow(col("v")), "1.3.6.1.2.1.43.11") == null)
  }

  test("F15 bitmask: doorOpen+offline → flags + critical") {
    val df = Seq(68L).toDF("v") // 0b1000100 = bits 2,6 = lowToner+offline
    val flags = df.select(Normalize.hrFlags(col("v"))).collect()(0).getSeq[String](0)
    assert(flags == Seq("lowToner", "offline"))
    assert(eval1(Normalize.hrSeverity(col("v").cast("long")), "68") == "critical")
    assert(eval1(Normalize.hrSeverity(col("v").cast("long")), "4") == "warning")
    assert(eval1(Normalize.hrSeverity(col("v").cast("long")), "0") == "informational")
  }

  test("F14/F17 severity maps") {
    assert(eval1(Normalize.severityTag(col("v").cast("int")), "4") == "critical")
    assert(eval1(Normalize.severityTag(col("v").cast("int")), "9") == "unknown")
    assert(eval1(Normalize.triage(col("v")), "7") == "critical")
    assert(eval1(Normalize.triage(col("v")), "4") == "warning")
    assert(eval1(Normalize.triage(col("v")), "1") == "informational")
    // word tiers are EXACT set membership after strip+lower, not substring
    assert(eval1(Normalize.triage(col("v")), " Fatal ") == "critical")
    assert(eval1(Normalize.triage(col("v")), "fatal error") == "informational")
    assert(eval1(Normalize.triage(col("v")), "Attention") == "warning")
    assert(eval1(Normalize.triage(col("v")), "needs attention") == "informational")
    assert(eval1(Normalize.triage(col("v")), "fine") == "informational")
    // LEDM variant adds the strict* severities (ledm_client.py:46-64)
    assert(eval1(Normalize.triage(col("v")), "StrictError") == "informational")
    assert(eval1(Normalize.triageLedm(col("v")), "StrictError") == "critical")
    assert(eval1(Normalize.triageLedm(col("v")), "strictwarning") == "warning")
  }

  test("F11 friendly color: name wins over desc; Hebrew; unknown fallback") {
    val df = Seq(("cyan ink", "black something"), ("שחור", null), ("mystery", null))
      .toDF("n", "d")
    val got = df.select(Normalize.friendlyColor(col("n"), col("d")))
      .collect().map(_.getString(0)).toSeq
    assert(got == Seq("Cyan", "Black", "Unknown"))
  }

  test("F12 to_text: un-repr b'...'/b\"...\" wrappers, strip edge NULs") {
    val cases = Table(("in", "out"),
      ("b'W1470A'", "W1470A"),
      ("b\"MLT-D111S\"", "MLT-D111S"),
      // if/elif: the single-quote branch wins and unwraps exactly once
      ("b'b\"x\"'", "b\"x\""),
      // str.strip("\x00") trims edges only -- internal NULs survive
      ("\u0000ok\u0000ok\u0000", "ok\u0000ok"),
      // degenerate 2-char wrapper: s[2:-1] == ""
      ("b'", ""),
      ("b'unclosed", "b'unclosed"),
      ("plain", "plain"))
    forAll(cases) { (in, out) =>
      assert(eval1(Normalize.toText(col("v")), in) == out, s"for $in")
    }
    assert(eval1(Normalize.toText(col("v")), null) == null)
  }

  test("F16 clean_desc: reference translation map + suppression set") {
    val cases = Table(("in", "out"),
    ("\u05de\u05d5\u05e9\u05d4\u05d4", "Paused"),
    ("66044", "Service requested"),
    ("Sleep Mode On", ""),
    ("genuine hp cartridge installed", ""),
    ("Fuser error", "Fuser error"))
    forAll(cases) { (in, out) =>
      assert(eval1(Normalize.cleanDesc(col("v")), in) == out, s"for $in")
    }
    assert(eval1(Normalize.cleanDesc(col("v")), null) == "")
  }

  test("F23 label normalize + pretty") {
    assert(eval1(Normalize.labelPretty(col("v")), "BK:") == "Black")
    assert(eval1(Normalize.labelPretty(col("v")), "k") == "Black")
    assert(eval1(Normalize.labelPretty(col("v")), "M") == "Magenta")
  }
}
