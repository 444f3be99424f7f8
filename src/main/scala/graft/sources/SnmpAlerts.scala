package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.Normalize

/** SNMP active-alert processing (adapters/snmp_alerts.py) — the A2
  * severity-priority election and its composition with the
  * hrPrinterDetectedErrorState fallback, as declarative transforms over
  * walk rows `(ip, oid, value)`.
  *
  * Scale shape: one pivot groupBy per device for the table, one
  * aggregation for the election — all keyed by device, map-side
  * combinable, no cross-device data movement. */
object SnmpAlerts {

  /** Alert table rows (snmp_alerts.py:99-134): col = parts[-2],
    * row = int(parts[-1]); severity/group/groupidx/code keep only
    * int-parseable values (a failed parse leaves the key ABSENT, not
    * garbage); desc is `_to_text(...).strip()` kept only when
    * non-empty; time is the stripped text. */
  def alertTable(walk: DataFrame): DataFrame = {
    val parts = split(col("oid"), "\\.")
    val colId = element_at(parts, -2)
    val rowIdx = element_at(parts, -1).try_cast("int")
    walk
      .where(size(parts) >= 2 && rowIdx.isNotNull)
      .select(col("ip"), rowIdx.as("rowIdx"), colId.as("colId"), col("value"))
      .groupBy("ip", "rowIdx")
      .pivot("colId", Seq("2", "4", "5", "7", "8", "9"))
      .agg(first("value"))
      .select(col("ip"), col("rowIdx"),
        col("2").try_cast("int").as("severity_num"),
        col("4").try_cast("int").as("group_num"),
        col("5").try_cast("int").as("groupidx"),
        col("7").try_cast("int").as("code"),
        when(length(trim(Normalize.toText(col("8")))) > 0,
          trim(Normalize.toText(col("8")))).as("description"),
        trim(Normalize.toText(coalesce(col("9"), lit("")))).as("time"))
  }

  /** `_mk_msg` (snmp_alerts.py:84-89): cleaned desc wins; else
    * "Code {code}" for a TRUTHY code (0 is falsy in Python); else "". */
  def mkMsg(desc: Column, code: Column): Column = {
    val d = Normalize.cleanDesc(desc)
    when(length(d) > 0, d)
      .when(code.isNotNull && code =!= 0,
        concat(lit("Code "), code.cast("string")))
      .otherwise("")
  }

  /** A2 — `_decide_message_from_rows` (snmp_alerts.py:152-179): scan
    * severities critical→warning→other→unknown, rows in ascending
    * rowIdx within each tier, first non-empty message wins; the final
    * severity collapses to critical/warning (even other/unknown picks
    * report "warning"). Keys with no eligible row emit nothing.
    * Output: (key, message, severity). */
  def decide(alerts: DataFrame, keyCol: String = "ip"): DataFrame = {
    val tag = Normalize.severityTag(col("severity_num"))
    val pickRank = when(tag === "critical", 0).when(tag === "warning", 1)
      .when(tag === "other", 2).otherwise(3)
    val msg = mkMsg(col("description"), col("code"))
    alerts
      .where(length(msg) > 0)
      .groupBy(col(keyCol))
      .agg(min(struct(pickRank.as("rank"), col("rowIdx"),
        msg.as("msg"), tag.as("tag"))).as("best"))
      .select(col(keyCol),
        col("best.msg").as("message"),
        when(col("best.tag") === "critical", "critical")
          .otherwise("warning").as("severity"))
  }

  /** `_snmp_hr_errorstate` (snmp_alerts.py:136-150): the FIRST
    * int-parseable value under the hr base decides — empty flag set →
    * NO RESULT (the loop returns None without scanning further); else
    * flags joined ", " with F15's severity (critical iff
    * offline/serviceRequested, else warning).
    * Walk order is approximated by the numeric OID suffix. */
  def hrErrorState(walk: DataFrame, keyCol: String = "ip"): DataFrame = {
    val parts = split(col("oid"), "\\.")
    val suffix = element_at(parts, -1).try_cast("long")
    val bits = col("value").try_cast("long")
    walk
      .where(bits.isNotNull)
      .groupBy(col(keyCol))
      .agg(min(struct(coalesce(suffix, lit(Long.MaxValue)).as("ord"),
        bits.as("bits"))).as("first"))
      .select(col(keyCol), col("first.bits").as("bits"))
      .withColumn("flags", Normalize.hrFlags(col("bits")))
      .where(size(col("flags")) > 0)
      .select(col(keyCol),
        array_join(col("flags"), ", ").as("message"),
        Normalize.hrSeverity(col("bits")).as("severity"))
  }

  /** `process_snmp_alerts` (snmp_alerts.py:181-190): alert election
    * wins, else hr-errorstate, else ("Normal", "informational").
    * Devices joined left so unreachable/quiet printers get the default. */
  def problemSeverity(devices: DataFrame, alerts: DataFrame,
      hrWalk: Option[DataFrame], keyCol: String = "ip"): DataFrame = {
    val d = decide(alerts, keyCol)
      .withColumnRenamed("message", "al_msg")
      .withColumnRenamed("severity", "al_sev")
    val h = hrWalk.map(hrErrorState(_, keyCol)
      .withColumnRenamed("message", "hr_msg")
      .withColumnRenamed("severity", "hr_sev"))
    val joined0 = devices.join(d, Seq(keyCol), "left")
    val joined = h.fold(
      joined0.withColumn("hr_msg", lit(null).cast("string"))
        .withColumn("hr_sev", lit(null).cast("string")))(
      joined0.join(_, Seq(keyCol), "left"))
    joined
      .withColumn("message", coalesce(col("al_msg"), col("hr_msg"), lit("Normal")))
      .withColumn("severity", coalesce(col("al_sev"), col("hr_sev"),
        lit("informational")))
      .drop("al_msg", "al_sev", "hr_msg", "hr_sev")
  }
}
