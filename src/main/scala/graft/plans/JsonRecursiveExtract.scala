package graft.plans

import scala.collection.mutable

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Normalize

/** Schema-free recursive JSON walkers (SURVEY.md §2.6 F24/F25, §2.8) —
  * the one reference behavior Spark's built-ins genuinely cannot
  * express: the payload's shape is unknown (any nesting of
  * objects/arrays), so `from_json` with a schema cannot apply; the
  * reference recurses over whatever arrives and pattern-matches keys
  * (adapters/ews_alerts.py:47-73; adapters/toner_type_web.py:28-53).
  *
  * Implemented as native Catalyst `Generator`s (UDTF-shaped): one input
  * string column → 0..n extracted rows, usable in a SELECT list like
  * `explode`. Registered SQL names via [[GraftExtensions]]:
  * `json_alert_extract(json)` and `json_toner_ids(json)`.
  *
  * Lax parse (S10, ews_alerts.py:34-45): strict JSON first, then a
  * bare-key-quoting regex repair pass, else no rows.
  *
  * Scale: per-row generation, no state, no shuffle; CodegenFallback
  * only affects the generator node itself (inputs/outputs still flow
  * through Tungsten rows).
  */
abstract class JsonWalkGenerator
  extends UnaryExpression with Generator with CodegenFallback {

  @transient protected lazy val mapper = new ObjectMapper()

  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == StringType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"${prettyName} requires a string column, got ${child.dataType.sql}")

  /** S10 lax parse: strict → quote bare keys → None. */
  protected def parseLax(s: String): Option[JsonNode] = {
    def tryParse(x: String): Option[JsonNode] =
      try Option(mapper.readTree(x)) catch { case _: Exception => None }
    tryParse(s).orElse {
      val repaired = s.replaceAll("([{,]\\s*)([A-Za-z_][A-Za-z0-9_]*)(\\s*:)", "$1\"$2\"$3")
      tryParse(repaired)
    }
  }

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val v = child.eval(input)
    if (v == null) Iterator.empty
    else parseLax(v.toString) match {
      case Some(node) => walk(node)
      case None => Iterator.empty
    }
  }

  protected def walk(root: JsonNode): Iterator[InternalRow]

  /** Python str(v) for the accepted (str | int) scalars, where bool <:
    * int: True→"True", ints verbatim, strings verbatim; else null. */
  protected def strIntOf(n: JsonNode): String =
    if (n.isTextual) n.asText()
    else if (n.isBoolean) { if (n.asBoolean()) "True" else "False" }
    else if (n.isIntegralNumber) n.asText()
    else null

  protected def utf8(s: String): UTF8String =
    if (s == null) null else UTF8String.fromString(s)
}

/** F24 — candidate alert records from arbitrary JSON, mirroring
  * ews_alerts.py:47-79 exactly: an object yields a row when a
  * severity-keyed / code-keyed / description-keyed scalar is present
  * AND description-or-code is non-blank; missing severity defaults to
  * "unknown", missing code/desc to ""; bare strings matching the
  * word-bounded EWS code pattern yield (unknown, code, full-string)
  * rows; output is first-seen-deduped on the full triple per payload.
  * Output: (path, severity, code, description). */
case class JsonAlertExtract(child: Expression) extends JsonWalkGenerator {

  private val CodeRe = Normalize.EwsCodeRe.r
  private val DescHints = Seq("desc", "message", "detail", "reason")

  override def elementSchema: StructType = StructType(Seq(
    StructField("path", StringType), StructField("severity", StringType),
    StructField("code", StringType), StructField("description", StringType)))

  override protected def withNewChildInternal(c: Expression): JsonAlertExtract =
    copy(child = c)

  override protected def walk(root: JsonNode): Iterator[InternalRow] = {
    val out = mutable.ArrayBuffer.empty[InternalRow]
    val seen = mutable.HashSet.empty[(String, String, String)]
    def emit(path: String, sev: String, code: String, desc: String): Unit =
      if (seen.add((sev, code, desc)))
        out += InternalRow(utf8(path), utf8(sev), utf8(code), utf8(desc))
    def rec(node: JsonNode, path: String): Unit = {
      if (node.isObject) {
        // kl = {k.lower(): k}: duplicate lowercased keys collapse with
        // the LAST original key winning, in insertion order.
        val byLower = mutable.LinkedHashMap.empty[String, JsonNode]
        val it = node.properties().iterator()
        while (it.hasNext) { val e = it.next(); byLower.update(e.getKey.toLowerCase, e.getValue) }
        var sev: String = null; var code: String = null; var desc: String = null
        byLower.foreach { case (k, v) =>
          // independent ifs, later keys overwrite earlier matches
          if (k.contains("severity")) { val s = strIntOf(v); if (s != null) sev = s.trim }
          if (k.contains("code")) { val s = strIntOf(v); if (s != null) code = s.trim }
          if (DescHints.exists(k.contains) && v.isTextual) desc = v.asText().trim
        }
        val descS = if (desc == null) "" else desc
        val codeS = if (code == null) "" else code
        if (descS.nonEmpty || codeS.nonEmpty)
          emit(path, if (sev == null) "unknown" else sev, codeS, descS)
        val it2 = node.properties().iterator()
        while (it2.hasNext) {
          val e = it2.next()
          rec(e.getValue, s"$path.${e.getKey}")
        }
      } else if (node.isArray) {
        var i = 0
        val it = node.elements()
        while (it.hasNext) { rec(it.next(), s"$path[$i]"); i += 1 }
      } else if (node.isTextual) {
        val s = node.asText()
        CodeRe.findFirstIn(s).foreach { c =>
          emit(path, "unknown", c, s.trim)
        }
      }
    }
    rec(root, "$")
    out.iterator
  }
}

/** P2 — the recursive printer finder, mirroring `_iter_printers`
  * (core/excel/update_from_json.py:67-75) exactly: walking arbitrary
  * JSON depth-first, a dict yields a row when it has key "ID"
  * (EXACT case — Python `in`) AND its "printerInfo" value is a dict;
  * the dict yields BEFORE its values are walked, and a matching dict's
  * values are still walked (nested printers inside printers are found,
  * as in the reference). Lists recurse element-wise; other scalars are
  * ignored.
  *
  * Output: (ord, path, id, status) — `ord` is the reference's yield
  * order; `path` is an engine addition for addressability (the
  * reference yields the dict object itself); `id` and `status`
  * (printerInfo.status) are Python-str scalar projections of the
  * yielded record, null when absent/JSON-null. */
case class JsonPrinterFinder(child: Expression) extends JsonWalkGenerator {

  override def elementSchema: StructType = StructType(Seq(
    StructField("ord", IntegerType, nullable = false),
    StructField("path", StringType),
    StructField("id", StringType),
    StructField("status", StringType)))

  override protected def withNewChildInternal(c: Expression): JsonPrinterFinder =
    copy(child = c)

  override protected def walk(root: JsonNode): Iterator[InternalRow] = {
    val out = mutable.ArrayBuffer.empty[InternalRow]
    // Python str() for the projected scalars; compact JSON for the
    // (never-synthesized) non-scalar case so output stays deterministic
    def scalarStr(n: JsonNode): String =
      if (n == null || n.isNull) null
      else if (n.isTextual) n.asText()
      else if (n.isBoolean) { if (n.asBoolean()) "True" else "False" }
      else if (n.isNumber) n.asText()
      else n.toString
    def rec(node: JsonNode, path: String): Unit = {
      if (node.isObject) {
        val pi = node.get("printerInfo")
        if (node.has("ID") && pi != null && pi.isObject)
          out += InternalRow(out.length, utf8(path),
            utf8(scalarStr(node.get("ID"))), utf8(scalarStr(pi.get("status"))))
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          rec(e.getValue, s"$path.${e.getKey}")
        }
      } else if (node.isArray) {
        var i = 0
        val it = node.elements()
        while (it.hasNext) { rec(it.next(), s"$path[$i]"); i += 1 }
      }
    }
    rec(root, "$")
    out.iterator
  }
}

/** F25 — toner part-code CANDIDATES from arbitrary JSON, mirroring
  * `_extract_toner_from_supplies_json` (toner_type_web.py:28-53)
  * exactly: the accumulated lowercase key-path gates an EXTRA
  * (contextual) append for scalar dict values — context contains
  * toner/suppl, or the current key IS one of id/model/name/partno/
  * part_no/pn — while EVERY string node also appends its first match
  * through the recursion's bare-string branch (so contextual strings
  * appear twice, in gated-then-bare order). Only the FIRST regex match
  * per string counts, with the reference's alternation order. The
  * caller picks the first W-code else the first candidate — `idx`
  * preserves candidate order for that selection.
  * Output: (idx, code, contextual). */
case class JsonTonerIds(child: Expression) extends JsonWalkGenerator {

  private val IdRe = Normalize.TonerIdRes.mkString("(?:", "|", ")").r
  private val ExactKeys = Set("id", "model", "name", "partno", "part_no", "pn")

  override def elementSchema: StructType = StructType(Seq(
    StructField("idx", IntegerType, nullable = false),
    StructField("code", StringType),
    StructField("contextual", BooleanType, nullable = false)))

  override protected def withNewChildInternal(c: Expression): JsonTonerIds =
    copy(child = c)

  override protected def walk(root: JsonNode): Iterator[InternalRow] = {
    val out = mutable.ArrayBuffer.empty[InternalRow]
    def add(code: String, contextual: Boolean): Unit =
      out += InternalRow(out.length, utf8(code), contextual)
    def rec(node: JsonNode, ctx: String): Unit = {
      if (node.isObject) {
        val it = node.properties().iterator()
        while (it.hasNext) {
          val e = it.next()
          val kLow = e.getKey.toLowerCase
          val newCtx = s"$ctx $kLow".trim
          val s = strIntOf(e.getValue)
          if (s != null &&
            (newCtx.contains("toner") || newCtx.contains("suppl") ||
              ExactKeys.contains(kLow))) {
            IdRe.findFirstIn(s.trim).foreach(add(_, contextual = true))
          }
          rec(e.getValue, newCtx)
        }
      } else if (node.isArray) {
        val it = node.elements()
        while (it.hasNext) rec(it.next(), ctx) // lists keep their context
      } else if (node.isTextual) {
        // bare-string branch: EVERY string is a candidate, context-free
        IdRe.findFirstIn(node.asText()).foreach(add(_, contextual = false))
      }
    }
    rec(root, "")
    out.iterator
  }
}
