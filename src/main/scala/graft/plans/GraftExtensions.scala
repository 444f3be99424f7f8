package graft.plans

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.SparkSessionExtensions

/** Engine extension point (SURVEY.md §2.8): registers the custom
  * generators as SQL-callable functions. One install path, at session
  * build: `graft.spark.Sessions.builder` passes it to `withExtensions`
  * for every engine session (a cluster names the same class in
  * `spark.sql.extensions`).
  *
  * Usage: `SELECT doc_id, t.* FROM payloads
  *         LATERAL VIEW json_alert_extract(body) t` or in a select list
  * like explode: `df.selectExpr("json_alert_extract(body) AS (path, severity, code, description)")`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
}

object GraftExtensions {

  private def one(args: Seq[Expression], name: String): Expression = {
    require(args.length == 1, s"$name takes exactly 1 argument")
    args.head
  }

  val functions: Seq[(FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression)] = Seq(
    (FunctionIdentifier("json_alert_extract"),
      new ExpressionInfo(classOf[JsonAlertExtract].getName, "json_alert_extract"),
      (args: Seq[Expression]) =>
        JsonAlertExtract(one(args, "json_alert_extract"))),
    (FunctionIdentifier("json_toner_ids"),
      new ExpressionInfo(classOf[JsonTonerIds].getName, "json_toner_ids"),
      (args: Seq[Expression]) => JsonTonerIds(one(args, "json_toner_ids"))),
    (FunctionIdentifier("json_printers"),
      new ExpressionInfo(classOf[JsonPrinterFinder].getName, "json_printers"),
      (args: Seq[Expression]) => JsonPrinterFinder(one(args, "json_printers"))),
    (FunctionIdentifier("xml_local_records"),
      new ExpressionInfo(classOf[XmlLocalRecords].getName, "xml_local_records"),
      (args: Seq[Expression]) => {
        require(args.length == 5,
          "xml_local_records(xml, container, sevTagsCsv, codeTagsCsv, descTagsCsv)")
        XmlLocalRecords(args.head, foldedString(args(1)),
          foldedCsv(args(2)), foldedCsv(args(3)), foldedCsv(args(4)))
      }),
    (FunctionIdentifier("xml_first_local_text"),
      new ExpressionInfo(classOf[XmlFirstLocalText].getName, "xml_first_local_text"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "xml_first_local_text(xml, tagsCsv)")
        XmlFirstLocalText(args.head, foldedCsv(args(1)))
      }),
    (FunctionIdentifier("long_dot"),
      new ExpressionInfo(classOf[LongArrayDot].getName, "long_dot"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "long_dot(array<bigint>, array<bigint>)")
        LongArrayDot(args.head, args(1))
      }),
    (FunctionIdentifier("long_distsq"),
      new ExpressionInfo(classOf[LongArrayDistSq].getName, "long_distsq"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "long_distsq(array<bigint>, array<bigint>)")
        LongArrayDistSq(args.head, args(1))
      }),
    (FunctionIdentifier("long_and_popcount"),
      new ExpressionInfo(classOf[LongArrayAndPopcount].getName,
        "long_and_popcount"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "long_and_popcount(array<bigint>, array<bigint>)")
        LongArrayAndPopcount(args.head, args(1))
      }),
    (FunctionIdentifier("long_lut_sum"),
      new ExpressionInfo(classOf[LongArrayLutSum].getName, "long_lut_sum"),
      (args: Seq[Expression]) => {
        require(args.length == 3,
          "long_lut_sum(codes array<bigint>, lut array<bigint>, k int)")
        LongArrayLutSum(args.head, args(1), args(2))
      }),
    (FunctionIdentifier("winnow_min_windows"),
      new ExpressionInfo(classOf[WinnowMinWindows].getName,
        "winnow_min_windows"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "winnow_min_windows(hs array<bigint>, w int)")
        WinnowMinWindows(args.head, args(1))
      }),
    (FunctionIdentifier("md5_prefix"),
      new ExpressionInfo(classOf[Md5PrefixVal].getName, "md5_prefix"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "md5_prefix(s string, nibbles int)")
        Md5PrefixVal(args.head, args(1))
      }),
    (FunctionIdentifier("minhash_sigs"),
      new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "minhash_sigs(shingles array<string>, k int)")
        MinhashSigs(args.head, args(1))
      }),
    (FunctionIdentifier("long_eq_count"),
      new ExpressionInfo(classOf[LongArrayEqCount].getName, "long_eq_count"),
      (args: Seq[Expression]) => {
        require(args.length == 2,
          "long_eq_count(array<bigint>, array<bigint>)")
        LongArrayEqCount(args.head, args(1))
      }),
    // Spark ships distributed bloom-sketch expressions for its own
    // runtime row-level filtering but does not expose them as SQL
    // functions; surfacing them gives the engine a fixed-size set
    // membership prescreen (see t39) without any UDF.
    (FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomFilterAggregate].getName, "bloom_build"),
      (args: Seq[Expression]) => args match {
        case Seq(v) =>
          new BloomFilterAggregate(v, Literal(1000000L), Literal(8388608L))
        case Seq(v, items, bits) =>
          // the aggregate demands BIGINT constants; SQL integer
          // literals arrive as INT, so re-literalize foldable sizes
          new BloomFilterAggregate(v, foldedLong(items), foldedLong(bits))
        case _ => throw new IllegalArgumentException(
          "bloom_build(xxhash64_value[, est_items, num_bits])")
      }),
    (FunctionIdentifier("bloom_contains"),
      new ExpressionInfo(classOf[BloomFilterMightContain].getName, "bloom_contains"),
      (args: Seq[Expression]) => {
        require(args.length == 2, "bloom_contains(bloom, xxhash64_value)")
        BloomFilterMightContain(args.head, args(1))
      }))

  private def foldedString(e: Expression): String = {
    require(e.foldable, s"expected a string literal, got $e")
    String.valueOf(e.eval(null))
  }

  private def foldedCsv(e: Expression): Seq[String] =
    foldedString(e).split(",").map(_.trim).filter(_.nonEmpty).toSeq

  private def foldedLong(e: Expression): Literal = {
    require(e.foldable, s"expected a numeric literal, got $e")
    e.eval(null) match {
      case n: java.lang.Number => Literal(n.longValue())
      case other => throw new IllegalArgumentException(
        s"bloom_build sizes must be integral literals, got $other")
    }
  }
}
