package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Normalize

/** Printers-document ingest (SURVEY.md §2 P1/P2/U1, S2).
  *
  * The reference's central dataset is one JSON document with two group
  * arrays (`Company_Grouped`, `Branches_Grouped`); every step iterates
  * both as a single record stream (core/printers.py:4-17). Here the
  * document lands once as a *table*: explode each group with its
  * positional index (order-sensitivity: last-wins / first-seen merges
  * downstream need an explicit source row index, SURVEY.md §4.3), tag a
  * `group` discriminator, and union by name with missing columns
  * allowed (Company has `Floor`; Branches have `Name`/`BO IP`/
  * `storeInfo` — import_from_xlsm.py:14-23).
  *
  * Scale: a real fleet document is small (thousands of printers), but
  * the same shape holds for millions of devices: the explode is
  * narrow (no shuffle), and all downstream enrichment joins broadcast
  * the small side.
  */
object DocumentIngest {

  val GroupKeys: Seq[String] = Seq("Company_Grouped", "Branches_Grouped")

  /** Whole-document JSON read: one row, one column per group array
    * (adapters/printers_store.py:33-35). `multiLine` because the file
    * is a single pretty-printed object, not JSON-lines. */
  def readDocument(spark: SparkSession, path: String): DataFrame =
    spark.read.option("multiLine", true).json(path)

  /** Document → unified printer-record stream with `group` discriminator
    * and per-group positional `row_idx` (core/printers.py:6-17).
    *
    * The JSON reader infers each group array's element schema
    * independently, and the reference's data makes them genuinely
    * diverge (dual-typed `tonerType`, int-vs-string `ID`) — so each
    * frame is harmonized to the canonical types BEFORE the union:
    * `ID` → string, `printerInfo.tonerType` → array<string>. A group
    * whose array holds no records (inference types `[]` as
    * array<string>) contributes no rows. */
  def printers(doc: DataFrame): DataFrame = {
    val recordGroups = GroupKeys.filter(g => doc.schema.find(_.name == g).exists(
      _.dataType match { case ArrayType(_: StructType, _) => true; case _ => false }))
    val frames = recordGroups.map { g =>
      harmonize(doc
        .select(posexplode(col(g)).as(Seq("row_idx", "rec")))
        .select(lit(g).as("group"), col("row_idx"), col("rec.*")))
    }
    require(frames.nonEmpty, s"document has no printer records under $GroupKeys")
    frames.reduce(_.unionByName(_, allowMissingColumns = true))
  }

  private def harmonize(df: DataFrame): DataFrame = {
    val withId =
      if (df.columns.contains("ID")) df.withColumn("ID", col("ID").cast(StringType))
      else df
    piTonerTypeField(withId) match {
      case Some(StringType) =>
        withId.withColumn("printerInfo", col("printerInfo")
          .withField("tonerType", unifyTonerType(col("printerInfo.tonerType"))))
      case _ => withId // already array<string>, or absent
    }
  }

  private def piTonerTypeField(df: DataFrame): Option[DataType] =
    df.schema.fields.find(_.name == "printerInfo").map(_.dataType).flatMap {
      case s: StructType => s.fields.find(_.name == "tonerType").map(_.dataType)
      case _ => None
    }

  /** The printerInfo fields the fleet operators read or write. */
  val PrinterInfoFields: Seq[StructField] = StructType.fromDDL(
    "status string, cartridges array<struct<cartridge:string,remaining_percent:string>>, " +
      "printerError struct<problem:string,severity:string>, tonerType array<string>").fields.toSeq

  /** `ensure_printer_info`-style widening (core/printers.py:19-24) for
    * any record struct: JSON inference only types the fields some record
    * carries, and reading an absent field fails analysis
    * (FIELD_NOT_FOUND), so `df`'s struct column `name` gains each of
    * `fields` it lacks as a null field, appended; an absent or
    * non-struct column becomes a null struct of `fields`. A record
    * without the struct stays null; a complete struct leaves `df` as is. */
  def ensureStruct(df: DataFrame, name: String, fields: Seq[StructField]): DataFrame =
    df.schema.find(_.name == name).map(_.dataType) match {
      case Some(t: StructType) =>
        fields.filterNot(f => t.fieldNames.contains(f.name)).foldLeft(df)((d, f) =>
          d.withColumn(name, col(name).withField(f.name, lit(null).cast(f.dataType))))
      case _ => df.withColumn(name, lit(null).cast(StructType(fields)))
    }

  /** `df`'s struct column `name` with a null struct read as all-null
    * fields — the base `withField` writes onto (it leaves null null). */
  def structBase(df: DataFrame, name: String): Column = {
    val t = df.schema(name).dataType.asInstanceOf[StructType]
    coalesce(col(name), struct(t.fields.toSeq.map(f => lit(null).cast(f.dataType).as(f.name)): _*))
  }

  /** Unify the dual-typed `tonerType` (SURVEY.md §1.2 hard part 1):
    * the SNMP path writes array<string>
    * (plugins/tonerType/toner_type_snmp.py:49), the web path a plain
    * string (toner_type_web.py:44). Spark's JSON reader resolves the
    * type conflict to StringType, rendering arrays as JSON text — so:
    * JSON-array-looking text parses back to array, anything else wraps
    * as a 1-element array, null stays null. */
  def unifyTonerType(c: Column): Column = {
    val t = trim(c)
    when(c.isNull, lit(null).cast(ArrayType(StringType)))
      .when(t.startsWith("["), from_json(t, ArrayType(StringType)))
      .otherwise(array(c))
  }

  /** Write-back: reassemble the printer stream into the single-document
    * shape and atomically replace the store (adapters/printers_store.py:
    * 38-42 writes tmp-then-rename; here: write to a tmp file, then
    * atomic move). Group arrays are rebuilt in `row_idx` order so a
    * read→write round-trip is stable; `group`/`row_idx` bookkeeping
    * columns are folded away; a group with no rows is written as `[]`.
    * The document is one JSON object by contract (a fleet register,
    * not a fact table) — the final assembly is intentionally
    * driver-side; everything upstream of it is distributed. */
  def writeDocument(printers: DataFrame, path: String): Unit = {
    import org.apache.spark.sql.functions.{to_json, sort_array, collect_list, struct}
    val recCols = printers.columns.filterNot(Seq("group", "row_idx").contains)
    val grouped = printers
      .groupBy("group")
      .agg(sort_array(collect_list(struct(
        col("row_idx") +: recCols.map(c => col(s"`$c`")): _*))).as("recs"))
      .select(col("group"),
        to_json(expr("transform(recs, r -> " +
          s"struct(${recCols.map(c => s"r.`$c`").mkString(", ")}))"),
          Map("ignoreNullFields" -> "true")).as("recs_json"))
      .collect()
      .map(r => r.getString(0) -> r.getString(1))
    val empty = GroupKeys.filterNot(grouped.map(_._1).contains).map(_ -> "[]")
    val body = (grouped ++ empty).sortBy { case (g, _) => GroupKeys.indexOf(g) }
      .map { case (g, js) => s""""$g": $js""" }
      .mkString("{\n", ",\n", "\n}")
    val target = java.nio.file.Paths.get(path)
    val tmp = java.nio.file.Paths.get(path + ".tmp")
    java.nio.file.Files.writeString(tmp, body)
    java.nio.file.Files.move(tmp, target,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** P3: keep printers whose IP is real (core/printers.py:26-36). Runs
    * BEFORE any expensive fan-out — the reference's manual predicate
    * pushdown, kept manual here too because Catalyst cannot push
    * through an opaque mapPartitions poll. */
  val BadIps: Seq[String] = Seq("", "-", "n/a", "na", "none", "0.0.0.0", "null")

  /** Document-order group rank over a `group` column: GroupKeys get
    * their declaration index; a group value the reference's
    * iter_printers would never yield (unknown/null) gets `unknownRank`.
    * Callers choose the unknown's precedence so it always LOSES their
    * pick: a first-wins (min) ordering passes GroupKeys.size (sorts
    * last), a last-wins (max) ordering passes -1 (sorts first). */
  def groupRank(unknownRank: Long): Column =
    coalesce((GroupKeys.zipWithIndex.map { case (g, i) =>
      when(col("group") === g, lit(i.toLong))
    } :+ lit(unknownRank)): _*)

  def ipOf(df: DataFrame): Column = {
    // norm_ip (core/printers.py:28-33): the scan stops at the first
    // TRUTHY value — an empty string falls through to the next key,
    // but whitespace is truthy and returns its trim (possibly "").
    // Python truthiness is type-aware: numeric 0 is falsy (skipped)
    // even though the string "0" is truthy — the column dtype carries
    // that distinction here.
    val candidates = Seq("Printer IP", "IP", "ip").filter(df.columns.contains)
    val picks = candidates.map { c =>
      val truthy = df.schema(c).dataType match {
        case _: org.apache.spark.sql.types.NumericType =>
          col(c).isNotNull && col(c) =!= 0
        case _ => col(c).isNotNull && col(c).cast(StringType) =!= ""
      }
      // str(v).strip(): a "\t10.0.0.6\n" cell must match (p5_only_ip
      // hash-gates this)
      when(truthy, Normalize.pyStrip(col(c).cast(StringType)))
    }
    coalesce(picks :+ lit(null).cast(StringType): _*)
  }

  /** P3's predicate over `df`'s rows: [[ipOf]] is non-null and not one
    * of the [[BadIps]] placeholders (case-insensitive). */
  def hasValidIp(df: DataFrame): Column = {
    val ip = ipOf(df)
    ip.isNotNull && !lower(ip).isin(BadIps: _*)
  }

  def withValidIp(df: DataFrame): DataFrame =
    df.where(hasValidIp(df)).withColumn("ip", ipOf(df))
}
