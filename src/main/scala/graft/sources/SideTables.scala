package graft.sources

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

/** Side-table ingest: header-synonym projection and row hygiene
  * (SURVEY.md §2 S3/S4).
  *
  * The reference reads employee/location XLSX sheets whose headers vary
  * by language and phrasing: it matches each wanted field against a
  * synonym list in English AND Hebrew (adapters/employee_source.py:24-41),
  * dedupes repeated headers by suffixing `_2` (location_source.py:21-32),
  * drops unnamed columns and all-empty rows. These tables are tiny and
  * always broadcast into enrichment joins (J1/J2).
  */
object SideTables {

  /** Header match key: trim, lower, collapse whitespace; null reads "". */
  private[sources] def headerNorm(s: String): String =
    Option(s).getOrElse("").trim.toLowerCase.replaceAll("\\s+", " ")

  /** Rename duplicate headers positionally: second occurrence of `x`
    * becomes `x_2`, third `x_3`… — duplicates counted on the TRIMMED
    * EXACT name like `_prepare_headers` (adapters/location_source.py:
    * 6-21, case-sensitive); blank headers are dropped (the reference
    * skips those columns entirely), plus pandas-style "unnamed" landing
    * artifacts. */
  def dedupeHeaders(df: DataFrame): DataFrame = {
    // Positional rename first (duplicate names make `col(...)` ambiguous):
    // every column gets its final unique name via toDF, then drops happen
    // by name safely.
    val seen = scala.collection.mutable.Map.empty[String, Int]
    val renamed = df.columns.toSeq.map { c =>
      val base = c.trim
      val cnt = seen.getOrElse(base, 0) + 1
      seen(base) = cnt
      if (cnt == 1) base else s"${base}_$cnt"
    }
    val drops = renamed.filter { c =>
      val n = headerNorm(c)
      n.isEmpty || n.startsWith("unnamed")
    }
    // Spark's case-insensitive resolution cannot hold "Type" and "type"
    // apart (the reference's dict can): suffix case-only collisions.
    val lowerSeen = scala.collection.mutable.Set.empty[String]
    val unique = renamed.zipWithIndex.map { case (c, i) =>
      if (lowerSeen.add(c.toLowerCase)) c else s"${c}__$i"
    }
    df.toDF(unique: _*).drop(drops: _*)
  }

  /** Project `canonical name → synonym list` against whatever headers
    * the sheet actually has: the FIRST synonym present binds exactly
    * ONE source column — its first occurrence — like
    * `idx(opts)`/`headers.index` (employee_source.py:18-26); no match →
    * null column. Values are cast to string and trimmed (:37-41). */
  def selectBySynonyms(df: DataFrame, spec: Seq[(String, Seq[String])]): DataFrame =
    df.select(synonymCols(df, spec): _*)

  private def synonymCols(df: DataFrame, spec: Seq[(String, Seq[String])]): Seq[Column] = {
    // first occurrence wins on duplicate normalized headers
    val byNorm: Map[String, String] =
      df.columns.reverseIterator.map(c => headerNorm(c) -> c).toMap
    spec.map { case (name, syns) =>
      val hit = syns.iterator.flatMap(s => byNorm.get(headerNorm(s)))
        .nextOption()
      val c: Column = hit match {
        case Some(h) =>
          when(trim(col(h).cast(StringType)) === "", lit(null))
            .otherwise(trim(col(h).cast(StringType)))
        case None => lit(null).cast(StringType)
      }
      c.as(name)
    }
  }

  /** Drop rows where every projected column is null/blank
    * (employee_source.py:33-35; location_source.py:45-52). */
  def dropBlankRows(df: DataFrame): DataFrame = df.where(anyFilled(df.columns.toSeq))

  private def anyFilled(cols: Seq[String]): Column =
    cols.map(c => trim(coalesce(col(c).cast(StringType), lit(""))) =!= "").reduce(_ || _)

  /** Employee synonyms — the reference's exact lists
    * (employee_source.py:24-26). */
  val EmployeeSpec: Seq[(String, Seq[String])] = Seq(
    "id" -> Seq("id", "branch id", "מספר סניף", "מס'"),
    "name" -> Seq("name", "contact", "contacts name", "manager",
      "שם איש קשר", "שם פרטי"),
    "phone" -> Seq("phone", "contacts phone", "טלפון", "טלפון נייד"))

  /** Location headers (Hebrew-keyed, core/enrich/locations.py:5-9 —
    * note the reference says תאור שרות ראשי/משני, "service"
    * descriptions); EN fallbacks serve landing-zone tables. */
  val LocationSpec: Seq[(String, Seq[String])] = Seq(
    "branch_id" -> Seq("מס' סניף", "branch id"),
    "address" -> Seq("כתובת", "address"),
    "primary_desc" -> Seq("תאור שרות ראשי", "primary description"),
    "secondary_desc" -> Seq("תאור שרות משני", "secondary description"),
    "subscriber" -> Seq("מספר מנוי", "subscriber"))

  /** Synonym projection + blank-row drop. A raw `row_idx` column (the
    * sheet's row order) rides along as a long: the enrich joins order
    * their last-wins and first-seen picks by it. It is not sheet
    * content, so it does not keep an otherwise blank row. */
  private def sideTable(raw: DataFrame, spec: Seq[(String, Seq[String])]): DataFrame = {
    val df = dedupeHeaders(raw)
    val rowIdx = df.columns.find(_ == "row_idx").map(c => col(c).cast(LongType).as(c))
    df.select(synonymCols(df, spec) ++ rowIdx: _*).where(anyFilled(spec.map(_._1)))
  }

  def employees(raw: DataFrame): DataFrame = sideTable(raw, EmployeeSpec)

  def locations(raw: DataFrame): DataFrame = sideTable(raw, LocationSpec)
}
