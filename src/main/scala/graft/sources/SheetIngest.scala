package graft.sources

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StringType, StructField, StructType}

import graft.sources.SideTables.headerNorm

/** Excel-register ingest (SURVEY.md §2.1 S1 + §2.4 A12). The zero-
  * egress build has no XLSM reader; sheets land as positional row
  * tables (array of cell strings per row — a CSV/parquet landing zone),
  * and this op supplies the reference's schema-on-read semantics:
  *
  *  - header ELECTION: the header is not guaranteed to be row 0 — scan
  *    the first ≤20 rows, score each by matches against the expected
  *    header set, require the key column, argmax wins
  *    (core/excel/update_from_json.py:137-162);
  *  - header→key mapping by normalized name with POSITIONAL fallback
  *    when a wanted header is absent (import_from_xlsm.py:51-77);
  *  - column truncation to the spec's width (:103), NaN/blank → null,
  *    all-null rows dropped (:79-84).
  *
  * Election is a driver-side scan of 20 rows (`limit(20).collect` —
  * constant work at any table size); the body projection is a narrow
  * distributed select. */
object SheetIngest {

  final case class SheetSpec(keys: Seq[String], keyColumn: String)

  /** The Company sheet's spec (import_from_xlsm.py:14-23). */
  val CompanySpec: SheetSpec = SheetSpec(
    Seq("ID", "Floor", "Printer IP", "Type", "Serial", "Comment"), "ID")

  /** A12 — elect the header row: score = #cells matching expected
    * headers; the key column must be present; argmax (first on ties). */
  def electHeader(rows: Seq[Seq[String]], spec: SheetSpec): Option[Int] = {
    val expected = spec.keys.map(headerNorm).toSet
    val scored = rows.take(20).zipWithIndex.map { case (cells, i) =>
      val normed = cells.map(headerNorm)
      val score = normed.count(expected.contains)
      val hasKey = normed.contains(headerNorm(spec.keyColumn))
      (i, score, hasKey)
    }
    scored.filter(_._3) match {
      case Seq() => None
      case s => Some(s.maxBy(_._2)._1)
    }
  }

  /** Full ingest: positional table (`cells: array<string>` + `row_idx`)
    * → typed frame with the spec's columns. Headers map by normalized
    * name; wanted keys missing from the header fall back to their
    * positional slot (import_from_xlsm.py:77). */
  def apply(spark: SparkSession, raw: DataFrame, spec: SheetSpec): DataFrame = {
    val head = raw.orderBy("row_idx").limit(20)
      .select("row_idx", "cells").collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).toSeq)
      .toSeq.sortBy(_._1)
    val headerIdx = electHeader(head.map(_._2), spec)
      .getOrElse(throw new IllegalArgumentException(
        s"no header row found (key '${spec.keyColumn}' absent in first 20 rows)"))
    val headerRowIdx = head(headerIdx)._1
    val header = head(headerIdx)._2.map(headerNorm)

    // wanted key → source position: by normalized name within the
    // spec's column limit, each source column claimable ONCE, else the
    // key's own positional slot (import_from_xlsm.py:55-71 — the
    // `taken` set keeps duplicate headers from double-binding).
    val headerLimited = header.take(spec.keys.length)
    val taken = scala.collection.mutable.Set.empty[Int]
    val positions = spec.keys.zipWithIndex.map { case (k, pos) =>
      val target = headerNorm(k)
      val byName = headerLimited.zipWithIndex.collectFirst {
        case (h, i) if h == target && !taken.contains(i) => i
      }
      byName.foreach(taken += _)
      k -> byName.getOrElse(pos)
    }
    val cols = positions.map { case (k, pos) =>
      val c = trim(get(col("cells"), lit(pos)))
      when(c === "" || c === "nan", lit(null).cast(StringType))
        .otherwise(c).as(k)
    }
    val body = raw.where(col("row_idx") > headerRowIdx)
      .select(col("row_idx") +: cols: _*)
    val anyFilled = spec.keys.map(k => col(s"`$k`").isNotNull).reduce(_ || _)
    body.where(anyFilled)
  }

  /** Landing-zone helper for tests: rows of raw cells → positional DF. */
  def positional(spark: SparkSession, rows: Seq[Seq[String]]): DataFrame = {
    val schema = StructType(Seq(
      StructField("row_idx", org.apache.spark.sql.types.LongType, nullable = false),
      StructField("cells", org.apache.spark.sql.types.ArrayType(StringType))))
    spark.createDataFrame(
      spark.sparkContext.parallelize(
        rows.zipWithIndex.map { case (cells, i) => Row(i.toLong, cells) }),
      schema)
  }
}
