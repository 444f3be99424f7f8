package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  * Each entry in `queries` is a named operator query from SURVEY.md §2
  * (or a beyond-reference training-data op); `oracleSql` carries the
  * DuckDB-equivalent SQL with IDENTICAL column names and row order. */
object SparkEntry {

  private def registry: Seq[QuerySpec] =
    CoreQueries.all ++ FunctionQueries.all ++ TextQueries.all ++
      VectorQueries.all ++ ExtraQueries.all ++ WarehouseQueries.all ++
      ScalarQueries2.all ++ ParserQueries.all ++ TicketQueries.all ++
      PipelineE2EQueries.all ++ MultimodalQueries.all ++ LmQueries.all ++
      BpeQueries.all ++ SketchQueries.all ++ SearchQueries.all ++
      ScorecardQueries.all ++ CurationQueries.all ++ WordPieceQueries.all ++
      GraphQueries.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    CoreQueries.q1PricingSummary.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  def oracleSql: Map[String, String] =
    registry.map(q => q.name -> q.oracle).toMap
}
