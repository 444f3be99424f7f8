package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One named engine query: the Spark-side implementation plus an
  * equivalent DuckDB oracle over the same parquet tables. Column names
  * MUST match between the two — the oracle check sorts columns by name
  * before hashing. Every query also fixes a total row order on both
  * sides so value hashing is stable.
  */
final case class QuerySpec(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: String)

object QuerySpec {
  def sql(name: String, oracle: String)(
      run: (SparkSession, String) => DataFrame): QuerySpec =
    QuerySpec(name, run, oracle.trim)
}
