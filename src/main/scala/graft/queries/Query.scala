package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One declared query: the name the driver records it under, the DuckDB
  * oracle its result must hash-match, and the builder that plans it on a
  * session over a table directory. A `*_stream` query replays its batch
  * twin's operator as micro-batches and shares the twin's oracle.
  */
final class Query(val name: String, val oracleSql: String)(
    build: (SparkSession, String) => DataFrame)
    extends ((SparkSession, String) => DataFrame) {

  def stream: Boolean = name.endsWith("_stream")

  def apply(spark: SparkSession, dir: String): DataFrame = build(spark, dir)
}

object Query {
  def apply(name: String, oracleSql: String)(
      build: (SparkSession, String) => DataFrame): Query =
    new Query(name, oracleSql)(build)
}
