package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.queries._

/** Driver contract: one batch query per implemented operator (SURVEY.md §2
  * + the training-data-pipeline extensions), plus the `*_stream` gate
  * replays that re-run 42 of those operators as micro-batch streams. Each
  * [[graft.queries.Query]] is declared once, with its DuckDB oracle, in its
  * family's file under `graft.queries`; the name-keyed maps the driver
  * reads are derived from those lists.
  */
object SparkEntry {

  /** Every declared query, family by family. */
  val families: Seq[Seq[Query]] = Seq(
    ReferenceQueries.all, TpchQueries.all, DedupQueries.all, PipelineQueries.all,
    TextQueries.all, EmbeddingQueries.all, SearchQueries.all, MultimodalQueries.all)

  val queries: Map[String, Query] = families.flatten.map(q => q.name -> q).toMap

  val oracleSql: Map[String, String] = queries.map { case (name, q) => name -> q.oracleSql }

  /** Flagship: sliding-window hot-item top-N (reference HotItemApp) on the
    * events table. Driver smoke-checks rows > 0 at sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    queries("q_hot_items")(spark, "/root/testdata/sf0.001")
}
