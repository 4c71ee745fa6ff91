package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is assembled from the per-area registries under
  * `graft.queries.*`; each entry has a DuckDB-equivalent oracle SQL in
  * `oracleSql` unless the op isn't SQL-expressible (rows-only check).
  */
object SparkEntry {

  /** All registered queries, in registration order. */
  lazy val all: Seq[Q] =
    graft.queries.Relational.queries ++
      graft.queries.NestedQueries.queries ++
      graft.queries.TextQueries.queries ++
      graft.queries.DedupQueries.queries ++
      graft.queries.PipelineQueries.queries ++
      graft.queries.EventQueries.queries ++
      graft.queries.EventQueries.multimodal ++
      graft.queries.EventQueries.sketches ++
      graft.queries.SurfaceQueries.queries

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * Mirrors SURVEY §7.2's end-to-end slice: scan -> join -> partial+final
    * agg -> ordered result (AQE picks the join strategy at runtime).
    */
  def entry(spark: SparkSession): DataFrame = {
    val d = "/root/testdata/sf0.001"
    Tables.lineitem(spark, d)
      .join(Tables.orders(spark, d),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderpriority")
      .agg(graft.queries.Relational.revenue.as("revenue"), count(lit(1)).as("n"))
      .orderBy("o_orderpriority")
  }

  /** One entry per implemented operator from SURVEY.md §2. Each entry
    * installs the engine's native functions into whatever session it is
    * handed, so the map works from sessions built without
    * `spark.sql.extensions=graft.plans.GraftExtensions` too. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map { q =>
      q.name -> { (s: SparkSession, d: String) =>
        graft.plans.GraftExtensions.install(s)
        q.fn(s, d)
      }
    }.toMap

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Every registered query carries one. */
  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
