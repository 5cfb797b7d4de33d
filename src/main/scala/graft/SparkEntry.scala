package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.ops.Q

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` is the full operator surface (SURVEY.md §2.2 capability
  * matrix + the LLM-pipeline extensions); `oracleSql` holds the
  * DuckDB-equivalent SQL for every SQL-expressible entry. Column names
  * are kept in sync per-query inside each `Q` definition.
  */
object SparkEntry {

  /** Every registered query, from all modules. */
  val registry: Seq[Q] =
    ops.Relational.all ++ ops.Relational2.all ++ ops.Relational3.all ++
      ops.Dedup.all ++
      ops.TextAnalysis.all ++ ops.Similarity.all ++ ops.Multimodal.all ++
      ops.StreamingOps.all ++ ops.Pipeline.all ++ ops.SourceSinks.all ++
      ops.Curation.all ++ ops.Graph.all ++ etl.EtlParity.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    registry.find(_.name == "q03_revenue_by_segment").get
      .run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.map(q => q.name -> q.run).toMap

  /** The registry in name order, narrowed to the names containing any
    * of the comma-separated terms of `filter`; an empty filter selects
    * every query. The one query selection of Bench, Verify and Plans.
    */
  def selected(filter: String): Seq[Q] = {
    val terms = filter.split(',').map(_.trim).filter(_.nonEmpty)
    registry.sortBy(_.name)
      .filter(q => terms.isEmpty || terms.exists(q.name.contains))
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    registry.flatMap(q => q.sql.map(s => q.name -> s.trim)).toMap
}
