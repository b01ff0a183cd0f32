package graft

import graft.operators.{CorpusCuration, Dedup, EventWindows, Multimodal, Similarity, TextAnalysis}
import graft.queries.{AdhesiveParityQueries, RelationalQueries}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Queries are assembled from:
  *   - [[graft.queries.AdhesiveParityQueries]] — the reference's own surface
  *     (dynamic-UDF DDL + projection), SURVEY §2a;
  *   - [[graft.queries.RelationalQueries]] — the inherited relational
  *     surface, SURVEY §2b;
  *   - north-star operators (dedup / similarity / text / multimodal).
  */
object SparkEntry {

  private def allQueries: Seq[RelationalQueries.Q] =
    AdhesiveParityQueries.all ++ RelationalQueries.all ++
      TextAnalysis.all ++ Dedup.all ++ Similarity.all ++ Multimodal.all ++
      EventWindows.all ++ CorpusCuration.all

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    AdhesiveParityQueries.entry(spark)

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allQueries.map(q => q.name -> q.build).toMap

  /** The entries named in `names`, sorted by name; no names selects every
    * entry. An unknown name throws: a typo must fail loudly, not time or
    * dump nothing.
    */
  def select(names: Seq[String])
      : Seq[(String, (SparkSession, String) => DataFrame)] = {
    val all = queries
    val unknown = names.filterNot(all.contains).distinct.sorted
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.mkString(", ")}")
    val kept = if (names.isEmpty) all else all.view.filterKeys(names.toSet)
    kept.toSeq.sortBy(_._1)
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops.
    */
  def oracleSql: Map[String, String] =
    allQueries.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
