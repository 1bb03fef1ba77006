package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One engine capability exposed to the driver harness: a Spark
  * implementation plus (when SQL-expressible) an equivalent DuckDB oracle
  * over the same parquet tables. Column names and row order must match the
  * oracle exactly; non-SQL-expressible operators carry `oracle = None` and
  * get a weaker rows-only check.
  */
final case class GraftQuery(
    name: String,
    run: (SparkSession, String) => DataFrame,
    oracle: Option[String])

object Registry {
  def all: Seq[GraftQuery] =
    graft.queries.CoreQueries.all ++
      graft.queries.TextQueries.all ++
      graft.queries.DedupQueries.all ++
      graft.queries.SimilarityQueries.all ++
      graft.queries.EventQueries.all ++
      graft.queries.MultimodalQueries.all ++
      graft.queries.AdvancedQueries.all ++
      graft.queries.MedallionQueries.all ++
      graft.queries.CurationQueries.all ++
      graft.queries.ShardQueries.all ++
      graft.queries.GraphQueries.all ++
      graft.queries.StatsQueries.all

  /** Built once per JVM. Lookups serve `run`; some oracles embed a path
    * landed at run time (q76, q89), so oracle SQL is read through [[all]].
    */
  private lazy val index: Map[String, GraftQuery] = all.map(q => q.name -> q).toMap

  def byName(name: String): GraftQuery =
    index.getOrElse(name, sys.error(s"no such query: $name"))
}
