package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` aggregates every oracle-checked operator query; each domain
  * module pairs its Spark implementation with DuckDB oracle SQL built from
  * the SAME literal constants (SURVEY §7.5 determinism strategy).
  */
object SparkEntry {
  /** Flagship: MLlib k-means fit on the 64-dim embeddings table
    * (SURVEY §7.2.6); driver smoke-checks rows>0 on sf0.001.
    */
  def entry(spark: SparkSession): DataFrame =
    graft.operators.MLlibFlagship.run(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    KMeansQueries.queries ++ RelationalQueries.queries ++
      AnalyticQueries.queries ++ PipelineQueries.queries ++
      TemporalQueries.queries ++ TpchQueries.queries ++
      SqlTextQueries.queries ++ StreamingQueries.queries ++
      DedupQueries.queries ++ TextQueries.queries ++
      SimilarityQueries.queries ++ MultimodalQueries.queries ++
      WarehouseQueries.queries ++ GraphQueries.queries ++
      QualityQueries.queries ++ SpatialQueries.queries

  /** [[queries]] under the dev-loop filters Bench and Verify share
    * (unset, every query runs): `SPARK_GRAFT_ONLY=q1,q2` keeps just
    * those queries, `SPARK_GRAFT_SKIP` drops those (derived-scale runs
    * drop the declared brute-force baselines).
    */
  def selectedQueries: Seq[(String, (SparkSession, String) => DataFrame)] = {
    def names(env: String): Set[String] =
      sys.env.get(env).map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty)
    val only = names("SPARK_GRAFT_ONLY")
    val skip = names("SPARK_GRAFT_SKIP")
    queries.toSeq.filter { case (n, _) => (only.isEmpty || only(n)) && !skip(n) }
  }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted keys (iterative fits, MLlib) get the
    * weaker rows-only check.
    */
  def oracleSql: Map[String, String] =
    KMeansQueries.oracleSql ++ RelationalQueries.oracleSql ++
      AnalyticQueries.oracleSql ++ PipelineQueries.oracleSql ++
      TemporalQueries.oracleSql ++ TpchQueries.oracleSql ++
      SqlTextQueries.oracleSql ++ StreamingQueries.oracleSql ++
      DedupQueries.oracleSql ++ TextQueries.oracleSql ++
      SimilarityQueries.oracleSql ++ MultimodalQueries.oracleSql ++
      WarehouseQueries.oracleSql ++ GraphQueries.oracleSql ++
      QualityQueries.oracleSql ++ SpatialQueries.oracleSql
}
