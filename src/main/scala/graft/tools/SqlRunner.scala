package graft.tools

import org.apache.spark.sql.SparkSession

/** SQL-text entry point: registers every fixture table as a temp view
  * plus the graft native functions (graft_dot / graft_dist_sq), then
  * executes the given SQL — so a user of the engine can drive it with
  * plain SQL instead of the DataFrame API.
  *
  * Usage: runMain graft.tools.SqlRunner <sfDir> "<sql>"
  */
object SqlRunner {
  val tableNames: Seq[String] = Seq("region", "nation", "customer",
    "supplier", "part", "orders", "lineitem", "events", "documents",
    "embeddings")

  /** Register fixture views + native functions on a session. */
  def register(spark: SparkSession, sfDir: String): Unit = {
    tableNames.foreach { t =>
      val df = if (t == "events") graft.Tables.events(spark, sfDir)
        else graft.Tables.table(spark, sfDir, t)
      df.createOrReplaceTempView(t)
    }
    graft.functions.ArrayKernels.register(spark)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.001")
    val sql = args.lift(1).getOrElse(
      "SELECT l_returnflag, count(*) AS n FROM lineitem GROUP BY 1 ORDER BY 1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    register(spark, sfDir)
    spark.sql(sql).show(50, truncate = false)
    spark.stop()
  }
}
