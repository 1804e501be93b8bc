package graft.tools

/** Dumps `.explain("formatted")` for named registered queries to files —
  * the plans/r19/<query>_{before,after}.txt evidence trail of the
  * optimization rounds.
  *
  * Usage: tools/run_main.sh [-Dspark.<key>=<v> ...] graft.tools.ExplainDump <outDir> <suffix> <q1,q2,...> [sfDir]
  *
  * A `-Dspark.*` system property becomes a session conf (SparkConf loads
  * them), e.g. `-Dspark.graft.driverRegime=false` dumps the distributed
  * "before" shape of the two-regime operators.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val names = args(2).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = args.lift(3).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val plan = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(s"$outDir/${name}_$suffix.txt"), plan)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt")
    }
    spark.stop()
  }
}
