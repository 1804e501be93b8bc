package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions.toDoubleArray
import graft.operators._
object IvfTrain {
  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pts = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
    val init = Centroids.randomInitND(8, 64, seed = 21L, -0.45, 0.49)
    val res = KMeansND.fit(spark, pts, init, maxIter = 10, delta = 0.0)
    // emit Scala source with the trained centroids frozen as literals
    val sb = new StringBuilder
    sb.append("package graft.operators\n\n")
    sb.append("/** IVF coarse centroids trained ONCE offline (KMeansND.fit on the\n")
    sb.append("  * sf0.01 embeddings, K=8, 10 iters, seed 21) and frozen as literals —\n")
    sb.append("  * deterministic for the oracle, tighter cells than random planes.\n")
    sb.append("  * Regenerate with graft.tools.IvfTrain.\n  */\n")
    sb.append("object TrainedIvfCentroids {\n  val cells: Seq[CentroidND] = Seq(\n")
    res.centroids.foreach { c =>
      sb.append(s"    CentroidND(${c.cid}, Array(")
      sb.append(c.vec.map(v => s"$v").mkString(", "))
      sb.append(")),\n")
    }
    sb.append("  )\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/TrainedIvfCentroids.scala"),
      sb.toString)
    println(s"[ivf-train] sse=${res.sse} wrote TrainedIvfCentroids.scala")
    spark.stop()
  }
}
