package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions.toDoubleArray
import graft.operators._
object IvfTrain {
  /** TrainedIvfCentroids.scala holding `cells`. */
  def source(cells: Seq[CentroidND]): String = CentroidLiterals.source(Seq(
    "IVF coarse centroids trained ONCE offline (KMeansND.fit on the",
    "sf0.01 embeddings, K=8, 10 iters, seed 21) and frozen as literals —",
    "deterministic for the oracle, tighter cells than random planes.",
    "Regenerate with graft.tools.IvfTrain."), "TrainedIvfCentroids",
    s"  val cells: Seq[CentroidND] = ${CentroidLiterals.cells(cells, "  ")}\n")

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val pts = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
    val init = Centroids.randomInitND(8, 64, seed = 21L, -0.45, 0.49)
    val res = KMeansND.fit(spark, pts, init, maxIter = 10, delta = 0.0)
    CentroidLiterals.write("TrainedIvfCentroids", source(res.centroids))
    println(s"[ivf-train] sse=${res.sse} wrote TrainedIvfCentroids.scala")
    spark.stop()
  }
}
