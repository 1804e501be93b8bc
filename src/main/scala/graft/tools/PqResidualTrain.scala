package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions.toDoubleArray
import graft.operators._

/** Trains RESIDUAL product-quantization codebooks: corpus vectors are
  * assigned to their TrainedIvfCentroids cell, the per-cell residual
  * (v − centroid) is computed, and one codebook per 16-dim residual
  * subspace is fit — residuals concentrate near zero, so the same code
  * budget quantizes them with lower distortion than raw vectors (the
  * IVF-PQ idea from the FAISS/Jégou lineage, built from public
  * knowledge). Output frozen as TrainedResidualPq.scala.
  */
object PqResidualTrain {
  val M = 4
  val SubDim = 16
  val K = 8

  /** TrainedResidualPq.scala holding `books`. */
  def source(books: Seq[Seq[CentroidND]]): String = CentroidLiterals.source(Seq(
    "RESIDUAL product-quantization codebooks (per-cell residual",
    s"vs TrainedIvfCentroids, M=$M subspaces, K=$K codes, 10 iters)",
    "frozen as literals. Regenerate with graft.tools.PqResidualTrain."),
    "TrainedResidualPq",
    s"  val books: Seq[Seq[CentroidND]] = ${CentroidLiterals.books(books)}\n")

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val cells = TrainedIvfCentroids.cells
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
    // residual = vec − centroid of the assigned cell
    val resid = Assign.withNearestND(emb, col("vec"), cells, "cell")
      .select(col("vec_id"),
        zip_with(col("vec"), Assign.centroidOf(col("cell"), cells), (a, b) => a - b).as("vec"))
    val books = (0 until M).map { s =>
      val sub = resid.select(col("vec_id"),
        slice(col("vec"), s * SubDim + 1, SubDim).as("vec"))
      val init = Centroids.randomInitND(K, SubDim, seed = 200L + s, -0.2, 0.2)
      val res = KMeansND.fit(spark, sub, init, maxIter = 10, delta = 0.0)
      println(s"[pq-residual-train] subspace $s sse=${res.sse}")
      res.centroids
    }
    CentroidLiterals.write("TrainedResidualPq", source(books))
    println("[pq-residual-train] wrote TrainedResidualPq.scala")
    spark.stop()
  }
}
