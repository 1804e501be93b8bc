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
    val sb = new StringBuilder
    sb.append("package graft.operators\n\n")
    sb.append("/** RESIDUAL product-quantization codebooks (per-cell residual\n")
    sb.append(s"  * vs TrainedIvfCentroids, M=$M subspaces, K=$K codes, 10 iters)\n")
    sb.append("  * frozen as literals. Regenerate with graft.tools.PqResidualTrain.\n  */\n")
    sb.append("object TrainedResidualPq {\n")
    sb.append("  val books: Seq[Seq[CentroidND]] = Seq(\n")
    (0 until M).foreach { s =>
      val sub = resid.select(col("vec_id"),
        slice(col("vec"), s * SubDim + 1, SubDim).as("vec"))
      val init = Centroids.randomInitND(K, SubDim, seed = 200L + s, -0.2, 0.2)
      val res = KMeansND.fit(spark, sub, init, maxIter = 10, delta = 0.0)
      println(s"[pq-residual-train] subspace $s sse=${res.sse}")
      sb.append("    Seq(\n")
      res.centroids.foreach { c =>
        sb.append(s"      CentroidND(${c.cid}, Array(")
        sb.append(c.vec.map(v => s"$v").mkString(", "))
        sb.append(")),\n")
      }
      sb.append("    ),\n")
    }
    sb.append("  )\n}\n")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get("src/main/scala/graft/operators/TrainedResidualPq.scala"),
      sb.toString)
    println("[pq-residual-train] wrote TrainedResidualPq.scala")
    spark.stop()
  }
}
