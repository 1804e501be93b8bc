package graft.tools

import graft.Tables
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions.toDoubleArray
import graft.operators._

/** Trains the product-quantization codebooks (4 subspaces × 16 dims,
  * 8 codes each) via KMeansND.fit on the sf0.01 embeddings and freezes
  * them as literals in TrainedPqCodebooks.scala — same
  * train-once/freeze-for-the-oracle pattern as IvfTrain.
  */
object PqTrain {
  val M = 4 // subspaces
  val SubDim = 16
  val K = 8 // codes per subspace

  /** TrainedPqCodebooks.scala holding `books`. */
  def source(books: Seq[Seq[CentroidND]]): String = CentroidLiterals.source(Seq(
    "Product-quantization codebooks trained ONCE offline",
    "(KMeansND.fit per 16-dim subspace on the sf0.01 embeddings,",
    s"M=$M subspaces, K=$K codes, 10 iters) and frozen as literals —",
    "deterministic for the oracle. Regenerate with graft.tools.PqTrain."),
    "TrainedPqCodebooks",
    "  /** books(s)(c) = code c of subspace s (16-dim). */\n" +
      s"  val books: Seq[Seq[CentroidND]] = ${CentroidLiterals.books(books)}\n")

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
    val books = (0 until M).map { s =>
      val sub = emb.select(col("vec_id"),
        slice(col("vec"), s * SubDim + 1, SubDim).as("vec"))
      val init = Centroids.randomInitND(K, SubDim, seed = 100L + s, -0.45, 0.49)
      val res = KMeansND.fit(spark, sub, init, maxIter = 10, delta = 0.0)
      println(s"[pq-train] subspace $s sse=${res.sse}")
      res.centroids
    }
    CentroidLiterals.write("TrainedPqCodebooks", source(books))
    println("[pq-train] wrote TrainedPqCodebooks.scala")
    spark.stop()
  }
}
