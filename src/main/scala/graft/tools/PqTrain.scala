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

  def main(args: Array[String]): Unit = {
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.embeddings(spark, "/root/testdata/sf0.01")
      .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
    val sb = new StringBuilder
    sb.append("package graft.operators\n\n")
    sb.append("/** Product-quantization codebooks trained ONCE offline\n")
    sb.append("  * (KMeansND.fit per 16-dim subspace on the sf0.01 embeddings,\n")
    sb.append(s"  * M=$M subspaces, K=$K codes, 10 iters) and frozen as literals —\n")
    sb.append("  * deterministic for the oracle. Regenerate with graft.tools.PqTrain.\n  */\n")
    sb.append("object TrainedPqCodebooks {\n")
    sb.append("  /** books(s)(c) = code c of subspace s (16-dim). */\n")
    sb.append("  val books: Seq[Seq[CentroidND]] = Seq(\n")
    (0 until M).foreach { s =>
      val sub = emb.select(col("vec_id"),
        slice(col("vec"), s * SubDim + 1, SubDim).as("vec"))
      val init = Centroids.randomInitND(K, SubDim, seed = 100L + s, -0.45, 0.49)
      val res = KMeansND.fit(spark, sub, init, maxIter = 10, delta = 0.0)
      println(s"[pq-train] subspace $s sse=${res.sse}")
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
      java.nio.file.Paths.get("src/main/scala/graft/operators/TrainedPqCodebooks.scala"),
      sb.toString)
    println("[pq-train] wrote TrainedPqCodebooks.scala")
    spark.stop()
  }
}
