package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** n-dimensional k-means over `ArrayType(Double)` points (the flagship
  * embeddings table is 64-dim; the sequential oracle is 1-D — the kernel
  * is dimension-generic per SURVEY §1.1).
  *
  * [[fit]] is the shared plan-once [[LloydKernel]] over `vec`, the same
  * kernel `KMeansLoop` runs at dim 2: the points are packed into cached
  * blocks once per fit, and each iteration broadcasts the K centroids and
  * runs one job of one stage whose tasks each emit one partial (count,
  * vector sum, SSE per centroid), merged on the driver in partition
  * order — the per-mapper combine the reference lacks (it ships every raw
  * point across its shuffle, mapper.py:67-68). [[withNearest]] is the
  * literal-expression assignment for one-shot queries.
  */
object KMeansND {

  /** Assignment: adds cluster_id + d2 for an n-dim point DF with a
    * double-array column `vec`. Literal centroids → no shuffle; the
    * staged argmin of `Assign.withNearestNDFull`, in the historical
    * column order (point cols, cluster_id, d2).
    */
  def withNearest(points: DataFrame, cs: Seq[CentroidND]): DataFrame =
    Assign.withNearestNDFull(points, col("vec"), cs, "cluster_id", d2Col = Some("d2"))
      .select(points.columns.map(col) :+ col("cluster_id") :+ col("d2"): _*)

  final case class FitResult(
      centroids: Seq[CentroidND],
      sse: Double,
      iterations: Int,
      converged: Boolean)

  /** Lloyd's loop on n-dim points via [[LloydKernel]]. Empty clusters
    * keep their old centroid (KeepOld policy); rows with a null vector or
    * a null coordinate are skipped.
    */
  def fit(
      spark: SparkSession,
      points: DataFrame, // column `vec: array<double>`
      init: Seq[CentroidND],
      maxIter: Int,
      delta: Double = 0.5): FitResult = {
    require(init.nonEmpty, "KMeansND.fit: init holds no centroid")
    val dim = init.head.vec.length
    require(init.forall(_.vec.length == dim),
      s"KMeansND.fit: init centroids differ in length (${init.map(_.vec.length).distinct.mkString(", ")})")
    LloydKernel.pack(points, col("vec"), dim) { blocks =>
      var cs = init
      var prevSse = Double.NaN
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val st = LloydKernel.step(blocks, cs.map(c => c.cid -> c.vec))
        cs = cs.map(c => st.clusters.get(c.cid).fold(c)(s => CentroidND(c.cid, s.mean)))
        if (!prevSse.isNaN && math.abs(prevSse - st.sse) < delta) converged = true
        prevSse = st.sse
        it += 1
      }
      FitResult(cs, prevSse, it, converged)
    }
  }
}
