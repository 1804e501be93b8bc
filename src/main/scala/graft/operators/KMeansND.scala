package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** n-dimensional k-means over `ArrayType(Double)` points (the flagship
  * embeddings table is 64-dim; the sequential oracle is 1-D — the kernel
  * is dimension-generic per SURVEY §1.1).
  *
  * [[fit]] is the shared Lloyd loop `LloydKernel.fit` over `vec`, the
  * same loop `KMeansLoop` runs at dim 2: the points are packed into
  * cached blocks once per fit, and each iteration broadcasts the K
  * centroids and runs one job of one stage whose tasks each emit one
  * partial (count, vector sum, SSE per centroid), merged on the driver in
  * partition order — the per-mapper combine the reference lacks (it ships
  * every raw point across its shuffle, mapper.py:67-68). One-shot
  * queries assign with `Assign.withNearestND`.
  */
object KMeansND {

  final case class FitResult(
      centroids: Seq[CentroidND],
      sse: Double,
      iterations: Int,
      converged: Boolean)

  /** Lloyd's loop on n-dim points. Empty clusters keep their old
    * centroid (KeepOld policy); rows with a null vector or a null
    * coordinate are skipped.
    */
  def fit(
      @scala.annotation.unused spark: SparkSession,
      points: DataFrame, // column `vec: array<double>`
      init: Seq[CentroidND],
      maxIter: Int,
      delta: Double = 0.5): FitResult = {
    val r = LloydKernel.fit(points, col("vec"), init, maxIter, delta)(c => c.cid -> c.vec,
      (cs, st, _) => cs.map(c => st.clusters.get(c.cid).fold(c)(s => CentroidND(c.cid, s.mean))))
    FitResult(r.centroids, r.sse, r.iterations, r.converged)
  }
}
