package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The iterative Lloyd's k-means driver loop (SURVEY §3.1 entry point 1).
  *
  * Reference lifecycle (master.py:336-372): split input → bbox → random
  * init → iterate { map (assign) → shuffle → reduce (means) → repair →
  * convergence `|SSE(old) − SSE(new)| < 0.5` (master.py:365, delta at
  * master.py:22) } up to an iteration cap.
  *
  * Spark realization: the shared Lloyd loop `LloydKernel.fit` at dim 2
  * over `(x, y)`, with `Recenter.repair` as its merge. The points are
  * planned and packed into cached blocks once per fit; each iteration
  * broadcasts the K centroids and runs one job of one stage — a
  * per-partition partial (count, sums, SSE) per centroid, collected and
  * summed on the driver in partition order. The SSE piggybacks on the
  * SAME pass as the means, where the reference re-scans the full input
  * TWICE per iteration for the objective (master.py:315-332, 365) — at
  * 100 TB that is 200 TB/iteration of avoided IO.
  *
  * Scale notes: no shuffle; per iteration the driver receives
  * partitions × K × 4 doubles, and no Catalyst planning happens inside the
  * loop.
  */
object KMeansLoop {

  final case class FitResult(
      centroids: Seq[Centroid2D],
      sse: Double,
      iterations: Int,
      converged: Boolean,
      sseHistory: Seq[Double])

  /** Full fit. `delta` mirrors master.py:22 (0.5); `maxIter` is the
    * user-supplied cap (master.py:340). Rows with a null coordinate are
    * skipped.
    */
  def fit(
      @scala.annotation.unused spark: SparkSession,
      points: DataFrame,
      init: Seq[Centroid2D],
      maxIter: Int,
      delta: Double = 0.5,
      policy: Recenter.RepairPolicy = Recenter.RepairPolicy.KeepOld): FitResult = {
    // one bounding-box job per fit, and only if a Rerandomize repair
    // ever needs it
    lazy val box = Recenter.bbox(points)
    val r = LloydKernel.fit(points, array(col("x"), col("y")), init, maxIter, delta)(
      c => c.cid -> Array(c.cx, c.cy),
      (cs, st, it) => Recenter.repair(cs,
        st.clusters.map { case (cid, c) => cid -> (c.mean(0), c.mean(1)) }, policy, draw = it)(box))
    FitResult(r.centroids, r.sse, r.iterations, r.converged, r.sseHistory)
  }
}
