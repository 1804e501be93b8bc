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
  * Spark realization: the shared plan-once [[LloydKernel]] at dim 2 over
  * `(x, y)`. The points are planned and packed into cached blocks once
  * per fit; each iteration broadcasts the K centroids and runs one job —
  * per-partition partial (count, sums, SSE) per centroid → K×partitions
  * shuffle → reduce → collect K rows. The SSE piggybacks on the SAME
  * pass as the means, where the reference re-scans the full input TWICE
  * per iteration for the objective (master.py:315-332, 365) — at 100 TB
  * that is 200 TB/iteration of avoided IO.
  *
  * Scale notes: per-iteration shuffle traffic is K×partitions records
  * (map-side combine), the driver holds only K centroids, and no Catalyst
  * planning happens inside the loop.
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
      spark: SparkSession,
      points: DataFrame,
      init: Seq[Centroid2D],
      maxIter: Int,
      delta: Double = 0.5,
      policy: Recenter.RepairPolicy = Recenter.RepairPolicy.KeepOld): FitResult =
    LloydKernel.pack(points, array(col("x"), col("y")), dim = 2) { blocks =>
      // one bounding-box job per fit, and only if a Rerandomize repair
      // ever needs it
      lazy val box = Recenter.bbox(points)
      var cs = init
      var prevSse = Double.NaN
      var history = Vector.empty[Double]
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val st = LloydKernel.step(blocks, cs.map(c => c.cid -> Array(c.cx, c.cy)))
        val means = st.clusters.map { case (cid, c) => cid -> (c.mean(0), c.mean(1)) }
        cs = Recenter.repair(cs, means, policy, draw = it)(box)
        history :+= st.sse
        // convergence on |ΔSSE| < delta (master.py:365); the first
        // iteration has no previous SSE
        if (!prevSse.isNaN && math.abs(prevSse - st.sse) < delta) converged = true
        prevSse = st.sse
        it += 1
      }
      FitResult(cs, prevSse, it, converged, history)
    }
}
