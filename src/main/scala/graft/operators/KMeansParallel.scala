package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** k-means‖ scalable seeding (Bahmani, Moseley, Vattani, Kumar,
  * Vassilvitskii, "Scalable K-Means++", VLDB 2012) — the production
  * initializer (MLlib's default `initMode`) the reference's
  * bbox-uniform draw (master.py:81-88) stands in for, built on the
  * engine's own chassis: fixed-round distributed oversampling with
  * seeded md5-uniform thresholds so BOTH engines replay the identical
  * draws, then a weighted recluster of the O(ℓ·rounds) candidate set.
  *
  * Exact-integer discipline (the unrolled-CTE gate contract): points
  * are scaled to centi-units xi = floor(x·100 + 0.5), yi =
  * floor(y·100 + 0.5) — identical IEEE ops per row on both engines —
  * and every downstream quantity (squared distances, the potential φ,
  * sampling cross-products, weighted means) is BIGINT / DECIMAL(38,0)
  * arithmetic: no float ever crosses engines, so the gate is a hash
  * match. Scaling both coordinates by the same factor multiplies all
  * squared distances by 10⁴ uniformly, so argmins and the d²/φ
  * sampling ratios are those of the raw (x, y) geometry.
  *
  * The algorithm, per the paper with the determinism pins called out:
  *  1. work on the DISTINCT point set with multiplicity w (exact dups
  *     share one sampling draw, weighted w× everywhere — the
  *     documented variant; raw-row semantics would need a unique row
  *     key the fixture doesn't have);
  *  2. C ← one seeded-uniform point: argmin of (u20(p, 0), xi, yi)
  *     where u20(p, r) = first-8-hex-of-md5("xi:yi:r") mod 2²⁰ — a
  *     20-bit content-hash uniform, the hashBucket primitive widened;
  *  3. `rounds` fixed oversampling passes (the paper's O(log ψ) made
  *     gate-replayable, MLlib pins 2 the same way): φ = Σ w·dmin²(p,C)
  *     summed exactly in DECIMAL(38,0), then p joins the candidate set
  *     iff u20(p, r)·φ < ℓ·w·dmin²·2²⁰ — the exact-rational form of
  *     P = min(1, ℓ·w·d²/φ); a point already in C has dmin² = 0 and
  *     can never re-sample;
  *  4. weight each candidate by the total w of the points nearest to
  *     it (ties → lowest (cxi, cyi));
  *  5. recluster: seeds = top-k candidates by (weight DESC, cxi, cyi)
  *     — the deterministic stand-in for the paper's k-means++ recluster
  *     (a second sampling chain would double the CTE ladder for no
  *     gate value) — then `lloydRounds` weighted Lloyd iterations over
  *     the ~ℓ·rounds candidates in pure Long arithmetic (means are
  *     floor divisions of exact integer sums), empty seats keep their
  *     old center (the kmeans_repair_keepold policy).
  *
  * Scale shape: ONE distinct-point aggregate (map-side combined), then
  * per round one narrow map (dmin² against ≤ 1+ℓ·rounds literal
  * candidates — no join, no shuffle), one 1-row exact aggregate (φ),
  * and one ℓ-expectation-bounded collect; the weighting pass is one
  * more narrow map + a candidate-keyed aggregate. Driver state is
  * O(k + ℓ·rounds) rows — the reference's own driver-resident-centroid
  * shape (master.py:16). At 100-TB volumes the BIGINT weighted-mean
  * sums in step 5 would widen to DECIMAL(38,0) internally (the
  * Modularity pattern); candidate counts do not grow with data.
  */
object KMeansParallel {

  final case class CandW(xi: Long, yi: Long, w: Long)
  final case class InitResult(
      centers: Seq[(Int, Long, Long)], // (cid, cx_c, cy_c) centi-units
      candidates: Seq[CandW], // weighted candidate set (post step 4)
      phiHistory: Seq[BigDecimal]) // φ before each sampling round

  private val dec38 = DecimalType(38, 0)

  /** u20(key, round): first 8 hex digits of md5("xi:yi:r") as an
    * integer, mod 2²⁰ — QueryHelpers.hashBucket widened to 20 bits so
    * the sampling threshold comparison has ~1e-6 resolution.
    */
  private def u20(r: Int): Column =
    pmod(conv(substring(md5(
      concat_ws(":", col("xi"), col("yi"), lit(r))), 1, 8), 16, 10)
      .cast("long"), lit(1048576L))

  /** SQL twin of [[u20]] — keep in exact sync. */
  def u20Sql(r: Int): String =
    s"CAST('0x' || substr(md5(xi || ':' || yi || ':' || $r), 1, 8) AS BIGINT) % 1048576"

  /** Distinct centi-unit points with multiplicity: (xi, yi, w). */
  def scaledPoints(points: DataFrame): DataFrame =
    points
      .select(
        floor(col("x") * 100 + lit(0.5)).cast("long").as("xi"),
        floor(col("y") * 100 + lit(0.5)).cast("long").as("yi"))
      .groupBy(col("xi"), col("yi"))
      .agg(count(lit(1)).as("w"))

  /** min over the literal candidate set of the exact integer squared
    * distance — a narrow map over a ≤ (1 + ℓ·rounds)-element array,
    * no join, no shuffle. Optimization round 19: the
    * `array_min(transform(...))` HOF form (and the `least()` chain
    * tried and rejected before it — 14.5–15.5 s cold) never enters
    * whole-stage codegen; JobProfile measured the candidate passes at
    * 0.9–3.2 s WARM each at sf0.1, growing with the candidate count —
    * interpreted-eval-bound. [[graft.functions.MinSqDist2D]] runs the
    * identical exact Long arithmetic as a fused codegen'd loop.
    */
  private def dmin2(cands: Seq[(Long, Long)]): Column =
    graft.functions.CandidateKernels.minSqDist2D(col("xi"), col("yi"),
      array(cands.map(c => lit(c._1)): _*),
      array(cands.map(c => lit(c._2)): _*))

  /** nearest candidate as (cxi, cyi) — [[graft.functions.NearestIdx2D]]
    * with `byCoords = true` replicates the lexicographic
    * (d2, cxi, cyi) struct-min tie-break of the HOF form it replaces
    * (lowest-(cxi, cyi) on equal d2), as a codegen'd loop; the winning
    * coordinates are literal-array lookups on the returned index.
    */
  private def nearestCand(cands: Seq[(Long, Long)]): (Column, Column) = {
    val cxs = array(cands.map(c => lit(c._1)): _*)
    val cys = array(cands.map(c => lit(c._2)): _*)
    val idx = graft.functions.CandidateKernels.nearestIdx2D(
      col("xi"), col("yi"), cxs, cys, byCoords = true)
    (element_at(cxs, idx + 1), element_at(cys, idx + 1))
  }

  /** Oversample + weight (steps 1-4). `points` carries (x, y). */
  def oversample(points: DataFrame, ell: Int,
      rounds: Int): (Seq[CandW], Seq[BigDecimal]) = {
    val pts = scaledPoints(points).localCheckpoint(true)
    val c0 = pts
      .agg(min(struct(u20(0).as("u"), col("xi"), col("yi"))).as("m"))
      .select(col("m.xi"), col("m.yi")).collect()(0)
    var cands = Seq((c0.getLong(0), c0.getLong(1)))
    val phis = scala.collection.mutable.ArrayBuffer[BigDecimal]()
    (1 to rounds).foreach { r =>
      val dm = dmin2(cands)
      val phi = pts
        .agg(sum((col("w") * dm).cast(dec38)).as("phi"))
        .collect()(0).getDecimal(0)
      phis += BigDecimal(phi)
      // u20·φ < ℓ·w·dmin²·2²⁰ — exact DECIMAL(38,0) cross-products
      val sampled = pts
        .where(u20(r).cast(dec38) * lit(phi).cast(dec38) <
          (lit(ell.toLong) * col("w") * dm).cast(dec38) * lit(1048576L))
        .select(col("xi"), col("yi"))
        .collect().map(r0 => (r0.getLong(0), r0.getLong(1)))
      cands = cands ++ sampled
    }
    val (nearCx, nearCy) = nearestCand(cands)
    val weighted = pts
      .select(nearCx.as("cxi"), nearCy.as("cyi"), col("w"))
      .groupBy(col("cxi"), col("cyi")).agg(sum(col("w")).as("wc"))
      .collect().map(r0 => CandW(r0.getLong(0), r0.getLong(1), r0.getLong(2)))
      .toSeq
    (weighted, phis.toSeq)
  }

  /** Weighted recluster of the candidate set in pure driver arithmetic
    * (step 5), exactly replayed by the oracle's CTE ladder. Seeds come
    * from the DERANDOMIZED weighted k-means++ pick (Arthur &
    * Vassilvitskii 2007's D² rule with the argmax taken instead of the
    * draw — the greedy variant; Bahmani §3.2 reclusters with exactly
    * this distribution): seed 0 = the heaviest candidate, seed i =
    * argmax of w·dmin²(c, seeds so far), ties → lowest (xi, yi). A
    * top-k-by-weight pick was tried first and REJECTED by measurement:
    * the heaviest candidates clump in the dense x-band and the fitted
    * SSE LOST to a uniform bbox draw on the fixture (1.105e11 vs
    * 8.915e10); the farthest-point pick spreads seeds and wins.
    * Then `lloydRounds` weighted Lloyd iterations: argmin ties to the
    * LOWEST cid, means are floor divisions of exact integer sums, an
    * empty seat keeps its old center. w·dmin² can exceed BIGINT at
    * derived scales — BigInt here, HUGEINT in the oracle.
    */
  def recluster(cands: Seq[CandW], k: Int, lloydRounds: Int)
      : Seq[(Int, Long, Long)] = {
    val first = cands.minBy(c => (-c.w, c.xi, c.yi))
    var seedPts = Seq((first.xi, first.yi))
    (2 to math.min(k, cands.size)).foreach { _ =>
      val pick = cands.minBy { c =>
        val dm = seedPts.map(s =>
          (c.xi - s._1) * (c.xi - s._1) + (c.yi - s._2) * (c.yi - s._2)).min
        (-(BigInt(c.w) * dm), c.xi, c.yi)
      }
      seedPts = seedPts :+ ((pick.xi, pick.yi))
    }
    val seeds = seedPts.zipWithIndex.map { case (p, i) => (i, p._1, p._2) }
    var centers = seeds
    (1 to lloydRounds).foreach { _ =>
      val byCid = cands.groupBy { c =>
        centers.minBy { case (cid, cx, cy) =>
          ((c.xi - cx) * (c.xi - cx) + (c.yi - cy) * (c.yi - cy), cid)
        }._1
      }
      centers = centers.map { case (cid, oldX, oldY) =>
        byCid.get(cid) match {
          case Some(cs) =>
            val ws = cs.map(_.w).sum
            (cid, cs.map(c => c.w * c.xi).sum / ws,
              cs.map(c => c.w * c.yi).sum / ws)
          case None => (cid, oldX, oldY) // keepold repair policy
        }
      }
    }
    centers
  }

  /** The full init: oversample, weight, recluster; returns the k
    * centers in centi-units plus the artifacts the spec replays.
    */
  def initScalable(points: DataFrame, k: Int, ell: Int,
      rounds: Int, lloydRounds: Int): InitResult = {
    val (weighted, phis) = oversample(points, ell, rounds)
    InitResult(recluster(weighted, k, lloydRounds), weighted, phis)
  }

  /** Final distributed pass for the registered query: every point
    * assigned to its nearest final center (exact integer d², lowest
    * cid on ties), per-center raw-row support — one narrow map + one
    * k-row aggregate, the kmeans_fit_unrolled output shape.
    */
  def assignStats(s: SparkSession, points: DataFrame,
      centers: Seq[(Int, Long, Long)]): DataFrame = {
    import s.implicits._
    val pts = scaledPoints(points)
    // argmin by (d2, cid): candidates sorted by cid, so NearestIdx2D's
    // earlier-index-wins tie rule (byCoords = false) IS the struct-min
    // (d2, cid) rule of the HOF form this replaces
    val sorted = centers.sortBy(_._1)
    val cids = array(sorted.map(c => lit(c._1)): _*)
    val idx = graft.functions.CandidateKernels.nearestIdx2D(
      col("xi"), col("yi"),
      array(sorted.map(c => lit(c._2)): _*),
      array(sorted.map(c => lit(c._3)): _*), byCoords = false)
    val agg0 = pts
      .select(element_at(cids, idx + 1).as("cluster_id"), col("w"))
      .groupBy(col("cluster_id"))
      .agg(sum(col("w")).as("n_points"))
    centers.toDF("cluster_id", "cx_c", "cy_c")
      .join(agg0, Seq("cluster_id"), "left")
      .select(col("cluster_id"), col("cx_c"), col("cy_c"),
        coalesce(col("n_points"), lit(0L)).as("n_points"))
      .orderBy("cluster_id")
  }
}
