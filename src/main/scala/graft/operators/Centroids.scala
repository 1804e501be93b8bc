package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Centroid model + seeded initialization (SURVEY §1.1, §2.1 S4, §3.1.4).
  *
  * The reference keeps centroids as a driver-resident indexed list
  * (master.py:16, 83-88) re-broadcast to every worker each iteration
  * (master.py:184-188) — K is tiny, so driver-resident + broadcast is also
  * the idiomatic Spark shape (it is exactly what MLlib's KMeans does).
  *
  * Init: the reference samples uniformly from (a scrambled version of) the
  * data bounding box (master.py:81-88 called with shuffled args at
  * master.py:346-347). We implement the *intended* semantics — sample from
  * the true bounding box (SURVEY §3.4 fidelity policy) — with a seeded
  * `java.util.Random` so runs are reproducible and centroids can be inlined
  * as literals into both the Spark plan and the DuckDB oracle SQL
  * (SURVEY §7.5).
  */
final case class Centroid2D(cid: Int, cx: Double, cy: Double)
final case class Centroid1D(cid: Int, c: Double)
final case class CentroidND(cid: Int, vec: Array[Double])

object Centroids {

  /** Fixed literal centroids for oracle-checked queries over the lineitem
    * point table (x = l_extendedprice ∈ [914, 105000], y = l_quantity ∈
    * [1, 50]; ranges recorded in FIXTURES.md). Fixed — not data-derived —
    * so the same literals hold at every scale factor.
    */
  val k2d: Seq[Centroid2D] = Seq(
    Centroid2D(0, 10000.0, 10.0),
    Centroid2D(1, 30000.0, 25.0),
    Centroid2D(2, 50000.0, 40.0),
    Centroid2D(3, 70000.0, 15.0),
    Centroid2D(4, 90000.0, 30.0),
    Centroid2D(5, 20000.0, 45.0),
    Centroid2D(6, 60000.0, 5.0),
    Centroid2D(7, 85000.0, 48.0))

  /** k2d plus one centroid far outside the data box — guaranteed to
    * receive zero points, exercising the empty-cluster repair path
    * (P3/A5/J2; master.py:265-271 vs sequential-kmeans.py:46-49).
    */
  val k2dWithEmpty: Seq[Centroid2D] = k2d :+ Centroid2D(8, 1.0e9, 1.0e9)

  /** 1-D centroids over l_quantity ∈ [1, 50] (sequential-kmeans.py oracle
    * is 1-D, SURVEY §3.2).
    */
  val k1d: Seq[Centroid1D] = Seq(
    Centroid1D(0, 5.0), Centroid1D(1, 15.0), Centroid1D(2, 25.0),
    Centroid1D(3, 35.0), Centroid1D(4, 45.0))

  /** Seeded uniform init inside a bounding box — the *intended* semantics
    * of generateCentroids (master.py:81-88): cid k gets
    * (uniform(xlo,xhi), uniform(ylo,yhi)) drawn in cid order.
    */
  def randomInit(k: Int, seed: Long, xlo: Double, xhi: Double, ylo: Double, yhi: Double): Seq[Centroid2D] = {
    val rnd = new java.util.Random(seed)
    (0 until k).map { cid =>
      val cx = xlo + rnd.nextDouble() * (xhi - xlo)
      val cy = ylo + rnd.nextDouble() * (yhi - ylo)
      Centroid2D(cid, cx, cy)
    }
  }

  /** Seeded n-dim init in [lo, hi]^dim (flagship embeddings are 64-dim). */
  def randomInitND(k: Int, dim: Int, seed: Long, lo: Double, hi: Double): Seq[CentroidND] = {
    val rnd = new java.util.Random(seed)
    (0 until k).map { cid =>
      CentroidND(cid, Array.fill(dim)(lo + rnd.nextDouble() * (hi - lo)))
    }
  }

  /** Centroids as a tiny DataFrame (for the relational/broadcast-join
    * assignment form).
    */
  def toDF(spark: SparkSession, cs: Seq[Centroid2D]): DataFrame = {
    import spark.implicits._
    cs.toDF()
  }

  // ---- Oracle-SQL literal rendering (SURVEY §7.5: inline the same seeded
  // centroids into both the Spark plan and the DuckDB SQL). Doubles are
  // rendered with Java's shortest round-trip repr, which DuckDB parses back
  // to the identical float64.

  def sqlDouble(d: Double): String = s"CAST(${d} AS DOUBLE)"

  /** `(VALUES (0, CAST(.. AS DOUBLE), ..), ..) c(cid, cx, cy)` */
  def sql2d(cs: Seq[Centroid2D]): String =
    cs.map(c => s"(${c.cid}, ${sqlDouble(c.cx)}, ${sqlDouble(c.cy)})")
      .mkString("(VALUES ", ", ", ") c(cid, cx, cy)")
}
