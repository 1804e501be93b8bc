package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Squared-Euclidean silhouette (Rousseeuw 1987; the one-pass
  * cluster-aggregate reformulation popularized by Spark MLlib's
  * `SquaredEuclideanSilhouette`) — the standard internal evaluation
  * metric for a clustering, here over the engine's shipped literal-
  * centroid assignment: how tight is each cluster relative to its
  * nearest neighbor cluster, in [-1, 1] per point.
  *
  * The naive metric is O(n²). The aggregate identity collapses it to
  * one pass: for point p and cluster C with count N, integer sums
  * S = Σx (per axis) and SQ = Σ(x²+y²),
  *
  *   Σ_{j∈C} ‖p − p_j‖² = N·‖p‖² − 2·p·S + SQ
  *
  * so a(p) (self-excluded own-cluster mean, the N=1 case defined 0)
  * and b(p) (min over other clusters' plain means) are scalar
  * expressions over K cluster aggregates — no pairwise join anywhere.
  *
  * Determinism contract (the KMeansParallel discipline): points are
  * integerized up front (xi = ⌊x+0.5⌋ as BIGINT — the metric is the
  * exact silhouette OF the integerized geometry), every aggregate and
  * numerator is exact BIGINT (headroom: xi ≤ 1e5 ⇒ N·q ≈ 6e16 at the
  * derived gate, three decades under overflow), the only floats are
  * the final per-row divisions/ratio — identical IEEE ops on both
  * engines — and the per-point score is floored to integer micros
  * BEFORE the per-cluster mean, so the output mean is an exact
  * integer division (sum DIV n), immune to float-sum ordering at any
  * volume. The K-row stats collect is the accepted K-row-centroid
  * driver pattern; stats ride back as literals in the per-point
  * expressions (kmeans_assign's CASE-chain shape), so the whole
  * scoring pass is one narrow codegen'd map plus one K-row aggregate.
  */
object Silhouette {

  /** Per-cluster exact-integer aggregates of the integerized points. */
  final case class ClusterStats(cid: Int, n: Long, sx: Long, sy: Long,
      sq: Long)

  /** Integerized assignment frame: (cluster_id, xi, yi, q=xi²+yi²). */
  def integerized(assigned: DataFrame): DataFrame =
    assigned.select(col("cluster_id"),
      expr("CAST(floor(x + 0.5d) AS BIGINT)").as("xi"),
      expr("CAST(floor(y + 0.5d) AS BIGINT)").as("yi"))
      .withColumn("q", expr("xi * xi + yi * yi"))

  /** The K-row stats collect (accepted K-row driver pattern). */
  def stats(ints: DataFrame): Seq[ClusterStats] =
    ints.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("xi")).as("sx"),
        sum(col("yi")).as("sy"), sum(col("q")).as("sq"))
      .collect()
      .map(r => ClusterStats(r.getInt(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
      .sortBy(_.cid).toSeq

  /** Exact BIGINT numerator of N·Σ‖p−p_j‖² for cluster `c`. */
  private def num(c: ClusterStats): Column =
    lit(c.n) * col("q") - lit(2L) * (col("xi") * lit(c.sx) +
      col("yi") * lit(c.sy)) + lit(c.sq)

  /** Per-cluster mean silhouette in exact integer micros:
    * (cluster_id, n, s_mean_u). `cs` must be [[stats]] of `ints`. */
  def report(ints: DataFrame, cs: Seq[ClusterStats]): DataFrame = {
    require(cs.nonEmpty, "silhouette of an empty assignment")
    val a: Column = cs.foldLeft(lit(null).cast("double")) { (acc, c) =>
      when(col("cluster_id") === c.cid,
        if (c.n > 1) num(c).cast("double") / lit((c.n - 1).toDouble)
        else lit(0.0)).otherwise(acc)
    }
    val b: Column = cs.foldLeft(lit(null).cast("double")) { (acc, c) =>
      val others = cs.filter(_.cid != c.cid)
        .map(o => num(o).cast("double") / lit(o.n.toDouble))
      val bc = if (others.isEmpty) lit(0.0)
      else if (others.size == 1) others.head
      else least(others: _*)
      when(col("cluster_id") === c.cid, bc).otherwise(acc)
    }
    val nOwn: Column = cs.foldLeft(lit(null).cast("long")) { (acc, c) =>
      when(col("cluster_id") === c.cid, lit(c.n)).otherwise(acc)
    }
    ints
      .withColumn("av", a).withColumn("bv", b).withColumn("nc", nOwn)
      .withColumn("su", expr(
        "CAST(floor(CASE WHEN nc <= 1 OR greatest(av, bv) = 0.0d THEN 0.0d " +
          "ELSE (bv - av) / greatest(av, bv) END * 1000000.0d + 0.5d) " +
          "AS BIGINT)"))
      .groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n"), sum(col("su")).as("ssu"))
      .select(col("cluster_id"), col("n"),
        expr("ssu DIV n").as("s_mean_u"))
      .orderBy("cluster_id")
  }

  /** Per-leaf ingredients of the Davies–Bouldin computation, exact
    * BIGINT off [[ClusterStats]]: truncated-integer-mean centroid and
    * the SSE aggregate identity (the BisectingKMeans algebra). */
  final case class DbLeaf(cid: Int, n: Long, mx: Long, my: Long, sse: Long)

  def dbLeaves(cs: Seq[ClusterStats]): Seq[DbLeaf] = cs.map { c =>
    val mx = c.sx / c.n; val my = c.sy / c.n
    DbLeaf(c.cid, c.n, mx, my,
      c.sq - 2 * (mx * c.sx + my * c.sy) + c.n * (mx * mx + my * my))
  }

  /** Davies–Bouldin (1979) separation report in its squared-dispersion
    * variant: for each cluster i, R_i = max_{j≠i} (S²_i + S²_j) / M²_ij
    * with S²_i = SSE_i/n_i (truncated-integer-mean SSE, exact BIGINT
    * numerator) and M²_ij the exact squared distance between the
    * integer-mean centroids — lower is better-separated. The squared
    * variant keeps every intermediate an exact integer so the only
    * floats are the final per-pair ratios (identical IEEE ops on both
    * engines) floored to micros. Pairs with coincident centroids
    * (M² = 0) are excluded from the max, and a cluster with no valid
    * pair reports 0 — both rules pinned in the oracle. The K output
    * rows are built from the already-collected stats (`cs`, via
    * [[dbLeaves]]), so no second pass over the points runs; the max
    * ranges over the OTHER clusters' stats riding in as K−1 literals
    * per arm.
    */
  def daviesBouldin(spark: SparkSession, cs: Seq[ClusterStats]): DataFrame = {
    require(cs.nonEmpty, "davies-bouldin of an empty assignment")
    import spark.implicits._
    val ls = dbLeaves(cs)
    val agg = ls.map(l => (l.cid, l.n, l.mx, l.my, l.sse))
      .toDF("cluster_id", "n", "mx", "my", "sse")
      .withColumn("s2own", expr("CAST(sse AS DOUBLE) / CAST(n AS DOUBLE)"))
    val rmax: Column = ls.foldLeft(lit(null).cast("double")) { (acc, me) =>
      val terms = ls.filter(o => o.cid != me.cid).flatMap { o =>
        val m2 = (me.mx - o.mx) * (me.mx - o.mx) +
          (me.my - o.my) * (me.my - o.my)
        if (m2 == 0L) None
        else Some((col("s2own") + lit(o.sse.toDouble / o.n.toDouble)) /
          lit(m2.toDouble))
      }
      val r = if (terms.isEmpty) lit(0.0)
      else if (terms.size == 1) terms.head
      else greatest(terms: _*)
      when(col("cluster_id") === me.cid, r).otherwise(acc)
    }
    agg.withColumn("rm", rmax)
      .select(col("cluster_id"), col("n"),
        expr("CAST(floor(rm * 1000000.0d + 0.5d) AS BIGINT)").as("db_max_u"))
      .orderBy("cluster_id")
  }
}
