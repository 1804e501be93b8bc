package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.ArrayKernels.distSqFast
import graft.functions.VecFunctions._

/** J1 — nearest-centroid assignment (SURVEY §2.3).
  *
  * Reference: broadcast nested-loop `getCluster` (mapper.py:35-51) — each
  * point scans all K centroids keeping the argmin of squared distance;
  * ties keep the FIRST (lowest-id) centroid because the comparison is
  * strict `<` (mapper.py:43).
  *
  * One rule, [[argmin]], in the *expression form*: a named column per
  * centroid distance in ascending cid, `least` over them, a first-match
  * CASE chain (lowest cid wins ties; a null distance gives −1), then the
  * temp columns are dropped. One narrow map stage, zero shuffle, fully
  * inside whole-stage codegen: the centroids ride in the plan as K small
  * literals, so a 1000-executor scan needs no broadcast exchange. Its
  * entry points differ only in the distance: [[withNearest]] (2-D
  * `distSq2`), [[withNearest1]] (1-D `distSq1`) and [[withNearestND]]
  * (n-dim `distSqFast` over the literal vectors of [[distances]], the
  * one place a literal centroid array is written).
  *
  * [[nearestRelational]] is the *relational form*: crossJoin(broadcast(c))
  * + per-point min + tie-break, the shape a SQL engine (and our DuckDB
  * oracle) expresses directly. Tests cross-check the two.
  */
object Assign {

  /** Adds `outCol`, the cid of the least of `dists` ((cid, distance)
    * pairs), to `df`. Each distance is staged as a named column, so its
    * subtree appears ONCE in the plan; inlining it in both `least` and
    * the CASE arm blows up analysis + codegen (~1.3 s per planning at
    * K=8 × 64-dim literals against ~0.2 s staged). CollapseProject keeps
    * the stages split because each alias is referenced twice. The
    * winning distance is kept as `d2Col` if given. Temp names derive from
    * `outCol`, so two argmins can stack on one DataFrame.
    */
  private def argmin(df: DataFrame, dists: Seq[(Int, Column)], outCol: String,
      d2Col: Option[String]): DataFrame = {
    val sorted = dists.sortBy(_._1)
    def dName(cid: Int) = s"_${outCol}_d$cid"
    val minName = d2Col.getOrElse(s"_${outCol}_min")
    require(!df.columns.exists(c => c == minName || sorted.exists(d => dName(d._1) == c)),
      s"argmin temp column collision with input schema for outCol=$outCol")
    val cid = sorted.foldRight(lit(-1)) { case ((c, _), rest) =>
      when(col(dName(c)) === col(minName), lit(c)).otherwise(rest)
    }
    // `least` takes at least two arguments
    val mind = sorted.map(d => col(dName(d._1))) match {
      case Seq(one) => one
      case ds => least(ds: _*)
    }
    df.select(col("*") +: sorted.map { case (c, d) => d.as(dName(c)) }: _*)
      .withColumn(minName, mind)
      .withColumn(outCol, cid)
      .drop(sorted.map(d => dName(d._1)) ++ (if (d2Col.isEmpty) Seq(minName) else Nil): _*)
  }

  /** The literal coordinates of `c` as an array column. */
  private def literal(c: CentroidND): Column = array(c.vec.toSeq.map(lit): _*)

  /** (cid, squared distance from `vec` to each literal centroid), in
    * ascending cid: native `distSqFast` kernels (codegen'd tight loops,
    * see graft.functions.ArrayKernels).
    */
  def distances(vec: Column, cs: Seq[CentroidND]): Seq[(Int, Column)] =
    cs.sortBy(_.cid).map(c => c.cid -> distSqFast(vec, literal(c)))

  /** The literal centroid vector of the cid in `cidCol` (a CASE chain;
    * null for a cid with no centroid).
    */
  def centroidOf(cidCol: Column, cs: Seq[CentroidND]): Column =
    cs.sortBy(_.cid).foldRight(lit(null).cast("array<double>")) { (c, rest) =>
      when(cidCol === c.cid, literal(c)).otherwise(rest)
    }

  /** Adds `cluster_id` and `d2` to a 2-D point DataFrame with columns
    * (x, y), in the historical column order: point cols, cluster_id, d2.
    */
  def withNearest(points: DataFrame, cs: Seq[Centroid2D]): DataFrame =
    argmin(points, cs.map(c => c.cid -> distSq2(col("x"), col("y"), lit(c.cx), lit(c.cy))),
      "cluster_id", Some("d2"))
      .select(points.columns.toSeq.map(col) :+ col("cluster_id") :+ col("d2"): _*)

  /** 1-D assignment over `x` (sequential-kmeans.py:14-29, with the argmin
    * CORRECT — the reference's line 25 stores an unsquared signed diff,
    * documented divergence per SURVEY §3.2).
    */
  def withNearest1(df: DataFrame, x: Column, cs: Seq[Centroid1D],
      outCol: String = "cluster_id"): DataFrame =
    argmin(df, cs.map(c => c.cid -> distSq1(x, lit(c.c))), outCol, None)

  /** n-dim assignment of the double-array column `vec` to literal
    * centroids: adds `outCol` (the nearest cid) and, if given, `d2Col`
    * (the winning squared distance, the SSE input of fit-style queries).
    * The hot flagship path delegates to MLlib, which adds the
    * |a|²+|b|²-2ab form + triangle-inequality pruning.
    */
  def withNearestND(df: DataFrame, vec: Column, cs: Seq[CentroidND], outCol: String,
      d2Col: Option[String] = None): DataFrame =
    argmin(df, distances(vec, cs), outCol, d2Col)

  /** Relational-form assignment: broadcast crossJoin + window-min +
    * tie-break on lowest cid. Used for cross-checking and as the
    * oracle-shaped plan; keyCols must uniquely identify a point.
    */
  def nearestRelational(points: DataFrame, centroids: DataFrame, keyCols: Seq[String]): DataFrame = {
    val joined = points.crossJoin(broadcast(centroids))
      .withColumn("d2", distSq2(col("x"), col("y"), col("cx"), col("cy")))
    val w = Window.partitionBy(keyCols.map(col): _*)
    joined
      .withColumn("mind", min(col("d2")).over(w))
      .where(col("d2") === col("mind"))
      .groupBy(keyCols.map(col) :+ col("x") :+ col("y"): _*)
      .agg(min(col("cid")).as("cluster_id"), min(col("mind")).as("d2"))
  }
}
