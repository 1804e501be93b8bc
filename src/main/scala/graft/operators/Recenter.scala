package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A1 + A5 + J2 — per-cluster mean with empty-cluster repair
  * (SURVEY §2.4).
  *
  * Reference "reduce": per-key `sum/n` (reducer.py:30-44) with NO map-side
  * combining — every raw point crosses its hand-rolled shuffle
  * (mapper.py:67-68). Spark's `groupBy().agg(avg)` plans
  * HashAggregate(partial) → Exchange → HashAggregate(final)
  * automatically, so only K partial rows per partition shuffle — the
  * reference's biggest perf gap at scale (SURVEY §4), fixed for free.
  *
  * Empty clusters (A5/P3): ids absent from the aggregate. The reference
  * has two divergent policies — re-randomize (master.py:265-271) and
  * keep-old (sequential-kmeans.py:46-49). Realized here as an outer join
  * of the dense id space onto the aggregate (J2: master.py:209-211,
  * 242-244 is an index-keyed merge) + `coalesce`.
  */
object Recenter {

  sealed trait RepairPolicy
  object RepairPolicy {
    /** sequential-kmeans.py:46-49: empty cluster keeps its old centroid. */
    case object KeepOld extends RepairPolicy
    /** master.py:265-271: empty cluster re-randomized inside the data
      * bounding box (intended semantics, not the reference's scrambled
      * box — SURVEY §3.4). Seeded for reproducibility.
      */
    final case class Rerandomize(seed: Long) extends RepairPolicy
  }

  /** Per-cluster count + mean from an assigned point DF
    * (cols: cluster_id, x, y). Clusters with no members are absent.
    */
  def means(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster_id")).agg(
      count(lit(1)).as("cnt"),
      avg(col("x")).as("new_x"),
      avg(col("y")).as("new_y"))

  /** Full recenter step: means + repair over the dense [0,K) id space.
    * `old` supplies the previous centroid per cid (KeepOld policy) or the
    * bounding box (Rerandomize).
    */
  def recenter(
      assigned: DataFrame,
      old: Seq[Centroid2D],
      policy: RepairPolicy): Seq[Centroid2D] = {
    val agg = means(assigned).collect()
      .map(r => r.getInt(0) -> (r.getDouble(2), r.getDouble(3)))
      .toMap
    repair(old, agg, policy)(bbox(assigned))
  }

  /** The merge after a means pass, shared by [[recenter]] and
    * `KMeansLoop.fit`: a cid with a mean moves there; an empty one keeps
    * its old centroid (KeepOld) or is redrawn uniformly inside `box` =
    * (xlo, xhi, ylo, yhi) from `Random(seed + draw)` (Rerandomize). `box`
    * is evaluated only if a Rerandomize repair happens. K is tiny: the
    * merge is driver-side, like the reference's master
    * (master.py:242-244) and MLlib.
    */
  def repair(
      old: Seq[Centroid2D],
      means: Map[Int, (Double, Double)],
      policy: RepairPolicy,
      draw: Int = 0)(box: => (Double, Double, Double, Double)): Seq[Centroid2D] = {
    def moved(c: Centroid2D)(empty: => Centroid2D) =
      means.get(c.cid).fold(empty) { case (x, y) => Centroid2D(c.cid, x, y) }
    policy match {
      case RepairPolicy.KeepOld => old.map(c => moved(c)(c))
      case RepairPolicy.Rerandomize(seed) =>
        val rnd = new java.util.Random(seed + draw)
        lazy val (xlo, xhi, ylo, yhi) = box
        old.map(c => moved(c)(Centroid2D(c.cid, xlo + rnd.nextDouble() * (xhi - xlo),
          ylo + rnd.nextDouble() * (yhi - ylo))))
    }
  }

  /** A4 — global bounding box in one pass (getInputRange,
    * master.py:274-303, which is a full file re-scan; here a single
    * 4-aggregate job).
    */
  def bbox(points: DataFrame): (Double, Double, Double, Double) = {
    val r = points.agg(
      min(col("x")), max(col("x")), min(col("y")), max(col("y"))).head()
    (r.getDouble(0), r.getDouble(1), r.getDouble(2), r.getDouble(3))
  }
}
