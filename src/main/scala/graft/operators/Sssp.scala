package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Weighted single-source (multi-seed) shortest paths — fixed-round
  * distributed Bellman-Ford, the weighted twin of [[Bfs]] and the
  * fifth member of the iterate-join-aggregate family the reference's
  * driver loop instantiates (master.py:352-366). BFS answers "how many
  * hops"; this answers "what is the cheapest route" over integer edge
  * weights (lead times, costs, latencies).
  *
  * DELTA form, not full relaxation: round i propagates only from
  * nodes whose distance IMPROVED in round i−1 — per-round join input
  * is the changed set, not the whole distance table. This is exactly
  * equal to full Bellman-Ford round by round (if u was unchanged at
  * round i−1, every u-relaxation was already dominated in round i−1's
  * merge — induction), so the DuckDB oracle replays the SIMPLER full
  * relaxation as unrolled CTEs and the tables match exactly. At 100 TB
  * the delta form is the difference between shuffling the frontier's
  * expansion per round and shuffling |V| per round after distances
  * have mostly settled.
  *
  * Candidates are min-combined per round BEFORE the merge join (one
  * map-side-combined aggregate), so the full-outer merge sees one row
  * per touched node. Every round's outputs are eagerly
  * localCheckpoint'ed — the lineage-truncation lesson of
  * [[Dedup.connectedComponents]] / [[KCore]] / [[Bfs]].
  *
  * Determinism: distance is a min over path weights (integer sums) —
  * order- and parallelism-free; a fixed round count bounds the path
  * LENGTH considered (rounds ≥ diameter ⇒ exact SSSP), mirroring the
  * fixed-iteration policy of the other family members.
  */
object Sssp {

  /** Fixed-`rounds` Bellman-Ford over directed weighted `edges`
    * (src, dst, w — integer weights) from `seeds` (node). Returns
    * (node, d): cheapest known path weight within `rounds` edges;
    * seeds at d = 0.
    */
  def run(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val d = driverReplay(edges, seeds, rounds)
    if (d.isDefined) return d.get
    val e = edges.select(col("src"), col("dst"), col("w"))
    var dist = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0L))
      .localCheckpoint(true)
    var changed = dist
    for (_ <- 1 to rounds) {
      val cand = e.join(changed, e("src") === changed("node"))
        .select(e("dst").as("node"), (col("d") + col("w")).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      val merged = dist.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("d"), lit(Long.MaxValue)),
            coalesce(col("nd"), lit(Long.MaxValue))).as("d"),
          (coalesce(col("nd"), lit(Long.MaxValue)) <
            coalesce(col("d"), lit(Long.MaxValue))).as("improved"))
        .localCheckpoint(true)
      changed = merged.where(col("improved")).select(col("node"), col("d"))
      dist = merged.select(col("node"), col("d"))
    }
    dist
  }

  /** Two-regime driver replay (optimization round 19 — the family-wide
    * precedent): under the [[DriverRegime]] gate the driver replays the
    * identical delta Bellman-Ford rounds — distance is a min over
    * integer path weights,
    * schedule-free, so rows are identical; the fixed round count bounds
    * the path length exactly as distributed.
    */
  private def driverReplay(edges: DataFrame, seeds: DataFrame,
      rounds: Int): Option[DataFrame] = {
    val eCols = edges.select(col("src"), col("dst"), col("w"))
    val seedCol = seeds.select(col("node"))
    if (!(eCols.schema.fields ++ seedCol.schema.fields)
        .forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(eCols).getOrElse(return None)
    val seedRows = DriverRegime.pull(seedCol.distinct(), cap = 100000)
      .getOrElse(return None)
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[(Long, Long)]]
    rows.foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        new scala.collection.mutable.ArrayBuffer[(Long, Long)]()) +=
        ((r.getLong(1), r.getLong(2)))
    }
    val dist = scala.collection.mutable.LongMap.empty[Long]
    seedRows.foreach(r => dist(r.getLong(0)) = 0L)
    var changed = scala.collection.mutable.LongMap.empty[Long]
    seedRows.foreach(r => changed(r.getLong(0)) = 0L)
    var i = 1
    while (i <= rounds) {
      // candidate min per node over the CHANGED frontier's relaxations
      val cand = scala.collection.mutable.LongMap.empty[Long]
      changed.foreach { case (u, du) =>
        adj.get(u).foreach(_.foreach { case (v, w) =>
          val nd = du + w
          if (cand.get(v).forall(nd < _)) cand(v) = nd
        })
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      cand.foreach { case (v, nd) =>
        if (dist.get(v).forall(nd < _)) { dist(v) = nd; next(v) = nd }
      }
      changed = next
      i += 1
    }
    Some(DriverRegime.frame(edges.sparkSession,
      dist.toSeq.map { case (node, d0) => Row(node, d0) },
      DriverRegime.schema("node" -> LongType, "d" -> LongType)))
  }

  /** Run-to-fixpoint audit variant: relaxes until no distance improves
    * (an empty changed set ⟺ every relaxation is dominated ⟺ exact
    * shortest paths — Bellman-Ford convergence). Throws after
    * `maxRounds` (a negative-free graph converges within |V| rounds,
    * so non-convergence here means maxRounds is too low). The
    * fixed-round production form stays the default; this mode proves
    * (or refutes) a chosen round count on real data — the
    * [[KCore.peelConverged]] policy applied to shortest paths.
    */
  def runConverged(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val e = edges.select(col("src"), col("dst"), col("w"))
    var dist = seeds.select(col("node")).distinct()
      .withColumn("d", lit(0L)).localCheckpoint(true)
    var changed = dist
    var round = 0
    var changedSize = changed.count()
    while (changedSize > 0 && round < maxRounds) {
      round += 1
      val cand = e.join(changed, e("src") === changed("node"))
        .select(e("dst").as("node"), (col("d") + col("w")).as("nd"))
        .groupBy(col("node")).agg(min(col("nd")).as("nd"))
      val merged = dist.join(cand, Seq("node"), "full_outer")
        .select(col("node"),
          least(coalesce(col("d"), lit(Long.MaxValue)),
            coalesce(col("nd"), lit(Long.MaxValue))).as("d"),
          (coalesce(col("nd"), lit(Long.MaxValue)) <
            coalesce(col("d"), lit(Long.MaxValue))).as("improved"))
        .localCheckpoint(true)
      changed = merged.where(col("improved")).select(col("node"), col("d"))
      dist = merged.select(col("node"), col("d"))
      changedSize = changed.count()
    }
    if (changedSize > 0)
      throw new IllegalStateException(
        s"Sssp.runConverged: distances still improving after $maxRounds rounds; " +
          "raise maxRounds")
    dist
  }
}
