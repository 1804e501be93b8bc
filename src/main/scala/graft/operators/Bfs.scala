package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Frontier breadth-first search — multi-source shortest hop counts,
  * the reachability primitive behind "what can this supplier reach in
  * N hops" and impact analysis over dependency graphs. Fourth member
  * of the iterate-join-aggregate family the reference's driver loop
  * instantiates (master.py:352-366), alongside k-means, hash-min
  * connected components and PageRank.
  *
  * FRONTIER form, not full relaxation: round i joins ONLY the nodes
  * discovered in round i-1 against the edge list and anti-joins the
  * visited set — per-round shuffle is O(|frontier expansion|), not
  * O(|V|). A full min-relax (every node re-propagating every round)
  * shuffles the whole distance table each round; on a 100-TB graph
  * where BFS saturates in a few hops, the frontier form's total work
  * is O(|E reached|) across ALL rounds, which is the optimum. Each
  * round's result is eagerly localCheckpoint'ed — same lineage-
  * truncation lesson as [[Dedup.connectedComponents]] and [[KCore]]
  * (without it planning cost grows superlinearly in rounds).
  *
  * Determinism: hop distance is a min over paths and every round is a
  * set union — order- and parallelism-free, so a fixed-round run is
  * replayable as unrolled SQL CTEs on any engine with zero slack.
  */
object Bfs {

  /** Fixed-`rounds` multi-source BFS over directed `edges` (src, dst)
    * from `seeds` (node). Returns (node, dist) for every node reached
    * within `rounds` hops; seeds are at dist 0.
    */
  def run(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val d = driverReplay(edges, seeds, rounds)
    if (d.isDefined) return d.get
    val e = edges.select(col("src"), col("dst"))
    var visited = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0))
      .localCheckpoint(true)
    var frontier = visited.select(col("node"))
    for (i <- 1 to rounds) {
      val next = e.join(frontier, e("src") === frontier("node"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(i))
        .localCheckpoint(true)
      visited = visited.unionAll(next).localCheckpoint(true)
      frontier = next.select(col("node"))
    }
    visited
  }

  /** Two-regime driver replay (optimization round 19, guide §1.2
    * step 1 — the family-wide precedent): under the [[DriverRegime]]
    * gate one bounded take pulls the edge list and seeds and the
    * driver replays the identical frontier rounds — hop distance is a
    * min over paths, schedule-free, so rows are identical. Larger
    * graphs run the distributed frontier loop unchanged.
    */
  private def driverReplay(edges: DataFrame, seeds: DataFrame,
      rounds: Int): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    val seedCol = seeds.select(col("node"))
    if (!(pairCols.schema.fields ++ seedCol.schema.fields)
        .forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    val seedRows = DriverRegime.pull(seedCol.distinct(), cap = 100000)
      .getOrElse(return None)
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        new scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(1)
    }
    val dist = scala.collection.mutable.LongMap.empty[Int]
    seedRows.foreach(r => dist(r.getLong(0)) = 0)
    var frontier: Iterable[Long] = seedRows.map(_.getLong(0)).toSeq
    var i = 1
    while (i <= rounds && frontier.nonEmpty) {
      val next = scala.collection.mutable.LongMap.empty[Unit]
      frontier.foreach { u =>
        adj.get(u).foreach(_.foreach { v =>
          if (!dist.contains(v)) next(v) = ()
        })
      }
      next.foreachKey(v => dist(v) = i)
      frontier = next.keys.toSeq
      i += 1
    }
    Some(DriverRegime.frame(edges.sparkSession,
      dist.toSeq.map { case (node, d0) => Row(node, d0) },
      DriverRegime.schema("node" -> LongType, "dist" -> IntegerType)))
  }

  /** Run-to-fixpoint audit variant: expands until the frontier is
    * empty (an empty frontier ⟺ every reachable node is visited ⟺
    * exact hop distances — BFS discovery is monotone). Throws after
    * `maxRounds` instead of returning a partial reach. The fixed-round
    * production form stays the default; this mode proves (or refutes)
    * a chosen round count on real data — the [[KCore.peelConverged]]
    * policy applied to reachability.
    */
  def runConverged(edges: DataFrame, seeds: DataFrame,
      maxRounds: Int = 64): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    var visited = seeds.select(col("node")).distinct()
      .withColumn("dist", lit(0)).localCheckpoint(true)
    var frontier = visited.select(col("node"))
    var round = 0
    var frontierSize = frontier.count()
    while (frontierSize > 0 && round < maxRounds) {
      round += 1
      val next = e.join(frontier, e("src") === frontier("node"), "left_semi")
        .select(col("dst").as("node")).distinct()
        .join(visited.select(col("node")), Seq("node"), "left_anti")
        .withColumn("dist", lit(round)).localCheckpoint(true)
      visited = visited.unionAll(next).localCheckpoint(true)
      frontier = next.select(col("node"))
      frontierSize = next.count()
    }
    if (frontierSize > 0)
      throw new IllegalStateException(
        s"Bfs.runConverged: frontier still non-empty after $maxRounds rounds; " +
          "raise maxRounds")
    visited
  }
}
