package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** K-core decomposition by iterative degree peeling — the standard
  * graph-cleaning pass before community/influence analysis (and the
  * dedup-graph analogue of dropping weakly-connected doc families):
  * repeatedly delete every node whose degree in the SURVIVING subgraph
  * is < k; what remains after stabilization is the k-core.
  *
  * Same iterate-join-aggregate family as the reference's driver loop
  * (master.py:352-366) and our [[Dedup.connectedComponents]] /
  * [[PageRank]]: the production form runs a FIXED round count so the
  * DuckDB oracle can replay identical rounds as unrolled CTEs, and a
  * run-to-fixpoint audit variant proves the fixed count sufficient
  * (the peel is monotone — once the surviving edge count stops
  * falling, it is the true k-core for ANY graph).
  *
  * Scale shape per round: one map-side-combined degree aggregate over
  * the surviving edges plus two left-semi joins against the (much
  * smaller) survivor node list — O(|E|) shuffled per round, no node
  * ever sees more than its own adjacency. Eager per-round
  * localCheckpoint truncates lineage exactly like ccRound (without it,
  * planning cost grows superlinearly in rounds). Peel rounds needed =
  * the graph's "degeneracy depth", typically tiny for co-occurrence
  * graphs; `peelConverged` bounds it explicitly.
  */
object KCore {

  /** Symmetrize an undirected (u, v) edge list to per-direction rows
    * so degree = rows per src.
    */
  private def symmetrize(edges: DataFrame): DataFrame =
    edges.select(col("u").as("src"), col("v").as("dst"))
      .unionAll(edges.select(col("v").as("src"), col("u").as("dst")))

  /** One peel round: survivors = nodes with current degree >= k; keep
    * only edges with BOTH endpoints surviving.
    */
  private def peelRound(e: DataFrame, k: Int): DataFrame = {
    val keep = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .where(col("d") >= k)
      .select(col("src").as("node"))
    val kept = e.join(keep, e("src") === keep("node"), "left_semi")
      .join(keep, e("dst") === keep("node"), "left_semi")
    kept.localCheckpoint(true)
  }

  /** Fixed-`rounds` peel (oracle-replayable). Returns (node, deg):
    * surviving nodes with their degree inside the surviving subgraph.
    * Each distributed round is checkpointed, so round N's plan does not
    * re-nest rounds 1..N−1.
    */
  def peel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    val d = driverReplay(edges, k, rounds)
    if (d.isDefined) return d.get
    var e = symmetrize(edges)
    for (_ <- 1 to rounds) e = peelRound(e, k)
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }

  /** Two-regime driver replay of the fixed-round peel (optimization
    * round 19, guide §1.2 step 1 — the Mst/Louvain/Scc/CC precedent):
    * under the [[DriverRegime]] gate ONE bounded take pulls the edge
    * list and the driver replays the IDENTICAL rounds — per round the same
    * surviving-degree count and the same both-endpoints-survive edge
    * filter, then the same final per-src degree aggregate. Deterministic
    * integer counting, so rows are identical by construction (GraphSpec
    * pins driver ≡ distributed and the fixed-3 ≡ fixpoint audit).
    * JobProfile motivation: 13 sequential jobs of sub-300 ms tasks plus
    * a 7.9 s cold planning gap for 3 peel rounds at sf0.1; the 10×
    * derived basket graph (~12M pairs) exceeds the threshold and runs
    * the distributed ladder unchanged.
    */
  private def driverReplay(edges: DataFrame, k: Int,
      rounds: Int): Option[DataFrame] = {
    val pairCols = edges.select(col("u"), col("v"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    // symmetrized arrays; alive = survives the peel so far
    val n = rows.length
    val su = new Array[Long](n); val sv = new Array[Long](n)
    var i = 0
    while (i < n) { su(i) = rows(i).getLong(0); sv(i) = rows(i).getLong(1); i += 1 }
    val alive = Array.fill(n)(true)
    (1 to rounds).foreach { _ =>
      val deg = scala.collection.mutable.LongMap.empty[Long]
      i = 0
      while (i < n) {
        if (alive(i)) {
          deg(su(i)) = deg.getOrElse(su(i), 0L) + 1L
          deg(sv(i)) = deg.getOrElse(sv(i), 0L) + 1L
        }
        i += 1
      }
      i = 0
      while (i < n) {
        if (alive(i) &&
            (deg.getOrElse(su(i), 0L) < k || deg.getOrElse(sv(i), 0L) < k))
          alive(i) = false
        i += 1
      }
    }
    val deg = scala.collection.mutable.LongMap.empty[Long]
    i = 0
    while (i < n) {
      if (alive(i)) {
        deg(su(i)) = deg.getOrElse(su(i), 0L) + 1L
        deg(sv(i)) = deg.getOrElse(sv(i), 0L) + 1L
      }
      i += 1
    }
    val out = deg.toSeq.map { case (node, d) => Row(node, d) }
    Some(DriverRegime.frame(edges.sparkSession, out,
      DriverRegime.schema("node" -> LongType, "deg" -> LongType)))
  }

  /** Run-to-fixpoint audit variant: peels until the surviving edge
    * count stops changing (the peel is monotone decreasing, so equal
    * consecutive counts ⟺ no node fell below k ⟺ true k-core).
    * Throws after `maxRounds` instead of returning a partial peel.
    * The fixed-round production form stays the default; this mode
    * proves (or refutes) a chosen round count on real data — exactly
    * the [[Dedup.connectedComponentsConverged]] policy.
    */
  def peelConverged(edges: DataFrame, k: Int, maxRounds: Int = 64): DataFrame = {
    var e = symmetrize(edges).localCheckpoint(true)
    var prev = e.count()
    var converged = prev == 0L
    var round = 0
    while (!converged && round < maxRounds) {
      round += 1
      e = peelRound(e, k)
      val cur = e.count()
      converged = cur == prev
      prev = cur
    }
    if (!converged)
      throw new IllegalStateException(
        s"KCore.peelConverged: no fixpoint after $maxRounds rounds; " +
          "raise maxRounds")
    e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .select(col("src").as("node"), col("deg"))
  }
}
