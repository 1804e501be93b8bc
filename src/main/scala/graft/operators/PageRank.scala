package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Distributed PageRank in FIXED-POINT integer arithmetic.
  *
  * The reference's entire compute pattern is "iterate a
  * join-aggregate-merge loop from the driver until done"
  * (`master.py:352-366`); k-means ([[KMeansLoop]]) and connected
  * components ([[Dedup.connectedComponents]]) are two instances, and
  * PageRank is the third classic member of that family — per
  * iteration: join ranks to edges on src, group contributions by dst,
  * re-emit ranks. One hash shuffle per side per iteration, no driver
  * data motion at all (contrast k-means, which collects K rows).
  *
  * Determinism: floating-point PageRank sums contributions in shuffle
  * order, so no two engines (or two runs at different parallelism)
  * agree bit-for-bit. Ranks here are integers scaled by 1e6 and every
  * step is integer multiply/divide (`rank DIV outdeg`,
  * `(850·Σ) DIV 1000` = damping 0.85) — integer addition is exact and
  * order-free, so the result is IDENTICAL on any engine at any
  * parallelism, and the DuckDB oracle replays the iterations as plain
  * CTEs with `//` division. The cost is deterministic floor
  * truncation, bounded by 1e-6·outdeg per edge — noise for ranking
  * purposes, and the same trade big systems make when they shard
  * counters.
  *
  * Scale shape: `edgesWithDeg` (static across iterations) is computed
  * once and checkpointed; per-iteration plans are then flat — without
  * the eager checkpoint each round's plan re-nests all previous rounds
  * and planning grows superlinearly (the [[Dedup.connectedComponents]]
  * lesson). At 100 TB you additionally pre-partition edges by src so
  * the per-iteration join reuses one side's layout; ranks arrive
  * pre-partitioned by dst from the previous groupBy.
  */
object PageRank {

  /** `edges`: (src BIGINT, dst BIGINT), assumed deduplicated; every
    * node that appears must have outdeg >= 1 (no dangling mass — build
    * bipartite both-direction edges if the raw relation is one-sided).
    * Returns (node, rank) with rank scaled by 1e6.
    */
  /** `broadcastRanks`: the per-iteration edges⋈ranks join has two
    * production regimes. When the vertex state fits an executor
    * (nodes ≪ edges — the bipartite supply graph here: 21k nodes vs
    * 1.2M edges at sf0.1), broadcasting ranks means the edge relation
    * is never shuffled or sorted at all — one narrow pass per
    * iteration. The hint matters because the checkpointed ranks frame
    * has no catalog stats, so the planner can't see it's tiny and
    * falls back to a sort-merge join that re-shuffles and re-sorts
    * EVERY edge EVERY iteration (measured 5.6 → 4.2 s cold / 4.1 →
    * 3.0 s warm at sf0.1). For billion-node graphs a forced broadcast
    * is instead an executor/driver OOM, so the DEFAULT (`None`)
    * self-selects: the node count is measured once on the
    * checkpointed frame (one cheap count of materialized state) and
    * ranks broadcast only under `broadcastMaxNodes`. Passing
    * `Some(x)` pins either regime for A/B runs; billion-node jobs can
    * additionally pre-partition edges by src so the SMJ reuses the
    * edge layout.
    */
  def run(edges: DataFrame, iters: Int,
      broadcastRanks: Option[Boolean] = None,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    if (broadcastRanks.isEmpty) {
      val d = driverReplay(edges, None, iters, weighted = false)
      if (d.isDefined) return d.get
    }
    val edgesWithDeg = withDegrees(edges).localCheckpoint(true)
    var ranks = initRanks(edges).localCheckpoint(true)
    val doBroadcast = chooseBroadcast(broadcastRanks,
      ranks.count(), broadcastMaxNodes)
    for (_ <- 1 to iters) {
      ranks = step(edgesWithDeg, ranks, doBroadcast).localCheckpoint(true)
    }
    ranks
  }

  /** Personalized PageRank: the teleport mass lands ONLY on `seeds`
    * (node column) — rank measures relevance RELATIVE to the seed set
    * (the recommendation/local-similarity primitive), not global
    * importance. Same integer fixed-point arithmetic and scale shape as
    * [[run]]; the seed flag rides the rank frame through iterations
    * (one seed join at init, never re-joined per round). Nodes the
    * mass hasn't reached carry rank 0.
    */
  def runPersonalized(edges: DataFrame, seeds: DataFrame, iters: Int,
      broadcastRanks: Option[Boolean] = None,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    if (broadcastRanks.isEmpty) {
      val d = driverReplay(edges, Some(seeds), iters, weighted = false)
      if (d.isDefined) return d.get
    }
    val edgesWithDeg = withDegrees(edges).localCheckpoint(true)
    val s = seeds.select(col("node").as("snode"), lit(1L).as("s"))
    var ranks = initRanks(edges)
      .join(broadcast(s), col("node") === col("snode"), "left")
      .select(col("node"), coalesce(col("s"), lit(0L)).as("s"))
      .withColumn("rank", col("s") * lit(1000000L))
      .select(col("node"), col("rank"), col("s"))
      .localCheckpoint(true)
    val doBroadcast = chooseBroadcast(broadcastRanks,
      ranks.count(), broadcastMaxNodes)
    for (_ <- 1 to iters) {
      val rankSide = if (doBroadcast) broadcast(ranks) else ranks
      val contribs = edgesWithDeg
        .join(rankSide, edgesWithDeg("src") === rankSide("node"))
        .select(col("dst"), expr("rank DIV outdeg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      val frame = ranks.select(col("node"), col("s"))
      ranks = frame.join(contribs, frame("node") === contribs("dst"), "left")
        .select(col("node"),
          (col("s") * lit(150000L) +
            expr("(850 * coalesce(sc, 0L)) DIV 1000")).as("rank"),
          col("s"))
      ranks = ranks.localCheckpoint(true)
    }
    ranks.select(col("node"), col("rank"))
  }

  /** Weighted PageRank: contributions split by edge weight instead of
    * uniformly — `rank·w DIV strength(src)` with strength = Σ out-weights
    * (all integer, so the engine-exactness contract of [[run]] holds
    * unchanged; `w = 1` everywhere collapses to the unweighted form
    * integer-exactly, pinned in GraphSpec). Overflow headroom: rank is
    * ~1e6-scaled and fixture weights are small integers, so rank·w sits
    * orders below 2⁶³; callers with large weights should pre-normalize.
    */
  def runWeighted(edges: DataFrame, iters: Int,
      broadcastRanks: Option[Boolean] = None,
      broadcastMaxNodes: Long = 5000000L): DataFrame = {
    if (broadcastRanks.isEmpty) {
      val d = driverReplay(edges, None, iters, weighted = true)
      if (d.isDefined) return d.get
    }
    val strength = edges.groupBy(col("src")).agg(sum(col("w")).as("strength"))
    val ewd = edges.join(strength, "src")
      .select(col("src"), col("dst"), col("w"), col("strength"))
      .localCheckpoint(true)
    var ranks = initRanks(edges).localCheckpoint(true)
    val doBroadcast = chooseBroadcast(broadcastRanks,
      ranks.count(), broadcastMaxNodes)
    for (_ <- 1 to iters) {
      val rankSide = if (doBroadcast) broadcast(ranks) else ranks
      val contribs = ewd.join(rankSide, ewd("src") === rankSide("node"))
        .select(col("dst"), expr("(rank * w) DIV strength").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
      val frame = ranks.select(col("node"))
      ranks = frame.join(contribs, frame("node") === contribs("dst"), "left")
        .select(col("node"),
          (lit(150000L) + expr("(850 * coalesce(sc, 0L)) DIV 1000")).as("rank"))
      ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Two-regime driver replay of the rank iterations (optimization
    * round 19, guide §1.2 step 1 — the family-wide precedent): under
    * the [[DriverRegime]] gate (only the AUTO broadcast regime — an
    * explicit `broadcastRanks` is a caller forcing a distributed path)
    * one bounded take pulls the edge list (and seed set for the
    * personalized form) and the driver replays the IDENTICAL
    * fixed-point integer recurrence: the same `rank DIV outdeg`
    * (or `(rank·w) DIV strength`) floor contributions, the same
    * order-free integer sums, the same `150000·s +
    * (850·Σ) DIV 1000` damping — integer arithmetic is exact, so
    * rows are identical by construction (GraphSpec pins the regimes).
    * Covers the unweighted, weighted (seeds = None) and personalized
    * (seeds = Some) forms.
    */
  private def driverReplay(edges: DataFrame, seeds: Option[DataFrame],
      iters: Int, weighted: Boolean): Option[DataFrame] = {
    val eCols =
      if (weighted) edges.select(col("src"), col("dst"), col("w"))
      else edges.select(col("src"), col("dst"))
    val seedCol = seeds.map(_.select(col("node")))
    if (!(eCols.schema.fields ++
        seedCol.map(_.schema.fields).getOrElse(Array.empty))
        .forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(eCols).getOrElse(return None)
    val seedSet = scala.collection.mutable.LongMap.empty[Unit]
    seedCol.foreach { sc =>
      DriverRegime.pull(sc.distinct(), cap = 1000000).getOrElse(return None)
        .foreach(r => seedSet(r.getLong(0)) = ())
    }
    val n = rows.length
    val es = new Array[Long](n); val ed = new Array[Long](n)
    val ew = new Array[Long](n)
    var i = 0
    while (i < n) {
      es(i) = rows(i).getLong(0); ed(i) = rows(i).getLong(1)
      ew(i) = if (weighted) rows(i).getLong(2) else 1L
      i += 1
    }
    // outdeg (count) or strength (Σw) per src; node set = src ∪ dst
    val strength = scala.collection.mutable.LongMap.empty[Long]
    val ranks = scala.collection.mutable.LongMap.empty[Long]
    i = 0
    while (i < n) {
      strength(es(i)) = strength.getOrElse(es(i), 0L) +
        (if (weighted) ew(i) else 1L)
      ranks.getOrElseUpdate(es(i), 0L); ranks.getOrElseUpdate(ed(i), 0L)
      i += 1
    }
    def sOf(v: Long): Long =
      if (seeds.isEmpty) 1L else if (seedSet.contains(v)) 1L else 0L
    ranks.foreachKey(v => ranks(v) = sOf(v) * 1000000L)
    (1 to iters).foreach { _ =>
      val sc = scala.collection.mutable.LongMap.empty[Long]
      i = 0
      while (i < n) {
        val c =
          if (weighted) (ranks(es(i)) * ew(i)) / strength(es(i))
          else ranks(es(i)) / strength(es(i))
        sc(ed(i)) = sc.getOrElse(ed(i), 0L) + c
        i += 1
      }
      ranks.foreachKey { v =>
        ranks(v) = sOf(v) * 150000L + (850L * sc.getOrElse(v, 0L)) / 1000L
      }
    }
    Some(DriverRegime.frame(edges.sparkSession,
      ranks.toSeq.map { case (node, r) => Row(node, r) },
      DriverRegime.schema("node" -> LongType, "rank" -> LongType)))
  }

  /** Static per-iteration edge relation: (src, dst, outdeg). */
  private[graft] def withDegrees(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    edges.join(deg, "src").select(col("src"), col("dst"), col("outdeg"))
  }

  /** Uniform initial ranks (scaled 1e6) over the observed node set. */
  private[graft] def initRanks(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
      .withColumn("rank", lit(1000000L))

  /** The broadcast gate, pure so the spec can pin it: an explicit pin
    * wins; otherwise broadcast only when the measured node count (of
    * the materialized state) fits under the cap. `nNodes` is by-name so
    * the count is never run on a pinned call.
    */
  private[graft] def chooseBroadcast(broadcastRanks: Option[Boolean],
      nNodes: => Long, broadcastMaxNodes: Long): Boolean =
    broadcastRanks.getOrElse(nNodes <= broadcastMaxNodes)

  /** ONE rank iteration (unexecuted), the plan the spec audits in both
    * regimes: contributions join on src (broadcast or shuffle per the
    * gate), sum by dst, left-join back onto the node frame.
    */
  private[graft] def step(edgesWithDeg: DataFrame, ranks: DataFrame,
      doBroadcast: Boolean): DataFrame = {
    val rankSide = if (doBroadcast) broadcast(ranks) else ranks
    val contribs = edgesWithDeg
      .join(rankSide, edgesWithDeg("src") === rankSide("node"))
      .select(col("dst"), expr("rank DIV outdeg").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("sc"))
    // the node frame for the no-in-edges left join is the PREVIOUS
    // ranks (checkpointed — exactly the node set), not the raw node
    // relation: joining vs it would recompute union+distinct over all
    // edges every iteration (measured 6.6 s → 5.6 s cold at sf0.1; the
    // broadcast above buys the rest)
    val frame = ranks.select(col("node"))
    frame.join(contribs, frame("node") === contribs("dst"), "left")
      .select(col("node"),
        (lit(150000L) + expr("(850 * coalesce(sc, 0L)) DIV 1000")).as("rank"))
  }
}
