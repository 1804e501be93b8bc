package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed triangle counting: degree-ordered orientation + the
  * adjacency-intersection edge iterator.
  *
  * Node rank = deg·1e8 + id (a unique scalar — no struct comparison);
  * every edge points low-rank → high-rank, which bounds out-degree by
  * O(√E) on any graph (arboricity argument) and assigns each triangle
  * to exactly one ordered (a, b, c). Counting then iterates EDGES, not
  * wedges: each oriented edge (u, v) intersects u's and v's
  * higher-neighbor lists — the intersection is precisely the third
  * vertices c with rank(c) > rank(v) > rank(u). Per-node participation
  * falls out of the same pass (u and v each join |∩| triangles, every
  * c ∈ ∩ joins one).
  *
  * Why this shape at scale: the alternative wedge self-join
  * materializes Σ outdeg² rows (35M at sf0.1 — measured 58 s cold /
  * 162 s warm) through two shuffles; the edge iterator moves each
  * adjacency array once per incident oriented edge and computes
  * intersections as narrow per-row work (measured ~25× faster on the
  * same graph). The oriented edge list is materialized once (eager
  * localCheckpoint) because the adjacency build and the edge probe both
  * consume it; it is released before returning.
  */
object Triangles {

  /** Per-node triangle participation counts over an undirected edge
    * list (u, v) with u ≠ v, each undirected edge present once.
    * Node ids must be < 1e8 so the rank scalar cannot collide.
    */
  def countPerNode(edges: DataFrame): DataFrame = {
    // materialize the edge list first: it feeds BOTH the degree
    // aggregate and the orientation join, and callers hand in derived
    // frames (the basket edge list is itself a self-join + distinct)
    // whose lineage would otherwise execute once per consumer
    // (re-spreading THIS checkpoint was tried in round 19 and rejected
    // by measurement — the extra shuffle job offsets the spread gain;
    // only the oriented list below profits from a re-spread)
    val e = edges.select(col("u"), col("v")).localCheckpoint(true)
    val deg = e.select(col("u").as("node"))
      .unionAll(e.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
      .select(col("node"), (col("d") * lit(100000000L) + col("node")).as("rk"))
    val ew = e
      .join(deg.select(col("node").as("u"), col("rk").as("rku")), "u")
      .join(deg.select(col("node").as("v"), col("rk").as("rkv")), "v")
    // re-spread before checkpointing (optimization round 19, guide
    // §2.5/§2.6): AQE coalesces the small upstream shuffles to a
    // handful of partitions and localCheckpoint PINS that layout, so
    // the probe stage — the pipeline's real work — ran on 6 tasks of a
    // 32-core box (JobProfile: one 3.3 s 6-task job = 62% of warm).
    // A round-robin repartition of the narrow 2-column edge list costs
    // ~0.1 s and buys full-width parallelism downstream.
    val p = edges.sparkSession.sparkContext.defaultParallelism
    val oriented = ew.select(
      when(col("rku") < col("rkv"), col("u")).otherwise(col("v")).as("src"),
      when(col("rku") < col("rkv"), col("v")).otherwise(col("u")).as("dst"))
    val o = oriented.repartition(p).localCheckpoint(true)
    // higher-neighbor adjacency, sorted for deterministic arrays; one
    // row per node, array length ≤ O(√E) by the orientation bound.
    // Materialized too: it is probed from both endpoints of every edge.
    // The groupBy rides an explicit src-keyed p-way repartition instead
    // of ENSURE_REQUIREMENTS (optimization round 19): AQE coalesces the
    // small-BYTES exchange to ~3 partitions while the per-row work
    // (sort_array over the adjacency) is CPU-heavy — JobProfile showed
    // the build as a 0.7 s 3-task job on a 32-core box. Same shuffle,
    // pinned width; defaultParallelism is scale-adaptive.
    val adj = o.repartition(p, col("src"))
      .groupBy(col("src").as("node"))
      .agg(sort_array(collect_list(col("dst"))).as("nbrs"))
      .localCheckpoint(true)
    // two-regime probe (the PageRank.chooseBroadcast discipline): the
    // adjacency is O(V + E) rows/entries, so it broadcasts only under
    // the [[DriverRegime]] count gate (≈ 16 MB of packed longs at the
    // threshold). Below the threshold the probe joins become broadcast
    // hash joins and the CPU-heavy intersection pass inherits o's full
    // p-way layout — AQE had coalesced the sort-merge exchange to 10
    // tasks (1.6 s of a 5.4 s warm JobProfile). Above it, the
    // distributed shape is unchanged.
    val bcastAdj = DriverRegime.fits(e.sparkSession, e.count())
    def probeSide(d: DataFrame) = if (bcastAdj) broadcast(d) else d
    val probed = o
      .join(probeSide(adj.select(col("node").as("src"), col("nbrs").as("nu"))),
        "src")
      // the globally highest-ranked endpoint has no out-neighbors —
      // left join + empty-array default keeps those edges (they close
      // no triangle but must not drop the row before the filter)
      .join(probeSide(adj.select(col("node").as("dst"), col("nbrs").as("nv"))),
        Seq("dst"), "left")
      .select(col("src"), col("dst"),
        array_intersect(col("nu"),
          coalesce(col("nv"), array().cast("array<bigint>"))).as("thirds"))
      .where(size(col("thirds")) > 0)
    val out = probed.select(explode(concat(
        array(
          struct(col("src").as("node"), size(col("thirds")).cast("long").as("w")),
          struct(col("dst").as("node"), size(col("thirds")).cast("long").as("w"))),
        transform(col("thirds"),
          c => struct(c.as("node"), lit(1L).as("w"))))).as("s"))
      .select(col("s.node").as("node"), col("s.w").as("w"))
      .groupBy(col("node")).agg(sum(col("w")).as("n_tri"))
    val res = out.localCheckpoint(true)
    e.unpersist(blocking = true)
    o.unpersist(blocking = true)
    adj.unpersist(blocking = true)
    res
  }
}
