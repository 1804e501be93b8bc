package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Grid-bucketed DBSCAN (Ester, Kriegel, Sander, Xu 1996) — the
  * standard density clusterer k-means cannot replace (non-convex
  * clusters, explicit noise), built from two chassis the engine
  * already gates: the eps-grid 3×3 candidate pruning of
  * [[SpatialGrid]] (a point within eps lies at most one eps-cell away
  * on each axis, so the cell equi-join provably contains every
  * eps-pair) and the hash-min + pointer-jump connected components of
  * [[ConnectedComponents]] over the core-point graph.
  *
  * Input geometry: the first two embedding dimensions — the fixture's
  * only 2-D point set with genuine density structure (the lineitem
  * (price, quantity) cloud is near-uniform, DBSCAN's degenerate case:
  * measured max eps-neighborhood weight 7 at eps ≤ 5.0, i.e. all
  * noise, and any eps wide enough to connect it yields one blob whose
  * min-label chain is thousands of hops). Coordinates are scaled to
  * exact integer micro-units xi = floor((v+1)·10⁶ + 0.5) — identical
  * IEEE ops per row on both engines, nonnegative by the +1 shift — so
  * every distance, threshold, and label is BIGINT and the oracle gate
  * is a hash match (the KMeansParallel discipline).
  *
  * Semantics (weighted variant, spec-pinned against a naive driver
  * DBSCAN): exact-duplicate points collapse to one row with
  * multiplicity w; |N_eps(p)| counts multiplicities and includes p
  * itself; p is CORE iff that weight ≥ minPts; core points within eps
  * connect (labels = min packed id per component, pack = xi·2²¹ + yi,
  * exactly lexicographic (xi, yi) order); a non-core point within eps
  * of ≥ 1 core is BORDER and joins the LOWEST-labeled such core's
  * cluster (the published algorithm says "some core neighbor" —
  * pinned deterministic here); everything else is NOISE (cluster −1).
  *
  * Scale shape: one distinct aggregate, one cell-keyed equi-join
  * (each side shuffles on cell id — the distributed ε-grid join; the
  * 3×3 expansion rides the smaller side), one map-side-combined
  * weight aggregate, then CC on the core graph in O(log d) label-table
  * rounds. Per-cell occupancy is bounded by density·eps², independent
  * of corpus volume. The ORACLE replays plain unrolled hash-min
  * rounds (valid because the fixpoint labeling is schedule-free —
  * graph_cc's argument); measured plain depth: 9 (sf0.001), 14
  * (sf0.01), 21 (sf0.1), 27 (derived sf1.0), so 32 unrolled rounds
  * carry margin and a depth overrun fails LOUDLY — Spark's audited
  * fixpoint throws past maxIters, and a converged-but-deeper run hash-
  * mismatches the 32-round oracle rather than silently under-merging.
  */
object Dbscan {

  /** pack = xi·2²¹ + yi — valid (and equal to lexicographic (xi, yi)
    * order) while 0 ≤ yi < 2²¹ and xi ≥ 0; [[run]] asserts the domain
    * before labeling rather than risking a silent collision that both
    * engines would agree on.
    */
  val PackBase = 2097152L

  /** Distinct micro-unit points with multiplicity: (xi, yi, w). */
  def scaledPoints(emb: DataFrame): DataFrame =
    emb.select(
      floor((col("embedding").getItem(0).cast("double") + lit(1.0)) *
        lit(1000000) + lit(0.5)).cast("long").as("xi"),
      floor((col("embedding").getItem(1).cast("double") + lit(1.0)) *
        lit(1000000) + lit(0.5)).cast("long").as("yi"))
      .groupBy(col("xi"), col("yi")).agg(count(lit(1)).as("w"))

  /** Full DBSCAN labeling: (xi, yi, w, nbw, role, cluster) ordered by
    * (xi, yi); cluster = min packed id of the component, −1 for noise.
    */
  def run(emb: DataFrame, eps: Long, minPts: Long,
      maxIters: Int = 32): DataFrame = {
    val pts = scaledPoints(emb).localCheckpoint(true)
    val mx = pts.agg(max(col("xi")), max(col("yi")), min(col("xi")),
      min(col("yi"))).collect()(0)
    require(mx.getLong(0) < PackBase && mx.getLong(1) < PackBase &&
      mx.getLong(2) >= 0L && mx.getLong(3) >= 0L,
      s"point domain escapes the pack base $PackBase — labels would " +
        "collide identically on both engines; widen PackBase")
    val g = pts
      .withColumn("cx", expr(s"xi DIV $eps"))
      .withColumn("cy", expr(s"yi DIV $eps"))
    val nb = g
      .select(col("xi").as("axi"), col("yi").as("ayi"),
        col("cx"), col("cy"))
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .select(col("axi"), col("ayi"),
        (col("cx") + col("dx")).as("ncx"), (col("cy") + col("dy")).as("ncy"))
    // symmetric by construction (every ordered pair appears once per
    // direction); includes the self pair (d2 = 0)
    val cp = nb
      .join(g, col("ncx") === col("cx") && col("ncy") === col("cy"))
      .where((col("axi") - col("xi")) * (col("axi") - col("xi")) +
        (col("ayi") - col("yi")) * (col("ayi") - col("yi")) <=
        lit(eps * eps))
      .select(col("axi"), col("ayi"), col("xi").as("bxi"),
        col("yi").as("byi"), col("w").as("bw"))
      .localCheckpoint(true)
    val nbw = cp.groupBy(col("axi").as("xi"), col("ayi").as("yi"))
      .agg(sum(col("bw")).as("nbw"))
      .localCheckpoint(true)
    val core = nbw.where(col("nbw") >= lit(minPts))
      .select(col("xi"), col("yi"))
      .localCheckpoint(true)
    val coreEdges = cp
      .join(core.select(col("xi").as("axi"), col("yi").as("ayi")),
        Seq("axi", "ayi"))
      .join(core.select(col("xi").as("bxi"), col("yi").as("byi")),
        Seq("bxi", "byi"))
      .select((col("axi") * PackBase + col("ayi")).as("src"),
        (col("bxi") * PackBase + col("byi")).as("dst"))
    val comp = ConnectedComponents.run(coreEdges, maxIters)
      .localCheckpoint(true) // feeds core labels AND border attachment
    val base = pts.join(nbw, Seq("xi", "yi"))
    val coreRows = base.join(core, Seq("xi", "yi"))
      .join(comp, col("xi") * PackBase + col("yi") === comp("node"))
      .select(col("xi"), col("yi"), col("w"), col("nbw"),
        lit("core").as("role"), col("comp").as("cluster"))
    val borderRows = base
      .join(core, Seq("xi", "yi"), "left_anti")
      .join(cp, col("xi") === col("axi") && col("yi") === col("ayi"))
      .join(comp, col("bxi") * PackBase + col("byi") === comp("node"))
      .groupBy(col("xi"), col("yi"), col("w"), col("nbw"))
      .agg(min(col("comp")).as("cluster"))
      .select(col("xi"), col("yi"), col("w"), col("nbw"),
        lit("border").as("role"), col("cluster"))
    val labeled = coreRows.unionByName(borderRows)
    val noiseRows = base
      .join(labeled.select(col("xi"), col("yi")), Seq("xi", "yi"),
        "left_anti")
      .select(col("xi"), col("yi"), col("w"), col("nbw"),
        lit("noise").as("role"), lit(-1L).as("cluster"))
    labeled.unionByName(noiseRows).orderBy("xi", "yi")
  }
}
