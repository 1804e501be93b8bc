package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.Tables
import graft.operators.DriverRegime
import graft.queries.QueryHelpers.{rnd, rndSql}

/** Graph analytics over relations derived from the fixtures. Together
  * with [[graft.operators.Dedup.connectedComponents]] (label
  * propagation) this covers the iterate-join-aggregate family the
  * reference's driver loop (`master.py:352-366`) instantiates.
  */
object GraphQueries {

  /** Bipartite supply graph: supplier s -> part (100000 + p) and back,
    * one edge per DISTINCT (supplier, part) pair in lineitem. Both
    * directions means every node has outdeg >= 1 (no dangling mass).
    */
  /** The staged per-scale-dir supply graph (StagedLayouts.supplyEdges
    * scaladoc) — every consumer scans the materialized edge table
    * instead of re-deriving the scan + distinct per action.
    */
  private[graft] def supplyEdges(s: SparkSession, dir: String): DataFrame =
    graft.sources.StagedLayouts.supplyEdges(s, dir)

  /** The inline derivation (the staging builder's input, and the
    * definition the consumers' oracles replay).
    */
  private[graft] def supplyEdgesInline(s: SparkSession, dir: String): DataFrame = {
    // union BEFORE distinct: one dedup shuffle over both directions,
    // instead of a duplicated distinct subtree under the union
    val li = Tables.lineitem(s, dir)
    li.select(col("l_suppkey").as("src"),
        (lit(100000L) + col("l_partkey")).as("dst"))
      .union(li.select((lit(100000L) + col("l_partkey")).as("src"),
        col("l_suppkey").as("dst")))
      .distinct()
  }

  /** The DIRECTED fulfillment-flow graph (graph_scc's input): within
    * each order, lines chain forward by linenumber (node id =
    * l_orderkey·10 + l_linenumber — linenumber ≤ 7 keeps it exact and
    * collision-free); a RETURNED line loops back to the order's first
    * line (the return cycle that creates the nontrivial SCCs).
    * (l_orderkey, l_linenumber) is NOT unique in the fixtures (the
    * standing contract), so the build dedups through a groupBy first.
    * The window pass is computed ONCE (checkpointed — it feeds both
    * edge branches; un-truncated it re-executes per consumer, measured
    * 9.6 s of a 25 s cold query). The two branches are disjoint by
    * construction (fwd dst = the NEXT line, ret dst = the FIRST line
    * from a LATER line), so no distinct is needed — and every consumer
    * is a min/max aggregate or semi-join, duplicate-insensitive anyway.
    * A supplier-drain branch (every line → its supplier sink) was
    * probed and REJECTED: it tripled the edge volume and added one trim
    * round for zero SCC structure (pure sinks trim in round 1).
    */
  /** The staged per-scale-dir flow graph (StagedLayouts.flowEdges). */
  private[graft] def flowEdges(s: SparkSession, dir: String): DataFrame =
    graft.sources.StagedLayouts.flowEdges(s, dir)

  /** The inline derivation (the staging builder's input, and the
    * definition the oracles replay).
    */
  private[graft] def flowEdgesInline(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .groupBy(col("l_orderkey"), col("l_linenumber"))
      .agg(max((col("l_returnflag") === "R").cast("int")).as("ret"))
      .withColumn("id", col("l_orderkey") * 10 + col("l_linenumber"))
    val w = Window.partitionBy(col("l_orderkey")).orderBy(col("l_linenumber"))
    val chain = li
      .withColumn("nxt", lead(col("id"), 1).over(w))
      .withColumn("fst", first(col("id")).over(w))
      .localCheckpoint(true)
    val fwd = chain.where(col("nxt").isNotNull)
      .select(col("id").as("src"), col("nxt").as("dst"))
    val ret = chain.where(col("ret") === 1 && col("id") =!= col("fst"))
      .select(col("id").as("src"), col("fst").as("dst"))
    fwd.union(ret)
  }

  /** Co-occurrence (market-basket) graph: edge (p1, p2) iff both parts
    * appear in the same order. DISTINCT (order, part) first, so the
    * per-order pair expansion is bounded by basket size, never line
    * count. The relation is STAGED (materialized once per scale dir,
    * [[graft.sources.StagedLayouts.basketEdges]]) and shared by both
    * graph consumers — before staging each re-derived the identical
    * build, the one bench double-pay left in the round-9 adjudication.
    *
    * (A 2-shuffle build variant — groupBy(order) collect_set +
    * higher-order pair expansion over the sorted basket array — was
    * A/B'd (BASELINE.md, round 10): the build alone is ~1 s cheaper
    * cold, but interleaved steady-state under BOTH graph consumers
    * came out ~1 s SLOWER for triangles and neutral for k-core, so
    * the self-join form stays. At real scale the basket aggregate
    * remains the shuffle-count winner; revisit if the staged build
    * ever dominates a profile.)
    */
  private def basketEdges(s: SparkSession, dir: String): DataFrame =
    graft.sources.StagedLayouts.basketEdges(s, dir)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // 3 fixed-point PageRank iterations over the supply graph; exact
    // integer arithmetic makes the result engine- and
    // parallelism-independent (see PageRank scaladoc), so the oracle
    // replays the identical iterations as CTEs with no float slack.
    // The registered form SELF-SELECTS the ranks-broadcast from the
    // measured node count (scale-safe default; the pin was the one
    // broadcast-overflow hazard in the registry).
    "graph_pagerank" -> ((s, dir) =>
      graft.operators.PageRank.run(supplyEdges(s, dir), iters = 3)
        .orderBy(col("rank").desc, col("node"))
        .limit(100)),

    // HyperBall 3-ball size estimates (HyperBall scaladoc): per-node
    // reachability sketches iterated by register max — the per-node
    // BFS-free neighborhood function. Raw-HLL estimates computed by an
    // exact power-of-two ordered fold, so even the float column
    // hash-gates; GraphSpec pins round monotonicity and accuracy
    // against true ball sizes on sampled nodes.
    // both HyperBall consumers read the staged per-scale-dir round
    // states (StagedLayouts.hyperballStates) — the round loop runs
    // once, not once per query
    "graph_ball_sketch" -> ((s, dir) =>
      graft.operators.HyperBall
        .estimateOf(graft.sources.StagedLayouts.hyperballStates(s, dir).last)
        .select(col("node"), col("nnz"), rnd(col("est_raw"), 2).as("est_ball3"))
        .orderBy("node")),

    // HyperANF's actual deliverable: the neighborhood FUNCTION N(r)
    // and the 90% effective diameter (HyperBall.neighborhoodFunction
    // scaladoc). Per-node estimates are deterministic doubles, so
    // their per-row integer cents sum order-free and the 90% flag is
    // integer cross-multiplied — 4 rows, every column exact.
    "graph_eff_diameter" -> ((s, dir) =>
      graft.operators.HyperBall
        .neighborhoodFunctionFrom(
          graft.sources.StagedLayouts.hyperballStates(s, dir))
        .orderBy("round")),

    // weighted PageRank over the min-quantity supply graph — rank mass
    // splits by edge weight (rank·w DIV strength, all integer, same
    // engine-exactness contract); GraphSpec pins the integer-exact
    // collapse to the unweighted form under uniform weights.
    "graph_pagerank_w" -> ((s, dir) =>
      graft.operators.PageRank
        .runWeighted(weightedSupplyEdges(s, dir), iters = 3)
        .orderBy(col("rank").desc, col("node"))
        .limit(100)),

    // personalized PageRank from suppliers 1..5 — teleport mass lands
    // only on the seeds, so rank is relevance TO the seed set (the
    // recommendation primitive), in the same engine-exact integer
    // arithmetic as graph_pagerank; unreached nodes stay rank 0 and are
    // filtered. Oracle replays the seeded iterations as unrolled CTEs.
    "graph_ppr" -> ((s, dir) => {
      val seeds = Tables.supplier(s, dir)
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("node"))
      graft.operators.PageRank
        .runPersonalized(supplyEdges(s, dir), seeds, iters = 3)
        .where(col("rank") > 0)
        .orderBy(col("rank").desc, col("node"))
        .limit(100)
    }),

    // Per-node triangle participation over the part co-occurrence graph
    // via degree-ordered orientation (see Triangles scaladoc for the
    // O(E^1.5) wedge bound); the oracle replays the orientation-
    // invariant triangle set with the simple id-ordered enumeration.
    "graph_triangles" -> ((s, dir) =>
      graft.operators.Triangles.countPerNode(basketEdges(s, dir))
        .orderBy("node")),

    // 3-core of the part co-occurrence graph by fixed-3-round degree
    // peeling (KCore scaladoc: per-round degree aggregate + two
    // left-semi joins, lineage-truncated). Fixed rounds so the oracle
    // replays them as unrolled CTEs; GraphSpec proves fixed-3 reaches
    // the true fixpoint on this fixture via KCore.peelConverged.
    "graph_kcore" -> ((s, dir) =>
      graft.operators.KCore.peel(basketEdges(s, dir), k = 3, rounds = 3)
        .orderBy("node")),

    // connected components of the supply graph via hash-min + pointer
    // jumping (ConnectedComponents scaladoc: O(log d) rounds, run to
    // fixpoint with the label-sum audit). The fixpoint labeling — every
    // node mapped to its component's min id — is algorithm-independent,
    // so the oracle replays plain unrolled hash-min rounds; 8 rounds
    // covers the fixture graph's diameter with margin and GraphSpec
    // pins the Spark side's convergence and the jump-vs-plain round
    // advantage.
    "graph_cc" -> ((s, dir) =>
      graft.operators.ConnectedComponents.run(supplyEdges(s, dir))
        .orderBy("node")),

    // strongly connected components of the DIRECTED fulfillment-flow
    // graph (flowEdges below: per-order line chains forward, RETURNED
    // lines loop back to the order's first line) via fixed-round trim
    // + coloring (Scc scaladoc). The depths are SCHEMA-bounded, not
    // data-bounded: an order carries ≤ 7 lines, so a loop-free chain
    // trims head+tail-inward in ≤ 4 rounds and a loop's tail peels one
    // line per round from the far end in ≤ 5 (loops span ≥ 2 lines);
    // the longest in-color path is ≤ 6 edges (≤ 5 chain hops + the
    // back edge), so propagation converges in ≤ 6 rounds — at ANY
    // corpus scale, and after trim the alive set is exactly the
    // disjoint per-order return loops, so ONE peel settles everything
    // (probed: sf0.001 trim 4/prop 5, sf0.01 trim 5/prop 6, 1 peel,
    // coloring ≡ Tarjan). The web-graph-bowtie structure is live at
    // the gate: 8,621 nontrivial SCCs of sizes 2–7 plus 19k singletons
    // at sf0.01. The 18-round ladder runs ONCE per scale dir
    // (StagedLayouts.sccLabels — the lpaLabels staging precedent: the
    // SCC batch checkpoints its labeling and both this query and
    // graph_scc_condense serve from the |V|-row artifact; GraphSpec
    // additionally pins the UNSTAGED operator ≡ Tarjan directly).
    // Oracle = the identical unrolled trim/color/settle CTE chain;
    // GraphSpec replays driver Tarjan and pins equality plus a
    // designed cycle+DAG toy.
    "graph_scc" -> ((s, dir) =>
      graft.sources.StagedLayouts.sccLabels(s, dir).orderBy("node")),

    // the CONDENSATION DAG of graph_scc's labeling — the bowtie
    // analysis a link graph runs downstream of SCC: collapse each SCC
    // to a super-node and report member count, internal edge count,
    // distinct successor-SCC count, and DEPTH = the longest path from
    // any source SCC in the condensation (exact integer max-prop,
    // fixed 6 rounds — the condensation depth is bounded by the order
    // chain length, the graph_scc schema argument). Labels come from
    // the per-scale-dir staged SCC table (StagedLayouts.sccLabels —
    // the lpaLabels/brandesForward staging shape: the SCC batch
    // checkpoints once, every downstream analysis scans |V| rows).
    // Scale: two label joins streaming the edge list, map-side-combined
    // counts, and the depth rounds run on the |SCC|-sized condensation,
    // never the node graph.
    "graph_scc_condense" -> ((s, dir) => {
      val lbl = graft.sources.StagedLayouts.sccLabels(s, dir)
      val le = flowEdges(s, dir)
        .join(lbl.select(col("node").as("src"), col("scc_id").as("s_s")), "src")
        .join(lbl.select(col("node").as("dst"), col("scc_id").as("s_d")), "dst")
        .localCheckpoint(true) // feeds internal counts AND cond edges
      val internal = le.where(col("s_s") === col("s_d"))
        .groupBy(col("s_s").as("scc_id")).agg(count(lit(1)).as("n_internal"))
      val cond = le.where(col("s_s") =!= col("s_d"))
        .select(col("s_s"), col("s_d")).distinct()
        .localCheckpoint(true) // feeds out-degree AND every depth round
      val outdeg = cond.groupBy(col("s_s").as("scc_id"))
        .agg(count(lit(1)).as("n_out"))
      lbl.groupBy(col("scc_id")).agg(count(lit(1)).as("n_nodes"))
        .join(internal, Seq("scc_id"), "left")
        .join(outdeg, Seq("scc_id"), "left")
        .join(condenseDepths(lbl, cond, rounds = 6), Seq("scc_id"), "left")
        .select(col("scc_id"), col("n_nodes"),
          coalesce(col("n_internal"), lit(0L)).as("n_internal"),
          coalesce(col("n_out"), lit(0L)).as("n_out"),
          coalesce(col("depth0"), lit(0L)).as("depth"))
        .orderBy("scc_id")
    }),

    // 3-round deterministic label-propagation communities over the
    // supply graph (LabelProp scaladoc: plurality label, ties to the
    // smallest — fixed rounds because synchronous LPA has no guaranteed
    // fixpoint). The oracle replays the identical rounds; the argmax is
    // integer-exact on both engines.
    // labels come from the per-scale-dir staged partition table
    // (StagedLayouts.lpaLabels — the basket-edges staging shape),
    // shared with graph_modularity; oracle rows unchanged.
    "graph_label_prop" -> ((s, dir) =>
      graft.sources.StagedLayouts.lpaLabels(s, dir)
        .orderBy("node")),

    // Newman modularity of that partition (Modularity scaladoc): the
    // SCORE half of community detection. Exact per-community
    // numerators q_num = M·i_c − d_c² over the shared M² denominator,
    // formed in DECIMAL(38,0) (Modularity.qNumExact — exact past the
    // 2^63 wrap a BIGINT d_c² hits at ~3·10⁹ directed edges; GraphSpec
    // pins the boundary against BigInt) — no float anywhere, exact
    // hash gate; the 1-row edge count rides a broadcast, never a
    // collect. Oracle re-derives the labels through the identical
    // unrolled LPA rounds, then the same decimal algebra. The exact
    // q_num leaves the registry as its canonical integer STRING
    // (Modularity scaladoc output-encoding discipline — parquet
    // int128 decimals hash-diverge across readers; text doesn't).
    "graph_modularity" -> ((s, dir) =>
      graft.operators.Modularity
        .score(supplyEdges(s, dir),
          graft.sources.StagedLayouts.lpaLabels(s, dir))
        .withColumn("q_num", col("q_num").cast("string"))
        .orderBy("community")),

    // modularity-guided partition TUNING (Modularity.sweep scaladoc):
    // Q's exact numerator for the staged LPA partitions at round
    // counts 1..4 (StagedLayouts.lpaLabelStates — one loop run staged,
    // the brandesForward discipline), argmax flagged. Degrees + M are
    // computed once and shared; each extra candidate costs exactly one
    // edge-list scan (its intra count). Same denominator M² across
    // candidates, so comparing numerators IS comparing Q — no division
    // ever forms. Oracle re-derives all four label states through ONE
    // materialized unrolled LPA chain, then the same decimal algebra
    // and window-max argmax.
    // q_num_sum exits as canonical integer string (argmax `best` is
    // still decided on the exact decimal inside Modularity.sweep)
    "graph_modularity_sweep" -> ((s, dir) =>
      graft.operators.Modularity
        .sweep(supplyEdges(s, dir),
          graft.sources.StagedLayouts.lpaLabelStates(s, dir))
        .withColumn("q_num_sum", col("q_num_sum").cast("string"))
        .orderBy("rounds")),

    // one distributed Louvain local-move half-sweep over the staged
    // LPA partition (Modularity.louvainStep scaladoc — Blondel et al.
    // 2008): eligible (even-parity) nodes take their best
    // strictly-positive exact-integer modularity gain; red-black
    // parity breaks the synchronous-swap pathology (measured: the
    // full-sweep form flips all 2100 fixture nodes for zero Q change;
    // the half-sweep lifts the exact Q numerator −5.35e9 → +6.2e6)
    "graph_louvain_step" -> ((s, dir) =>
      graft.operators.Modularity.louvainStep(supplyEdges(s, dir),
          graft.sources.StagedLayouts.lpaLabels(s, dir), parity = 0)
        .withColumn("gain_num", col("gain_num").cast("string"))
        .orderBy("node")),

    // the COMPLETE fixed-2-level Louvain driver (Modularity.louvainMulti
    // scaladoc — Blondel et al. 2008's outer loop unrolled), from the
    // published SINGLETON initialization (every node its own community
    // — NOT the staged LPA labels: those have already collapsed the
    // fixture to 2 communities by round 3, leaving level 2 vacuous;
    // measured before build): move on the input graph → contract →
    // move on the weighted super-graph. One row per original node,
    // (node, c1, c2) all BIGINT — level-1 and final community.
    // One half-sweep merges at most half the nodes, so level 2 runs
    // over a ~2×-smaller graph (NOT |C|² triviality — Modularity
    // .louvainMulti scaladoc, measured); GraphSpec pins that level 2
    // merges super-nodes and Q(c2) ≥ Q(c1) on the fixture (measured:
    // sf0.001 lifts the exact Q numerator −1,448,502 → −369,994 with
    // 100 level-2 moves; sf0.01 −3.75e7 → +6.43e7 with 218).
    "graph_louvain_multi" -> ((s, dir) =>
      graft.operators.Modularity.louvainMulti(supplyEdges(s, dir))
        .orderBy("node")),

    // the FREE-CONVERGENCE Louvain driver (Modularity.louvainFit
    // scaladoc) — the published outer loop run as a best-of ladder
    // with patience-2 dry-stop: the distributed half-sweep is one
    // PARALLEL inner iteration and can overshoot (the fixture's level
    // 1 DIPS below singletons before level 2 recovers past them —
    // measured, see the scaladoc), so the driver returns the best
    // partition visited rather than gating each level strictly. Level
    // count is data-dependent → DECLARED rows-only (the kmeans_fit
    // pattern); GraphSpec cross-checks best-of-2 == the hash-gated
    // graph_louvain_multi twin and pins Q(fit) ≥ Q(multi.c2) ≥ ...
    // ≥ Q(singleton). One 1-row collect per level (the K-row
    // discipline).
    "graph_louvain_fit" -> ((s, dir) =>
      graft.operators.Modularity.louvainFit(supplyEdges(s, dir))
        .orderBy("node")),

    // Louvain phase 2 over the REFINED partition: the half-sweep's
    // new_community labels contracted into the super-node graph
    // (Modularity.coarsen scaladoc) — the two registered queries
    // compose exactly as the published algorithm alternates (move,
    // contract, repeat on the small graph)
    "graph_louvain_coarsen" -> ((s, dir) => {
      val moved = graft.operators.Modularity
        .louvainStep(supplyEdges(s, dir),
          graft.sources.StagedLayouts.lpaLabels(s, dir), parity = 0)
        .select(col("node"), col("new_community").as("community"))
      graft.operators.Modularity.coarsen(supplyEdges(s, dir), moved)
        .orderBy("c_src", "c_dst")
    }),

    // 3-hop multi-source BFS over the bipartite supply graph from
    // suppliers 1..5 — frontier form, so per-round work is the frontier
    // expansion, not the whole distance table (Bfs scaladoc). Hop
    // distance is a min over paths, hence order-free; the oracle
    // replays the identical frontier rounds as unrolled CTEs.
    "graph_bfs" -> ((s, dir) => {
      val seeds = Tables.supplier(s, dir)
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("node"))
      graft.operators.Bfs.run(supplyEdges(s, dir), seeds, rounds = 3)
        .orderBy("node")
    }),

    // minimum spanning forest of the weighted supply graph via
    // Borůvka (Mst scaladoc: per-component min-edge picks under the
    // (w, a, b) total order, contracted-graph CC merges, fixed 5
    // rounds with a loud completeness guard; measured 2/3/4/4 rounds
    // on the gate fixtures). GraphSpec pins total weight and edge set
    // against a driver Kruskal.
    "graph_mst" -> ((s, dir) =>
      graft.operators.Mst.boruvka(s, weightedSupplyEdges(s, dir),
        rounds = MstRounds)),

    // weighted shortest paths (3-round Bellman-Ford) over the supply
    // graph with integer edge weights = min quantity per (supplier,
    // part) — cheapest routes, not fewest hops. Spark runs the DELTA
    // form (only improved nodes propagate); the oracle replays the
    // provably-equal full relaxation as unrolled CTEs (Sssp scaladoc).
    "graph_sssp" -> ((s, dir) => {
      val seeds = Tables.supplier(s, dir)
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("node"))
      graft.operators.Sssp.run(weightedSupplyEdges(s, dir), seeds, rounds = 3)
        .orderBy("node")
    }),

    // harmonic centrality from the same seeded sources (Betweenness
    // .harmonic scaladoc): the forward Brandes pass + one integer
    // aggregate — Σ scale div d(s,v) over reaching sources; unreached
    // pairs contribute 0 by harmonic's definition, which is what makes
    // the sampled estimator well-defined on disconnected graphs. The
    // forward (s, node, dist, σ) frame is STAGED once per scale dir
    // (StagedLayouts.brandesForward — the HyperBall packedStates
    // precedent) and shared with graph_betweenness, which runs the
    // identical pass; oracle rows are unchanged by staging.
    "graph_harmonic" -> ((s, dir) =>
      graft.operators.Betweenness
        .harmonicFromForward(
          graft.sources.StagedLayouts.brandesForward(s, dir), scale = 10000L)
        .orderBy(col("hc_scaled").desc, col("node"))),

    // approximate betweenness centrality (Betweenness scaladoc):
    // Brandes dependency accumulation from the same 5 seeded sources,
    // depth 3 — forward BFS rounds carrying exact integer path counts
    // (read from the SAME staged forward frame as graph_harmonic),
    // backward level-keyed joins carrying fixed-point (×10^4) scaled
    // dependencies with truncating integer division, so the oracle
    // replays both passes as unrolled CTEs under the exact hash gate.
    "graph_betweenness" -> ((s, dir) =>
      graft.operators.Betweenness
        .runFromForward(
          graft.sources.StagedLayouts.brandesForward(s, dir),
          supplyEdges(s, dir), rounds = 3, scale = 10000L)
        .orderBy(col("bc_scaled").desc, col("node"))))

  /** Weighted bipartite supply graph: both directions of each distinct
    * (supplier, part) pair, edge weight = min lineitem quantity for the
    * pair (an exact small integer in the fixtures — BIGINT on both
    * engines). One map-side-combined aggregate builds it.
    */
  // Borůvka rounds: measured 2 (sf0.001) / 3 (sf0.01) / 4 (sf0.1,
  // derived — disjoint key-shifted copies merge in the same depth as
  // one copy) → 5 carries margin; inner merge hash-min depth measured
  // ≤ 10 → 12. Spark throws on under-run (Mst guard); a deeper graph
  // fails the oracle loudly as a hash mismatch.
  private val MstRounds = 5
  private val MstInnerRounds = 12

  /** SQL twin of Mst.boruvka: the identical fixed outer rounds —
    * cross-component edge filter, per-component (w, a, b) min pick via
    * row_number, contracted merge graph settled by `MstInnerRounds`
    * plain hash-min rounds, label relabel through a left join. Every
    * round CTE MATERIALIZED (multiply referenced).
    */
  private def mstSql(rounds: Int, inner: Int): String = {
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += """canon AS MATERIALIZED (
      |  SELECT least(sup, prt) AS a, greatest(sup, prt) AS b, w FROM (
      |    SELECT l_suppkey AS sup, 100000 + l_partkey AS prt,
      |           CAST(min(l_quantity) AS BIGINT) AS w
      |    FROM lineitem GROUP BY 1, 2))""".stripMargin
    ctes += """c0 AS MATERIALIZED (
      |  SELECT v AS node, v AS comp FROM (
      |    SELECT a AS v FROM canon UNION SELECT b AS v FROM canon))""".stripMargin
    (1 to rounds).foreach { r =>
      ctes += s"""e$r AS MATERIALIZED (
        |  SELECT ca.comp AS cu, cb.comp AS cv, t.w, t.a, t.b
        |  FROM canon t
        |  JOIN c${r - 1} ca ON ca.node = t.a
        |  JOIN c${r - 1} cb ON cb.node = t.b
        |  WHERE ca.comp <> cb.comp)""".stripMargin
      ctes += s"""pk$r AS MATERIALIZED (
        |  SELECT DISTINCT w, a, b FROM (
        |    SELECT *, row_number() OVER (PARTITION BY c ORDER BY w, a, b) AS rk
        |    FROM (SELECT cu AS c, w, a, b FROM e$r
        |          UNION ALL SELECT cv AS c, w, a, b FROM e$r))
        |  WHERE rk = 1)""".stripMargin
      ctes += s"""me$r AS MATERIALIZED (
        |  SELECT ca.comp AS src, cb.comp AS dst FROM pk$r t
        |  JOIN c${r - 1} ca ON ca.node = t.a
        |  JOIN c${r - 1} cb ON cb.node = t.b
        |  UNION ALL
        |  SELECT cb.comp AS src, ca.comp AS dst FROM pk$r t
        |  JOIN c${r - 1} ca ON ca.node = t.a
        |  JOIN c${r - 1} cb ON cb.node = t.b)""".stripMargin
      ctes += s"""m${r}_0 AS MATERIALIZED (
        |  SELECT DISTINCT src AS d, src AS lbl FROM me$r)""".stripMargin
      (1 to inner).foreach { i =>
        ctes += s"""m${r}_$i AS MATERIALIZED (SELECT d, min(lbl) AS lbl FROM (
          |  SELECT d, lbl FROM m${r}_${i - 1}
          |  UNION ALL
          |  SELECT e.src AS d, l.lbl FROM me$r e JOIN m${r}_${i - 1} l ON l.d = e.dst
          |) GROUP BY d)""".stripMargin
      }
      ctes += s"""c$r AS MATERIALIZED (
        |  SELECT c.node, coalesce(m.lbl, c.comp) AS comp
        |  FROM c${r - 1} c LEFT JOIN m${r}_$inner m ON m.d = c.comp)""".stripMargin
      ctes += (if (r == 1) s"mst1 AS MATERIALIZED (SELECT w, a, b FROM pk1)"
        else s"""mst$r AS MATERIALIZED (
          |  SELECT w, a, b FROM mst${r - 1}
          |  UNION ALL SELECT w, a, b FROM pk$r)""".stripMargin)
    }
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT a, b, w FROM mst$rounds ORDER BY a, b""".stripMargin
  }

  private def weightedSupplyEdges(s: SparkSession, dir: String): DataFrame = {
    val pairs = Tables.lineitem(s, dir)
      .groupBy(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
    pairs.select(col("sup").as("src"), col("prt").as("dst"), col("w"))
      .unionAll(pairs.select(col("prt").as("src"), col("sup").as("dst"), col("w")))
  }

  /** (scc_id, depth0): the longest path from any source SCC over the
    * condensation edges `cond` (s_s, s_d), by `rounds` synchronous
    * max-prop rounds from depth 0 — graph_scc_condense's depth.
    * Two-regime (the Scc.sccDriver pattern): the condensation is
    * |SCC|-sized, so under the [[graft.operators.DriverRegime]] gate
    * the IDENTICAL synchronous recurrence replays on the collected
    * cond edges. Depths of SCCs untouched by any super-edge are 0 in
    * both forms (the distributed init seeds every scc_id of `lbl` with
    * 0 and max-prop only raises reachable ones), so the driver branch
    * omits them and the caller joins LEFT + coalesce(0).
    */
  private[graft] def condenseDepths(lbl: DataFrame, cond: DataFrame,
      rounds: Int): DataFrame =
    DriverRegime.pull(cond) match {
      case Some(condRows) =>
        var m = scala.collection.mutable.LongMap.empty[Long]
        condRows.foreach { r =>
          m.getOrElseUpdate(r.getLong(0), 0L)
          m.getOrElseUpdate(r.getLong(1), 0L)
        }
        (1 to rounds).foreach { _ =>
          val next = m.clone()
          condRows.foreach { r =>
            val cand = m(r.getLong(0)) + 1L
            if (cand > next(r.getLong(1))) next.update(r.getLong(1), cand)
          }
          m = next
        }
        DriverRegime.frame(cond.sparkSession,
          m.toSeq.map(t => Row(t._1, t._2)),
          DriverRegime.schema("scc_id" -> LongType, "depth0" -> LongType))
      case None =>
        var d = lbl.select(col("scc_id").as("v")).distinct()
          .withColumn("d", lit(0L))
        (1 to rounds).foreach { _ =>
          d = d.unionAll(
              cond.join(d.select(col("v").as("s_s"), col("d")), "s_s")
                .select(col("s_d").as("v"), (col("d") + lit(1L)).as("d")))
            .groupBy(col("v")).agg(max(col("d")).as("d"))
            .localCheckpoint(true)
        }
        d.select(col("v").as("scc_id"), col("d").as("depth0"))
    }

  /** Unrolled trim + coloring SCC rounds — the exact Scc.scc chain:
    * `trimRounds` alive-set reductions (keep nodes with an in-edge AND
    * an out-edge among alive), forward min-label rounds to color,
    * backward min-label rounds within the color to settle, trimmed
    * nodes labeling themselves. Every CTE MATERIALIZED (each round
    * references its predecessor more than once — the documented DuckDB
    * re-execution hazard).
    */
  private def sccSql(trimRounds: Int, propRounds: Int): String =
    s"""WITH ${sccCtes(trimRounds, propRounds)}
       |SELECT node, scc_id FROM scc ORDER BY node""".stripMargin

  private def sccCtes(trimRounds: Int, propRounds: Int): String = {
    val trimCtes = (1 to trimRounds).map { i =>
      s"""a$i AS MATERIALIZED (
         |  SELECT a.v FROM a${i - 1} a
         |  JOIN (SELECT DISTINCT e.src AS v FROM e
         |    JOIN a${i - 1} t ON e.dst = t.v) o ON o.v = a.v
         |  JOIN (SELECT DISTINCT e.dst AS v FROM e
         |    JOIN a${i - 1} t2 ON e.src = t2.v) i2 ON i2.v = a.v)""".stripMargin
    }.mkString(",\n")
    val fCtes = (1 to propRounds).map { i =>
      s"""f$i AS MATERIALIZED (
         |  SELECT f.v, least(f.f, coalesce(m.mf, f.f)) AS f FROM f${i - 1} f
         |  LEFT JOIN (SELECT ea.dst AS v, min(p.f) AS mf
         |    FROM ea JOIN f${i - 1} p ON ea.src = p.v GROUP BY ea.dst) m
         |  ON m.v = f.v)""".stripMargin
    }.mkString(",\n")
    val bCtes = (1 to propRounds).map { i =>
      s"""b$i AS MATERIALIZED (
         |  SELECT b.v, least(b.b, coalesce(m.mb, b.b)) AS b FROM b${i - 1} b
         |  LEFT JOIN (SELECT ec.src AS v, min(p.b) AS mb
         |    FROM ec JOIN b${i - 1} p ON ec.dst = p.v GROUP BY ec.src) m
         |  ON m.v = b.v)""".stripMargin
    }.mkString(",\n")
    s"""li AS MATERIALIZED (
       |  SELECT l_orderkey, l_linenumber,
       |    max(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS ret,
       |    CAST(l_orderkey * 10 + l_linenumber AS BIGINT) AS id
       |  FROM lineitem GROUP BY l_orderkey, l_linenumber
       |), ch AS MATERIALIZED (
       |  SELECT id, ret,
       |    lead(id) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS nxt,
       |    first_value(id) OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) AS fst
       |  FROM li
       |), e AS MATERIALIZED (
       |  SELECT id AS src, nxt AS dst FROM ch WHERE nxt IS NOT NULL
       |  UNION ALL
       |  SELECT id, fst FROM ch WHERE ret = 1 AND id <> fst
       |), a0 AS MATERIALIZED (
       |  SELECT DISTINCT v FROM (SELECT src AS v FROM e UNION ALL SELECT dst FROM e)
       |),
       |$trimCtes,
       |ea AS MATERIALIZED (SELECT e.src, e.dst FROM e
       |  JOIN a$trimRounds x ON e.src = x.v JOIN a$trimRounds y ON e.dst = y.v),
       |f0 AS (SELECT v, v AS f FROM a$trimRounds),
       |$fCtes,
       |ec AS MATERIALIZED (SELECT ea.src, ea.dst FROM ea
       |  JOIN f$propRounds fs ON ea.src = fs.v
       |  JOIN f$propRounds fd ON ea.dst = fd.v WHERE fs.f = fd.f),
       |b0 AS (SELECT v, v AS b FROM a$trimRounds),
       |$bCtes,
       |scc AS MATERIALIZED (
       |  SELECT a.v AS node, a.v AS scc_id FROM a0 a
       |  WHERE a.v NOT IN (SELECT v FROM a$trimRounds)
       |  UNION ALL
       |  SELECT f.v, f.f FROM f$propRounds f JOIN b$propRounds b ON f.v = b.v
       |  WHERE b.b = f.f
       |)""".stripMargin
  }

  /** Unrolled condensation-DAG rounds over [[sccCtes]]'s `scc` table —
    * the graph_scc_condense twin: labeled edges, internal counts,
    * distinct super-edges, and `depthRounds` exact longest-path
    * max-propagation rounds on the DAG.
    */
  private def sccCondenseSql(trimRounds: Int, propRounds: Int,
      depthRounds: Int): String = {
    val depthCtes = (1 to depthRounds).map { i =>
      s"""dp$i AS MATERIALIZED (SELECT v, max(d) AS d FROM (
         |  SELECT v, d FROM dp${i - 1}
         |  UNION ALL
         |  SELECT ce.s_d AS v, p.d + 1 AS d
         |  FROM dp${i - 1} p JOIN ce ON ce.s_s = p.v
         |) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    s"""WITH ${sccCtes(trimRounds, propRounds)},
       |le AS MATERIALIZED (
       |  SELECT ls.scc_id AS s_s, ld.scc_id AS s_d FROM e
       |  JOIN scc ls ON e.src = ls.node
       |  JOIN scc ld ON e.dst = ld.node
       |), ce AS MATERIALIZED (
       |  SELECT DISTINCT s_s, s_d FROM le WHERE s_s <> s_d
       |), dp0 AS (
       |  SELECT DISTINCT scc_id AS v, CAST(0 AS BIGINT) AS d FROM scc
       |),
       |$depthCtes
       |SELECT s.scc_id, count(*) AS n_nodes,
       |  coalesce(i.n_internal, CAST(0 AS BIGINT)) AS n_internal,
       |  coalesce(o.n_out, CAST(0 AS BIGINT)) AS n_out,
       |  CAST(d.d AS BIGINT) AS depth
       |FROM scc s
       |LEFT JOIN (SELECT s_s AS scc_id, count(*) AS n_internal
       |  FROM le WHERE s_s = s_d GROUP BY 1) i ON i.scc_id = s.scc_id
       |LEFT JOIN (SELECT s_s AS scc_id, count(*) AS n_out
       |  FROM ce GROUP BY 1) o ON o.scc_id = s.scc_id
       |JOIN dp$depthRounds d ON d.v = s.scc_id
       |GROUP BY s.scc_id, i.n_internal, o.n_out, d.d
       |ORDER BY s.scc_id""".stripMargin
  }

  /** Unrolled peel rounds — each round recomputes degrees over the
    * surviving edge set and keeps edges whose BOTH endpoints still
    * clear k, exactly the Spark loop's semantics.
    */
  private def kcoreSql(k: Int, rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""n$i AS MATERIALIZED (SELECT src FROM (
         |  SELECT src, count(*) AS d FROM e${i - 1} GROUP BY src) WHERE d >= $k),
         |e$i AS MATERIALIZED (SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN n$i a ON e.src = a.src JOIN n$i b ON e.dst = b.src)""".stripMargin
    }.mkString(",\n")
    s"""WITH op AS (
       |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
       |), ue AS (
       |  SELECT DISTINCT a.p AS u, b.p AS v
       |  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
       |), e0 AS MATERIALIZED (
       |  SELECT u AS src, v AS dst FROM ue
       |  UNION ALL SELECT v AS src, u AS dst FROM ue
       |),
       |$roundCtes
       |SELECT src AS node, CAST(count(*) AS BIGINT) AS deg
       |FROM e$rounds GROUP BY src ORDER BY node""".stripMargin
  }

  /** Unrolled plain hash-min rounds over the supply graph — valid as the
    * [[graft.operators.ConnectedComponents]] oracle because the FIXPOINT
    * labeling (node → component min id) is the same whatever schedule
    * reaches it; `rounds` must cover the fixture graph's min-label
    * propagation depth. Measured: fixpoint in 4 rounds at BOTH sf0.01
    * and sf0.1 (the derived sf1.0 is 10 disjoint key-shifted copies of
    * the sf0.1 graph, so per-copy depth is identical) — rounds = 8 is a
    * 2× margin, and a depth overrun fails the gate LOUDLY as a hash
    * mismatch, never silently.
    */
  private def ccSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT d, min(lbl) AS lbl FROM (
         |  SELECT d, lbl FROM l${i - 1}
         |  UNION ALL
         |  SELECT e.src AS d, l.lbl FROM edges e JOIN l${i - 1} l ON l.d = e.dst
         |) GROUP BY d)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT sup AS src, prt AS dst FROM pairs
       |  UNION ALL
       |  SELECT prt AS src, sup AS dst FROM pairs
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS d, src AS lbl FROM edges
       |),
       |$roundCtes
       |SELECT d AS node, lbl AS comp FROM l$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled synchronous LPA rounds — per round: (node, neighbor-label)
    * counts, then the plurality label with ties to the smallest, exactly
    * [[graft.operators.LabelProp]]'s min(struct(−count, label)).
    */
  /** The LPA round chain as a WITH-body (pairs, edges, l0, rounds) —
    * shared by [[lpaSql]] and [[modularitySql]] so the scoring oracle
    * re-derives the labels through the identical unrolled rounds.
    */
  private def lpaCtes(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""c$i AS (SELECT e.src AS d, l.lbl, count(*) AS c
         |  FROM edges e JOIN l${i - 1} l ON l.d = e.dst GROUP BY 1, 2),
         |l$i AS MATERIALIZED (SELECT d, lbl FROM (
         |  SELECT d, lbl,
         |    row_number() OVER (PARTITION BY d ORDER BY c DESC, lbl ASC) AS rk
         |  FROM c$i) WHERE rk = 1)""".stripMargin
    }.mkString(",\n")
    s"""pairs AS (
       |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT sup AS src, prt AS dst FROM pairs
       |  UNION ALL
       |  SELECT prt AS src, sup AS dst FROM pairs
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS d, src AS lbl FROM edges
       |),
       |$roundCtes""".stripMargin
  }

  private def lpaSql(rounds: Int): String =
    s"""WITH ${lpaCtes(rounds)}
       |SELECT d AS node, lbl AS community FROM l$rounds ORDER BY node""".stripMargin

  /** `graph_modularity`'s oracle: labels through the identical LPA
    * chain, then the exact per-community algebra q_num = M·i_c − d_c²
    * (Modularity scaladoc) — counts/sums in BIGINT, both products
    * formed as DECIMAL(19,0)×DECIMAL(19,0) → DECIMAL(38,0) exactly
    * like Modularity.qNumExact, no float anywhere; q_num exits as its
    * canonical VARCHAR (the registry's decimal-output re-encoding —
    * both engines render an exact scale-0 decimal as the same text).
    * `ds` is labels-driven (LEFT JOIN deg) like Modularity.score, so
    * zero-out-degree labeled nodes still count in n_nodes.
    */
  private def modularitySql(rounds: Int): String =
    s"""WITH ${lpaCtes(rounds)},
       |lab AS MATERIALIZED (SELECT d AS node, lbl AS community FROM l$rounds),
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m_dir FROM edges),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
       |  FROM edges GROUP BY 1),
       |ds AS (SELECT l.community,
       |    CAST(sum(coalesce(g.d, 0)) AS BIGINT) AS d_sum,
       |    CAST(count(*) AS BIGINT) AS n_nodes
       |  FROM lab l LEFT JOIN deg g USING (node) GROUP BY 1),
       |ia AS (SELECT a.community, CAST(count(*) AS BIGINT) AS e_dir
       |  FROM edges e JOIN lab a ON a.node = e.src
       |  JOIN lab b ON b.node = e.dst AND b.community = a.community
       |  GROUP BY 1)
       |SELECT ds.community, ds.n_nodes,
       |  coalesce(ia.e_dir, CAST(0 AS BIGINT)) AS e_dir, ds.d_sum,
       |  CAST(CAST(CAST((SELECT m_dir FROM mm) AS DECIMAL(19,0))
       |      * CAST(coalesce(ia.e_dir, CAST(0 AS BIGINT)) AS DECIMAL(19,0))
       |    - CAST(ds.d_sum AS DECIMAL(19,0)) * CAST(ds.d_sum AS DECIMAL(19,0))
       |    AS DECIMAL(38,0)) AS VARCHAR) AS q_num,
       |  (SELECT m_dir FROM mm) AS m_dir
       |FROM ds LEFT JOIN ia ON ia.community = ds.community
       |ORDER BY ds.community""".stripMargin

  /** Shared Louvain local-move CTE chain (labels through the LPA
    * replay, degrees, community sums, neighbor-link counts, candidate
    * gains, per-node best move) — ends with the `best` CTE. Both
    * louvainStepSql and louvainCoarsenSql compose their final SELECT
    * on top of this ONE builder (the former string-slicing reuse broke
    * silently on any textual edit to the step SQL's tail).
    * `base` LEFT-joins deg and dsum like Modularity.louvainStep, so a
    * labeled node with no outgoing edges still emits a row (k_i 0).
    */
  private def louvainChainCtes(rounds: Int): String =
    s"""${lpaCtes(rounds)},
       |lab AS MATERIALIZED (SELECT d AS node, lbl AS community FROM l$rounds),
       |$louvainMoveCtes""".stripMargin

  /** The move-phase CTEs alone (degrees → community sums → link counts
    * → candidate gains → per-node best), referencing `edges` and `lab`
    * from the caller's chain — composed by [[louvainChainCtes]] (LPA
    * labels) and [[louvainMultiSql]] (singleton labels).
    */
  private val louvainMoveCtes: String =
    s"""deg AS MATERIALIZED (SELECT src AS node, CAST(count(*) AS BIGINT) AS k
       |  FROM edges GROUP BY 1),
       |mm AS (SELECT CAST(sum(k) AS BIGINT) AS m_dir FROM deg),
       |dsum AS MATERIALIZED (SELECT community,
       |    CAST(sum(coalesce(k, 0)) AS BIGINT) AS d_c
       |  FROM lab LEFT JOIN deg USING (node) GROUP BY community),
       |kic AS MATERIALIZED (SELECT e.src AS node, lab.community AS cn,
       |    CAST(count(*) AS BIGINT) AS k_ic
       |  FROM edges e JOIN lab ON lab.node = e.dst GROUP BY 1, 2),
       |base AS (SELECT lab.node, lab.community,
       |    coalesce(deg.k, CAST(0 AS BIGINT)) AS k_i,
       |    coalesce(ka.k_ic, CAST(0 AS BIGINT)) AS k_ia, da.d_c AS d_a
       |  FROM lab LEFT JOIN deg USING (node)
       |  LEFT JOIN kic ka ON ka.node = lab.node AND ka.cn = lab.community
       |  JOIN dsum da ON da.community = lab.community),
       |cand AS (SELECT b.node, b.community, kic.cn,
       |    CAST(CAST(m.m_dir AS DECIMAL(19,0)) * CAST(kic.k_ic - b.k_ia AS DECIMAL(19,0))
       |      - CAST(b.k_i AS DECIMAL(19,0)) * CAST(db.d_c - b.d_a AS DECIMAL(19,0))
       |      - CAST(b.k_i AS DECIMAL(19,0)) * CAST(b.k_i AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) AS gain
       |  FROM base b JOIN kic ON kic.node = b.node AND kic.cn <> b.community
       |  JOIN dsum db ON db.community = kic.cn CROSS JOIN mm m
       |  WHERE b.node % 2 = 0),
       |best AS (SELECT node, cn, gain FROM (SELECT node, cn, gain,
       |    row_number() OVER (PARTITION BY node ORDER BY gain DESC, cn ASC) AS rk
       |  FROM cand) WHERE rk = 1)""".stripMargin

  /** `graph_louvain_step`'s oracle: labels through the identical LPA
    * chain, then the exact half-gain algebra
    * gain = M·(k_iB − k_iA) − k_i·(d_B − d_A) − k_i² in the same
    * DECIMAL(19,0)→(38,0) widening; eligibility node % 2 = 0, ties on
    * (gain DESC, target ASC), stayers and ineligible emit gain 0.
    * gain_num exits as canonical VARCHAR (decimal re-encoding).
    */
  private def louvainStepSql(rounds: Int): String =
    s"""WITH ${louvainChainCtes(rounds)}
       |SELECT b.node, b.community,
       |  CASE WHEN bt.gain > 0 THEN bt.cn ELSE b.community END AS new_community,
       |  CAST(coalesce(CASE WHEN bt.gain > 0 THEN bt.gain END,
       |    CAST(0 AS DECIMAL(38,0))) AS VARCHAR) AS gain_num
       |FROM base b LEFT JOIN best bt ON bt.node = b.node
       |ORDER BY b.node""".stripMargin

  /** `graph_louvain_coarsen`'s oracle: the louvainStep chain's refined
    * labels contracted — two label joins + a grouped count.
    */
  private def louvainCoarsenSql(rounds: Int): String =
    s"""WITH ${louvainChainCtes(rounds)},
       |refined AS MATERIALIZED (
       |  SELECT b.node, CASE WHEN bt.gain > 0 THEN bt.cn ELSE b.community END AS community
       |  FROM base b LEFT JOIN best bt ON bt.node = b.node)
       |SELECT la.community AS c_src, lb.community AS c_dst,
       |  CAST(count(*) AS BIGINT) AS w
       |FROM edges e JOIN refined la ON la.node = e.src
       |JOIN refined lb ON lb.node = e.dst
       |GROUP BY 1, 2 ORDER BY c_src, c_dst""".stripMargin

  /** `graph_louvain_multi`'s oracle: the move chain from the published
    * SINGLETON initialization (level 1), contracted into the weighted
    * super-graph, then the WEIGHTED half-sweep replayed — degrees are
    * weight sums INCLUDING self-loops, neighbor link weights EXCLUDE
    * self-edges, same decimal gain algebra, same parity/tie-break
    * (Modularity.louvainStepWeighted scaladoc). Final map-back: each
    * node's level-1 super-node carries it to its level-2 home.
    */
  private def louvainMultiSql: String =
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT sup AS src, prt AS dst FROM pairs
       |  UNION ALL
       |  SELECT prt AS src, sup AS dst FROM pairs
       |),
       |lab AS MATERIALIZED (
       |  SELECT DISTINCT src AS node, src AS community FROM edges),
       |$louvainMoveCtes,
       |l1lab AS MATERIALIZED (
       |  SELECT b.node, CASE WHEN bt.gain > 0 THEN bt.cn ELSE b.community END AS community
       |  FROM base b LEFT JOIN best bt ON bt.node = b.node),
       |g2 AS MATERIALIZED (SELECT la.community AS src, lb.community AS dst,
       |    CAST(count(*) AS BIGINT) AS w
       |  FROM edges e JOIN l1lab la ON la.node = e.src
       |  JOIN l1lab lb ON lb.node = e.dst GROUP BY 1, 2),
       |lab2 AS (SELECT DISTINCT community AS node, community FROM l1lab),
       |deg2 AS MATERIALIZED (SELECT src AS node, CAST(sum(w) AS BIGINT) AS k
       |  FROM g2 GROUP BY 1),
       |mm2 AS (SELECT CAST(sum(k) AS BIGINT) AS m_dir FROM deg2),
       |dsum2 AS MATERIALIZED (SELECT community,
       |    CAST(sum(coalesce(k, 0)) AS BIGINT) AS d_c
       |  FROM lab2 LEFT JOIN deg2 USING (node) GROUP BY community),
       |kic2 AS MATERIALIZED (SELECT e.src AS node, lab2.community AS cn,
       |    CAST(sum(e.w) AS BIGINT) AS k_ic
       |  FROM g2 e JOIN lab2 ON lab2.node = e.dst
       |  WHERE e.src <> e.dst GROUP BY 1, 2),
       |base2 AS (SELECT lab2.node, lab2.community,
       |    coalesce(deg2.k, CAST(0 AS BIGINT)) AS k_i,
       |    coalesce(ka.k_ic, CAST(0 AS BIGINT)) AS k_ia, da.d_c AS d_a
       |  FROM lab2 LEFT JOIN deg2 USING (node)
       |  LEFT JOIN kic2 ka ON ka.node = lab2.node AND ka.cn = lab2.community
       |  JOIN dsum2 da ON da.community = lab2.community),
       |cand2 AS (SELECT b.node, b.community, kic2.cn,
       |    CAST(CAST(m.m_dir AS DECIMAL(19,0)) * CAST(kic2.k_ic - b.k_ia AS DECIMAL(19,0))
       |      - CAST(b.k_i AS DECIMAL(19,0)) * CAST(db.d_c - b.d_a AS DECIMAL(19,0))
       |      - CAST(b.k_i AS DECIMAL(19,0)) * CAST(b.k_i AS DECIMAL(19,0))
       |      AS DECIMAL(38,0)) AS gain
       |  FROM base2 b JOIN kic2 ON kic2.node = b.node AND kic2.cn <> b.community
       |  JOIN dsum2 db ON db.community = kic2.cn CROSS JOIN mm2 m
       |  WHERE b.node % 2 = 0),
       |best2 AS (SELECT node, cn, gain FROM (SELECT node, cn, gain,
       |    row_number() OVER (PARTITION BY node ORDER BY gain DESC, cn ASC) AS rk
       |  FROM cand2) WHERE rk = 1)
       |SELECT l1.node, l1.community AS c1,
       |  CASE WHEN b2.gain > 0 THEN b2.cn ELSE l1.community END AS c2
       |FROM l1lab l1 LEFT JOIN best2 b2 ON b2.node = l1.community
       |ORDER BY l1.node""".stripMargin

  /** `graph_modularity_sweep`'s oracle: ONE materialized LPA chain to
    * round 4 (each lN MATERIALIZED, so the four candidates share the
    * replay exactly like the staged Spark states), then per candidate
    * the total-numerator algebra Σ_c q_num = M·I − Σ_c d_c² in the
    * identical DECIMAL(19,0)→(38,0) widening, argmax via window max.
    */
  private def modularitySweepSql(maxRounds: Int): String = {
    val per = (1 to maxRounds).map { r =>
      s"""i$r AS (SELECT CAST(count(*) AS BIGINT) AS intra
         |  FROM edges e JOIN l$r a ON a.d = e.src
         |  JOIN l$r b ON b.d = e.dst AND b.lbl = a.lbl),
         |g$r AS (SELECT l.lbl, CAST(sum(g.d) AS BIGINT) AS ds
         |  FROM deg g JOIN l$r l ON l.d = g.node GROUP BY 1),
         |d$r AS (SELECT CAST(count(*) AS BIGINT) AS n_comm,
         |  CAST(sum(CAST(ds AS DECIMAL(19,0)) * CAST(ds AS DECIMAL(19,0)))
         |    AS DECIMAL(38,0)) AS dsq FROM g$r),
         |s$r AS (SELECT CAST($r AS INT) AS rounds, d$r.n_comm,
         |  CAST(CAST((SELECT m_dir FROM mm) AS DECIMAL(19,0))
         |      * CAST(i$r.intra AS DECIMAL(19,0)) - d$r.dsq
         |    AS DECIMAL(38,0)) AS q_num_sum,
         |  (SELECT m_dir FROM mm) AS m_dir
         |  FROM i$r, d$r)""".stripMargin
    }.mkString(",\n")
    val un = (1 to maxRounds).map(r => s"SELECT * FROM s$r")
      .mkString(" UNION ALL ")
    s"""WITH ${lpaCtes(maxRounds)},
       |mm AS (SELECT CAST(count(*) AS BIGINT) AS m_dir FROM edges),
       |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
       |  FROM edges GROUP BY 1),
       |$per,
       |u AS ($un)
       |SELECT u.rounds, u.n_comm,
       |  CAST(u.q_num_sum AS VARCHAR) AS q_num_sum, u.m_dir,
       |  u.q_num_sum = max(u.q_num_sum) OVER () AS best
       |FROM u ORDER BY u.rounds""".stripMargin
  }

  /** Unrolled frontier rounds — round i discovers the distinct
    * neighbors of the dist = i−1 frontier that are not yet visited,
    * exactly the Spark loop's semantics.
    */
  /** Unrolled Brandes replay for `graph_betweenness`: forward CTEs
    * carry (source, node, dist, σ) exactly like bfsSql plus the
    * path-count sum; backward CTEs walk levels deepest-first with the
    * identical fixed-point truncating division (`//` ≡ Spark `div` on
    * non-negative BIGINTs). The accumulation unions levels 1..rounds —
    * level 0 is the sources themselves, which Brandes excludes.
    */
  /** Shared Brandes forward prefix: supply edges, per-source seed rows,
    * `rounds` frontier CTEs carrying exact path counts — ends with the
    * full level table v$rounds.
    */
  private def brandesForwardCtes(rounds: Int): String = {
    val fwd = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (SELECT p.s, e.dst AS node, $i AS dist,
         |    CAST(sum(p.sigma) AS BIGINT) AS sigma
         |  FROM v${i - 1} p JOIN edges e ON e.src = p.node
         |  WHERE p.dist = ${i - 1} AND NOT EXISTS (
         |    SELECT 1 FROM v${i - 1} q WHERE q.s = p.s AND q.node = e.dst)
         |  GROUP BY p.s, e.dst),
         |v$i AS MATERIALIZED (SELECT s, node, dist, sigma FROM v${i - 1}
         |  UNION ALL SELECT s, node, dist, sigma FROM f$i)""".stripMargin
    }.mkString(",\n")
    s"""pairs AS (
       |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT sup AS src, prt AS dst FROM pairs
       |  UNION ALL
       |  SELECT prt AS src, sup AS dst FROM pairs
       |), v0 AS (
       |  SELECT s_suppkey AS s, s_suppkey AS node, 0 AS dist,
       |    CAST(1 AS BIGINT) AS sigma
       |  FROM supplier WHERE s_suppkey <= 5
       |),
       |$fwd""".stripMargin
  }

  /** Harmonic-centrality oracle: the shared forward prefix + one
    * integer aggregate (`//` ≡ Spark `div` on non-negative BIGINTs).
    */
  private def harmonicSql(rounds: Int, scale: Long): String =
    s"""WITH ${brandesForwardCtes(rounds)}
       |SELECT node, CAST(sum($scale // dist) AS BIGINT) AS hc_scaled,
       |  CAST(count(*) AS BIGINT) AS n_sources
       |FROM v$rounds WHERE dist > 0
       |GROUP BY node ORDER BY hc_scaled DESC, node""".stripMargin

  private def betweennessSql(rounds: Int, scale: Long): String = {
    val bwd = ((rounds - 1) to 0 by -1).map { d =>
      s"""c$d AS (SELECT v.s AS s, v.node AS node,
         |    CAST(sum((v.sigma * ($scale + dw.delta)) // w.sigma) AS BIGINT)
         |      AS cdelta
         |  FROM v$rounds v JOIN edges e ON e.src = v.node
         |    JOIN v$rounds w ON w.s = v.s AND w.node = e.dst
         |      AND w.dist = ${d + 1}
         |    JOIN d${d + 1} dw ON dw.s = w.s AND dw.node = w.node
         |  WHERE v.dist = $d GROUP BY v.s, v.node),
         |d$d AS MATERIALIZED (SELECT v.s, v.node,
         |    coalesce(c.cdelta, CAST(0 AS BIGINT)) AS delta
         |  FROM v$rounds v LEFT JOIN c$d c ON c.s = v.s AND c.node = v.node
         |  WHERE v.dist = $d)""".stripMargin
    }.mkString(",\n")
    val accSel = (1 to rounds).map(d => s"SELECT node, delta FROM d$d")
      .mkString("\n  UNION ALL ")
    s"""WITH ${brandesForwardCtes(rounds)},
       |d$rounds AS (SELECT s, node, CAST(0 AS BIGINT) AS delta
       |  FROM v$rounds WHERE dist = $rounds),
       |$bwd
       |SELECT node, CAST(sum(delta) AS BIGINT) AS bc_scaled FROM (
       |  $accSel
       |) GROUP BY node ORDER BY bc_scaled DESC, node""".stripMargin
  }

  private def bfsSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""f$i AS MATERIALIZED (SELECT DISTINCT e.dst AS node
         |  FROM edges e JOIN v${i - 1} p ON e.src = p.node
         |  WHERE p.dist = ${i - 1}),
         |v$i AS MATERIALIZED (SELECT node, dist FROM v${i - 1}
         |  UNION ALL
         |  SELECT node, ${i} AS dist FROM f$i
         |  WHERE node NOT IN (SELECT node FROM v${i - 1}))""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
       |  FROM lineitem
       |), edges AS MATERIALIZED (
       |  SELECT sup AS src, prt AS dst FROM pairs
       |  UNION ALL
       |  SELECT prt AS src, sup AS dst FROM pairs
       |), v0 AS (
       |  SELECT s_suppkey AS node, 0 AS dist FROM supplier
       |  WHERE s_suppkey <= 5
       |),
       |$roundCtes
       |SELECT node, dist FROM v$rounds ORDER BY node""".stripMargin
  }

  /** Unrolled full-relaxation Bellman-Ford rounds — round i takes the
    * min over (previous distances ∪ every one-edge relaxation from
    * them), which equals the Spark delta form table-for-table (Sssp
    * scaladoc).
    */
  private def ssspSql(rounds: Int): String = {
    val roundCtes = (1 to rounds).map { i =>
      s"""d$i AS MATERIALIZED (SELECT node, min(d) AS d FROM (
         |  SELECT node, d FROM d${i - 1}
         |  UNION ALL
         |  SELECT e.dst AS node, p.d + e.w AS d
         |  FROM d${i - 1} p JOIN edges e ON e.src = p.node
         |) GROUP BY node)""".stripMargin
    }.mkString(",\n")
    s"""WITH pairs AS (
       |  SELECT l_suppkey AS sup, 100000 + l_partkey AS prt,
       |    CAST(min(l_quantity) AS BIGINT) AS w
       |  FROM lineitem GROUP BY 1, 2
       |), edges AS MATERIALIZED (
       |  SELECT sup AS src, prt AS dst, w FROM pairs
       |  UNION ALL
       |  SELECT prt AS src, sup AS dst, w FROM pairs
       |), d0 AS (
       |  SELECT s_suppkey AS node, CAST(0 AS BIGINT) AS d FROM supplier
       |  WHERE s_suppkey <= 5
       |),
       |$roundCtes
       |SELECT node, d FROM d$rounds ORDER BY node""".stripMargin
  }

  val oracleSql: Map[String, String] = {
    // one CTE pair (contribs, ranks) per iteration — the same unrolled-
    // replay pattern as kmeans_fit_unrolled; `//` is DuckDB integer
    // division ≡ Spark DIV on BIGINT
    val iterate = (1 to 3).map { i =>
      val prev = s"r${i - 1}"
      s"""c$i AS MATERIALIZED (
         |  SELECT e.dst, sum(r.rank // e.outdeg) AS sc
         |  FROM ewd e JOIN $prev r ON e.src = r.node
         |  GROUP BY e.dst
         |), r$i AS MATERIALIZED (
         |  SELECT n.node,
         |    CAST(150000 + (850 * coalesce(c.sc, 0)) // 1000 AS BIGINT) AS rank
         |  FROM nodes n LEFT JOIN c$i c ON n.node = c.dst
         |)""".stripMargin
    }.mkString(",\n")
    Map(
      "graph_kcore" -> kcoreSql(k = 3, rounds = 3),

      "graph_cc" -> ccSql(rounds = 8),
      // the Scc.scc chain unrolled at the registered depths (schema-
      // bounded: ≤7 lines per order — see the query comment)
      "graph_scc" -> sccSql(trimRounds = 6, propRounds = 6),
      // the condensation analysis composed on the same scc chain
      "graph_scc_condense" -> sccCondenseSql(trimRounds = 6,
        propRounds = 6, depthRounds = 6),

      "graph_label_prop" -> lpaSql(rounds = 3),
      "graph_modularity" -> modularitySql(rounds = 3),
      "graph_louvain_step" -> louvainStepSql(rounds = 3),
      "graph_louvain_coarsen" -> louvainCoarsenSql(rounds = 3),
      "graph_louvain_multi" -> louvainMultiSql,
      "graph_modularity_sweep" -> modularitySweepSql(maxRounds = 4),

      "graph_bfs" -> bfsSql(rounds = 3),

      "graph_mst" -> mstSql(MstRounds, MstInnerRounds),

      "graph_sssp" -> ssspSql(rounds = 3),

      "graph_betweenness" -> betweennessSql(rounds = 3, scale = 10000L),

      "graph_harmonic" -> harmonicSql(rounds = 3, scale = 10000L),

      // degree-ordered orientation, the SAME trick the Spark operator
      // uses (Triangles scaladoc): orient every edge toward the higher
      // (deg, node) endpoint, so each triangle is emitted once from its
      // minimum vertex and the wedge join is bounded by Σ outdeg² with
      // outdeg ≤ O(√E). Validated identical to the id-ordered form at
      // sf0.01 and the sampled derived scale. On the near-REGULAR
      // derived basket graph the bound barely bites (411M vs 492M
      // wedges, 145 vs 154 s — this query is the one inherently heavy
      // DuckDB oracle, half the sampled gate); on any skewed real graph
      // the id-ordered form degrades quadratically in the hub degree
      // while this stays √E-bounded, so the oriented form is the right
      // default for an oracle that must survive fixture regenerations.
      "graph_triangles" ->
        """WITH op AS (
          |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS p FROM lineitem
          |), e AS MATERIALIZED (
          |  SELECT DISTINCT a.p AS u, b.p AS v
          |  FROM op a JOIN op b ON a.ok = b.ok AND a.p < b.p
          |), deg AS MATERIALIZED (
          |  SELECT node, count(*) AS d FROM (
          |    SELECT u AS node FROM e UNION ALL SELECT v AS node FROM e)
          |  GROUP BY node
          |), oe AS MATERIALIZED (
          |  SELECT CASE WHEN lt THEN u ELSE v END AS src,
          |         CASE WHEN lt THEN v ELSE u END AS dst,
          |         CASE WHEN lt THEN dv ELSE du END AS dd
          |  FROM (SELECT e.u, e.v, da.d AS du, db.d AS dv,
          |          (da.d < db.d OR (da.d = db.d AND e.u < e.v)) AS lt
          |        FROM e JOIN deg da ON da.node = e.u
          |               JOIN deg db ON db.node = e.v)
          |), tri AS MATERIALIZED (
          |  SELECT o1.src AS a, o1.dst AS b, o2.dst AS c
          |  FROM oe o1
          |  JOIN oe o2 ON o2.src = o1.src
          |    AND (o1.dd < o2.dd OR (o1.dd = o2.dd AND o1.dst < o2.dst))
          |  JOIN oe o3 ON o3.src = o1.dst AND o3.dst = o2.dst
          |), nodes AS (
          |  SELECT a AS node FROM tri
          |  UNION ALL SELECT b FROM tri
          |  UNION ALL SELECT c FROM tri
          |)
          |SELECT node, count(*) AS n_tri FROM nodes
          |GROUP BY node ORDER BY node""".stripMargin,

      "graph_ball_sketch" -> {
        import graft.operators.HyperBall.{AlphaM2, MaxRank, Registers}
        val rounds = (1 to 3).map { i =>
          s"""b$i AS MATERIALIZED (SELECT node, reg, max(rank) AS rank FROM (
             |  SELECT node, reg, rank FROM b${i - 1}
             |  UNION ALL
             |  SELECT e.src AS node, s.reg, s.rank
             |  FROM edges e JOIN b${i - 1} s ON s.node = e.dst
             |) GROUP BY node, reg)""".stripMargin
        }.mkString(",\n")
        s"""WITH pairs AS (
           |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
           |  FROM lineitem
           |), edges AS MATERIALIZED (
           |  SELECT sup AS src, prt AS dst FROM pairs
           |  UNION ALL
           |  SELECT prt AS src, sup AS dst FROM pairs
           |), nh AS (
           |  SELECT node,
           |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))
           |      AS BIGINT) AS h
           |  FROM (SELECT DISTINCT src AS node FROM edges)
           |), b0 AS MATERIALIZED (
           |  SELECT node, h % $Registers AS reg,
           |    CAST(CASE WHEN h // $Registers = 0 THEN $MaxRank
           |      ELSE $MaxRank - length(bin(h // $Registers)) END AS BIGINT)
           |      AS rank
           |  FROM nh
           |),
           |$rounds,
           |folded AS (
           |  SELECT node, count(*) AS nnz,
           |    list_reduce(
           |      list_prepend(CAST($Registers - count(*) AS DOUBLE),
           |        list_transform(list(rank ORDER BY reg),
           |          r -> 1.0 / CAST(1::BIGINT << CAST(r AS INT) AS DOUBLE))),
           |      (a, b) -> a + b) AS s
           |  FROM b3 GROUP BY node
           |)
           |SELECT node, nnz, ${rndSql(s"$AlphaM2 / s", 2)} AS est_ball3
           |FROM folded ORDER BY node""".stripMargin
      },

      "graph_eff_diameter" -> {
        import graft.operators.HyperBall.{AlphaM2, MaxRank, Registers}
        val rounds = (1 to 3).map { i =>
          s"""b$i AS MATERIALIZED (SELECT node, reg, max(rank) AS rank FROM (
             |  SELECT node, reg, rank FROM b${i - 1}
             |  UNION ALL
             |  SELECT e.src AS node, s.reg, s.rank
             |  FROM edges e JOIN b${i - 1} s ON s.node = e.dst
             |) GROUP BY node, reg)""".stripMargin
        }.mkString(",\n")
        def foldMass(i: Int) =
          s"""m$i AS (
             |  SELECT $i AS round,
             |    CAST(sum(CAST(floor(($AlphaM2 / s) * 100 + 0.5) AS BIGINT))
             |      AS BIGINT) AS mass_c
             |  FROM (
             |    SELECT node,
             |      list_reduce(
             |        list_prepend(CAST($Registers - count(*) AS DOUBLE),
             |          list_transform(list(rank ORDER BY reg),
             |            r -> 1.0 / CAST(1::BIGINT << CAST(r AS INT) AS DOUBLE))),
             |        (a, b) -> a + b) AS s
             |    FROM b$i GROUP BY node)
             |)""".stripMargin
        s"""WITH pairs AS (
           |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
           |  FROM lineitem
           |), edges AS MATERIALIZED (
           |  SELECT sup AS src, prt AS dst FROM pairs
           |  UNION ALL
           |  SELECT prt AS src, sup AS dst FROM pairs
           |), nh AS (
           |  SELECT node,
           |    CAST(('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 15))
           |      AS BIGINT) AS h
           |  FROM (SELECT DISTINCT src AS node FROM edges)
           |), b0 AS MATERIALIZED (
           |  SELECT node, h % $Registers AS reg,
           |    CAST(CASE WHEN h // $Registers = 0 THEN $MaxRank
           |      ELSE $MaxRank - length(bin(h // $Registers)) END AS BIGINT)
           |      AS rank
           |  FROM nh
           |),
           |$rounds,
           |${(0 to 3).map(foldMass).mkString(",\n")},
           |ms AS (
           |  SELECT * FROM m0 UNION ALL SELECT * FROM m1
           |  UNION ALL SELECT * FROM m2 UNION ALL SELECT * FROM m3
           |)
           |SELECT CAST(round AS INT) AS round, mass_c,
           |  10 * mass_c >= 9 * (SELECT mass_c FROM m3) AS reached_90pct
           |FROM ms ORDER BY round""".stripMargin
      },

      "graph_pagerank_w" -> {
        val iterateW = (1 to 3).map { i =>
          val prev = s"w${i - 1}"
          s"""wc$i AS MATERIALIZED (
             |  SELECT e.dst, sum((r.rank * e.w) // e.strength) AS sc
             |  FROM ews e JOIN $prev r ON e.src = r.node
             |  GROUP BY e.dst
             |), w$i AS MATERIALIZED (
             |  SELECT n.node,
             |    CAST(150000 + (850 * coalesce(c.sc, 0)) // 1000 AS BIGINT) AS rank
             |  FROM nodes n LEFT JOIN wc$i c ON n.node = c.dst
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH pairs AS (
           |  SELECT l_suppkey AS sup, 100000 + l_partkey AS prt,
           |    CAST(min(l_quantity) AS BIGINT) AS w
           |  FROM lineitem GROUP BY 1, 2
           |), edges AS (
           |  SELECT sup AS src, prt AS dst, w FROM pairs
           |  UNION ALL
           |  SELECT prt AS src, sup AS dst, w FROM pairs
           |), st AS (
           |  SELECT src, sum(w) AS strength FROM edges GROUP BY src
           |), ews AS MATERIALIZED (
           |  SELECT e.src, e.dst, e.w, s.strength
           |  FROM edges e JOIN st s ON e.src = s.src
           |), nodes AS MATERIALIZED (
           |  SELECT DISTINCT src AS node FROM edges
           |  UNION
           |  SELECT DISTINCT dst AS node FROM edges
           |), w0 AS (
           |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
           |),
           |$iterateW
           |SELECT node, rank FROM w3
           |ORDER BY rank DESC, node LIMIT 100""".stripMargin
      },

      "graph_ppr" -> {
        val iteratePpr = (1 to 3).map { i =>
          val prev = s"p${i - 1}"
          s"""pc$i AS MATERIALIZED (
             |  SELECT e.dst, sum(r.rank // e.outdeg) AS sc
             |  FROM ewd e JOIN $prev r ON e.src = r.node
             |  GROUP BY e.dst
             |), p$i AS MATERIALIZED (
             |  SELECT n.node,
             |    CAST(n.s * 150000 + (850 * coalesce(c.sc, 0)) // 1000 AS BIGINT) AS rank,
             |    n.s
             |  FROM p0n n LEFT JOIN pc$i c ON n.node = c.dst
             |)""".stripMargin
        }.mkString(",\n")
        s"""WITH pairs AS (
           |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
           |  FROM lineitem
           |), edges AS (
           |  SELECT sup AS src, prt AS dst FROM pairs
           |  UNION ALL
           |  SELECT prt AS src, sup AS dst FROM pairs
           |), deg AS (
           |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
           |), ewd AS MATERIALIZED (
           |  SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src
           |), nodes AS (
           |  SELECT DISTINCT src AS node FROM edges
           |  UNION
           |  SELECT DISTINCT dst AS node FROM edges
           |), p0n AS MATERIALIZED (
           |  SELECT n.node,
           |    CASE WHEN n.node IN (SELECT s_suppkey FROM supplier
           |      WHERE s_suppkey <= 5) THEN 1 ELSE 0 END AS s
           |  FROM nodes n
           |), p0 AS (
           |  SELECT node, CAST(s * 1000000 AS BIGINT) AS rank, s FROM p0n
           |),
           |$iteratePpr
           |SELECT node, rank FROM p3 WHERE rank > 0
           |ORDER BY rank DESC, node LIMIT 100""".stripMargin
      },

      "graph_pagerank" ->
        s"""WITH pairs AS (
           |  SELECT DISTINCT l_suppkey AS sup, 100000 + l_partkey AS prt
           |  FROM lineitem
           |), edges AS (
           |  SELECT sup AS src, prt AS dst FROM pairs
           |  UNION ALL
           |  SELECT prt AS src, sup AS dst FROM pairs
           |), deg AS (
           |  SELECT src, count(*) AS outdeg FROM edges GROUP BY src
           |), ewd AS MATERIALIZED (
           |  SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d ON e.src = d.src
           |), nodes AS MATERIALIZED (
           |  SELECT DISTINCT src AS node FROM edges
           |  UNION
           |  SELECT DISTINCT dst AS node FROM edges
           |), r0 AS (
           |  SELECT node, CAST(1000000 AS BIGINT) AS rank FROM nodes
           |),
           |$iterate
           |SELECT node, rank FROM r3
           |ORDER BY rank DESC, node LIMIT 100""".stripMargin)
  }
}
