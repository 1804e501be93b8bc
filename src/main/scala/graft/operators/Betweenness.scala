package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}

/** Approximate betweenness centrality — Brandes dependency accumulation
  * (Brandes 2001) from a SEEDED source set, depth-bounded: the
  * path-centrality member of the graph family (reach = BFS, influence
  * = PageRank, community = label-prop, neighborhood = HyperBall; this
  * one scores brokers — nodes shortest paths flow THROUGH). Exact
  * betweenness is all-pairs (O(|V|·|E|), hopeless at 100 TB); the
  * standard approximation (Brandes–Pich) runs the accumulation from a
  * sampled source set and sums dependencies — source count and depth
  * bound the cost, and sources are embarrassingly parallel: every
  * stage below is keyed by (source, node), so adding sources widens
  * the shuffle, never lengthens the plan.
  *
  * Forward pass = [[Bfs]]'s frontier discipline carrying PATH COUNTS:
  * round i joins only the level-(i−1) frontier against the edges,
  * anti-joins the per-source visited set, and SUMS σ over parallel
  * shortest paths — per-round shuffle is O(frontier expansion).
  * Backward pass walks levels deepest-first: δ(v) = Σ_{w ∈ succ(v)}
  * σ(v)·(1 + δ(w))/σ(w), one level-keyed join + aggregate per level.
  *
  * Determinism (the PageRank discipline): δ is carried as a
  * fixed-point BIGINT scaled by `scale` — each contribution is
  * `(σ_v · (scale + Δ_w)) div σ_w`, an exact truncating integer
  * division identical in Spark (`div`) and DuckDB (`//`), and the sums
  * are order-free integer sums, so a fixed-round run replays as
  * unrolled SQL CTEs with zero float slack. Bounds at the tested
  * volumes: σ ≤ ~10^6 at depth 3 on the derived 10× supply graph and
  * Δ ≤ |V|·scale ≈ 10^9, so every product stays ≪ 2^63; a graph
  * whose path counts overflow Long at the chosen depth needs the
  * log-space variant, which this operator deliberately trades away
  * for the exact hash gate.
  *
  * Returns (node, bc_scaled) for every non-source node reached by any
  * source — bc in `1/scale` units, dependency truncated per term.
  */
object Betweenness {

  /** Source-keyed forward BFS carrying path counts — the shared
    * first half of Brandes: (s, node, dist, σ) for every node within
    * `rounds` hops of each seed. Renamed edge columns + name-resolved
    * join conditions: a caller's seed (or visited) frame may share
    * lineage with the edge frame, and dataset-tagged refs (e("dst"))
    * then trip Spark's ambiguous-self-join check; names resolve the
    * same whatever lineage the inputs share.
    */
  def forward(edges: DataFrame, seeds: DataFrame, rounds: Int): DataFrame = {
    val d = forwardDriver(edges, seeds, rounds)
    if (d.isDefined) return d.get
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"))
    var visited = seeds.select(col("node").as("s")).distinct()
      .select(col("s"), col("s").as("node"), lit(0).as("dist"),
        lit(1L).as("sigma"))
      .localCheckpoint(true)
    var frontier = visited
    for (i <- 1 to rounds) {
      val next = frontier
        .join(e, col("node") === col("e_src"))
        .select(col("s"), col("e_dst").as("node"), col("sigma"))
        .join(visited.select(col("s"), col("node")), Seq("s", "node"),
          "left_anti")
        .groupBy(col("s"), col("node"))
        .agg(sum(col("sigma")).as("sigma"))
        .select(col("s"), col("node"), lit(i).as("dist"), col("sigma"))
        .localCheckpoint(true)
      visited = visited.unionAll(next).localCheckpoint(true)
      frontier = next
    }
    visited
  }

  /** Two-regime driver replay of the forward pass (optimization round
    * 19, guide §1.2 step 1 — the Mst/Louvain/KCore/LPA precedent):
    * under the [[DriverRegime]] gate one bounded take pulls the edge
    * list and seed set and the driver replays the IDENTICAL frontier
    * rounds — same per-source visited sets, same σ sums over parallel shortest paths
    * (exact integer addition, order-free), so the (s, node, dist, σ)
    * frame is row-identical. This is the brandes STAGING build (3
    * sequential join+anti-join+aggregate+checkpoint rounds — 3.6 s of
    * every cold staging pass at sf0.1); larger graphs run the
    * distributed frontier loop unchanged.
    */
  private def forwardDriver(edges: DataFrame, seeds: DataFrame,
      rounds: Int): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    val seedCol = seeds.select(col("node"))
    if (!(pairCols.schema.fields ++ seedCol.schema.fields)
        .forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    val seedRows = DriverRegime.pull(seedCol.distinct(), cap = 100000)
      .getOrElse(return None)
    // adjacency
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    rows.foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        new scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(1)
    }
    // per-source BFS with σ accumulation — the synchronous frontier
    // recurrence, one source at a time (sources are independent)
    val out = Seq.newBuilder[Row]
    seedRows.foreach { sr =>
      val src = sr.getLong(0)
      val dist = scala.collection.mutable.LongMap.empty[Int]
      val sigma = scala.collection.mutable.LongMap.empty[Long]
      dist(src) = 0; sigma(src) = 1L
      var frontier = scala.collection.mutable.LongMap(src -> 1L)
      var r = 1
      while (r <= rounds && frontier.nonEmpty) {
        val next = scala.collection.mutable.LongMap.empty[Long]
        frontier.foreach { case (u, sg) =>
          adj.get(u).foreach(_.foreach { v =>
            if (!dist.contains(v))
              next(v) = next.getOrElse(v, 0L) + sg
          })
        }
        next.foreach { case (v, sg) => dist(v) = r; sigma(v) = sg }
        frontier = next
        r += 1
      }
      dist.foreach { case (v, d0) =>
        out += Row(src, v, d0, sigma(v))
      }
    }
    Some(DriverRegime.frame(edges.sparkSession, out.result(),
      DriverRegime.schema("s" -> LongType, "node" -> LongType,
        "dist" -> IntegerType, "sigma" -> LongType)))
  }

  /** Harmonic (closeness-family) centrality from the same seeded
    * sources: H(v) = Σ_s scale div d(s, v) over sources that reach v —
    * the standard sampled estimator (unreached pairs contribute 0,
    * which is harmonic centrality's whole point vs classic closeness).
    * Just the forward pass + one integer aggregate; `scale div dist`
    * is the same truncating division as the Brandes backward pass, so
    * the oracle replays it with `//`. Returns (node, hc_scaled,
    * n_sources); the `dist > 0` filter excludes each source's own
    * zero-distance row only — a seed reached by ANOTHER seed within
    * `rounds` is still scored like any node (and the oracle scores it
    * identically).
    */
  def harmonic(edges: DataFrame, seeds: DataFrame, rounds: Int,
               scale: Long = 10000L): DataFrame =
    harmonicFromForward(forward(edges, seeds, rounds), scale)

  /** [[harmonic]]'s aggregate half over a PRECOMPUTED forward frame —
    * the staged-shared-state entry point (the HyperBall `packedStates`
    * precedent): `graph_harmonic` and `graph_betweenness` share the
    * identical (s, node, dist, σ) forward pass, so a caller running
    * both materializes [[forward]] once and feeds it to this and to
    * [[runFromForward]].
    */
  def harmonicFromForward(visited: DataFrame, scale: Long = 10000L): DataFrame =
    visited
      .where(col("dist") > 0)
      .groupBy(col("node"))
      .agg(sum(expr(s"$scale div dist")).as("hc_scaled"),
        count(lit(1)).as("n_sources"))

  def run(edges: DataFrame, seeds: DataFrame, rounds: Int,
          scale: Long = 10000L): DataFrame =
    runFromForward(forward(edges, seeds, rounds), edges, rounds, scale)

  /** The backward (dependency-accumulation) half of Brandes over a
    * PRECOMPUTED forward frame — see [[harmonicFromForward]] for the
    * staging contract. `rounds` must equal the forward pass's depth.
    */
  def runFromForward(visited: DataFrame, edges: DataFrame, rounds: Int,
          scale: Long = 10000L): DataFrame = {
    // the deepest level seeds δ, so the backward pass needs one: the
    // algorithm's meaningful domain starts at one hop
    require(rounds >= 1, s"Brandes backward pass needs rounds >= 1, got $rounds")
    val d = backwardDriver(visited, edges, rounds, scale)
    if (d.isDefined) return d.get
    val e = edges.select(col("src").as("e_src"), col("dst").as("e_dst"))

    // backward: deepest level seeds δ = 0; each shallower level joins
    // its successor level's (σ, δ) through the edges
    var delta = visited.where(col("dist") === rounds)
      .select(col("s"), col("node"), lit(0L).as("delta"))
      .localCheckpoint(true)
    val acc = Seq.newBuilder[DataFrame]
    acc += delta
    for (d <- (rounds - 1) to 0 by -1) {
      val lvl = visited.where(col("dist") === d)
        .select(col("s"), col("node"), col("sigma"))
      val succ = visited.where(col("dist") === d + 1)
        .select(col("s").as("ws"), col("node").as("wnode"),
          col("sigma").as("wsigma"))
        .join(delta.select(col("s").as("ws"), col("node").as("wnode"),
          col("delta").as("wdelta")), Seq("ws", "wnode"))
      val contrib = lvl
        .join(e, col("node") === col("e_src"))
        .join(succ, col("s") === col("ws") && col("e_dst") === col("wnode"))
        .groupBy(col("s"), col("node"))
        .agg(sum(expr(s"(sigma * ($scale + wdelta)) div wsigma"))
          .as("cdelta"))
      delta = lvl.select(col("s"), col("node"))
        .join(contrib, Seq("s", "node"), "left")
        .select(col("s"), col("node"),
          coalesce(col("cdelta"), lit(0L)).as("delta"))
        .localCheckpoint(true)
      if (d > 0) acc += delta // dist-0 rows are the sources themselves
    }

    acc.result().reduce(_ unionAll _)
      .groupBy(col("node"))
      .agg(sum(col("delta")).as("bc_scaled"))
  }

  /** Two-regime driver replay of the backward (dependency-accumulation)
    * pass — see [[forwardDriver]]; same [[DriverRegime]] gate, over the
    * edges and the visited frame. Per source, level d's
    * δ(v) = Σ_{v→w, dist(w)=d+1} (σ_v·(scale+δ_w)) div σ_w — exact
    * truncating integer division on positive operands (Long `/` ≡
    * Spark `div` ≡ DuckDB `//`), summed deepest-first exactly like the
    * level-keyed joins; every reached (s, node) with dist ≥ 1
    * contributes its δ (the deepest level's zeros included), matching
    * the distributed union of per-level frames row for row.
    */
  private def backwardDriver(visited: DataFrame, edges: DataFrame,
      rounds: Int, scale: Long): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val eRows = DriverRegime.pull(pairCols).getOrElse(return None)
    val vRows = DriverRegime.pull(visited.select(col("s"), col("node"),
      col("dist").cast("int"), col("sigma"))).getOrElse(return None)
    val adj = scala.collection.mutable.LongMap
      .empty[scala.collection.mutable.ArrayBuffer[Long]]
    eRows.foreach { r =>
      adj.getOrElseUpdate(r.getLong(0),
        new scala.collection.mutable.ArrayBuffer[Long]()) += r.getLong(1)
    }
    // per-source level structures
    val bySrc = scala.collection.mutable.LongMap.empty[
      (scala.collection.mutable.LongMap[Int],
        scala.collection.mutable.LongMap[Long])] // node → dist, node → σ
    vRows.foreach { r =>
      val (dm, sm) = bySrc.getOrElseUpdate(r.getLong(0),
        (scala.collection.mutable.LongMap.empty[Int],
          scala.collection.mutable.LongMap.empty[Long]))
      dm(r.getLong(1)) = r.getInt(2); sm(r.getLong(1)) = r.getLong(3)
    }
    val total = scala.collection.mutable.LongMap.empty[Long]
    bySrc.foreach { case (_, (dm, sm)) =>
      val delta = scala.collection.mutable.LongMap.empty[Long]
      // deepest level contributes δ = 0 rows (still output rows)
      dm.foreach { case (v, d0) =>
        if (d0 == rounds) { delta(v) = 0L; total(v) = total.getOrElse(v, 0L) }
      }
      var d0 = rounds - 1
      while (d0 >= 0) {
        dm.foreach { case (v, dv) =>
          if (dv == d0) {
            var acc = 0L
            adj.get(v).foreach(_.foreach { w =>
              if (dm.get(w).contains(d0 + 1))
                acc += (sm(v) * (scale + delta(w))) / sm(w)
            })
            delta(v) = acc
            if (d0 > 0) total(v) = total.getOrElse(v, 0L) + acc
          }
        }
        d0 -= 1
      }
    }
    Some(DriverRegime.frame(edges.sparkSession,
      total.toSeq.map { case (node, bc) => Row(node, bc) },
      DriverRegime.schema("node" -> LongType, "bc_scaled" -> LongType)))
  }
}
