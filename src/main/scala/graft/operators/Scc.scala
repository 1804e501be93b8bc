package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Strongly connected components of a DIRECTED graph — the
  * trim + forward-coloring + backward-settle algorithm (the
  * distributed SCC shape of Orzan's coloring algorithm and the
  * Slota/Madduri Multistep method: trim trivial SCCs, propagate a
  * min-label color forward, settle each color's root SCC by backward
  * reachability within the color), run to FIXED round counts so every
  * step is an exactly-replayable join/aggregate chain (the graph_cc
  * rounds-pinning precedent — the registered query pins depths the
  * fixture family provably converges within; GraphSpec replays
  * driver-side Tarjan and pins equality).
  *
  * Correctness of the settle step (the classic coloring argument): let
  * r = F(v) be v's min-label ancestor after forward convergence. Every
  * node w on a path r→v has F(w) = r (its ancestors through the path
  * are ancestors of v, so F(w) ≥ F(v) = r; and r reaches w, so
  * F(w) ≤ r) — the whole path lies INSIDE color r. Hence v reaches r
  * within the color iff v ∈ SCC(r), and the backward min-label pass
  * restricted to same-color edges decides exactly that (B(v) = r).
  *
  * Scale shape: ONE shuffle-aggregate + one edge refilter per trim
  * round (the degree test rides a single union/groupBy — no distinct
  * pair, no per-round anti-join: trimmed nodes settle in one batch
  * after the trim ladder), ONE join + one union/min-aggregate per
  * propagation round — the iterate-join-aggregate chassis of the
  * CC/LPA/k-core family, with per-round lineage truncation (each
  * round references its predecessor twice, so an uncheckpointed chain
  * re-executes exponentially). No step ever materializes reachability
  * — the transitive closure lives only in the DuckDB oracle.
  */
object Scc {

  /** Fixed-round SCC labeling. Returns (node, scc_id) for every node
    * SETTLED within the given depths: trimmed singletons label
    * themselves; colored nodes label their color root. A node of a
    * graph needing more depth is ABSENT from the output (never
    * mislabeled) — callers pin depths their graph family provably
    * converges within (the flow graph's are bounded by the schema's
    * max lines per order), and the spec replays Tarjan to prove the
    * output complete at the gate scales.
    */
  def scc(edgesIn: DataFrame, trimRounds: Int, propRounds: Int,
      peels: Int = 1): DataFrame = {
    // optimization round 19 (guide §1.2 step 1): the [[DriverRegime]]
    // two-regime gate, applied to the fixed-round ladder itself. The
    // 18-round trim/color/settle chain is ~20 sequential checkpoint
    // actions of tiny frames — the scc staging built in 22.7 s at sf0.1
    // with nearly all of it per-job scheduling/planning floor. A
    // sub-threshold graph replays the IDENTICAL recurrence on the
    // driver (same rounds, same synchronous min-label updates, same
    // batch-settle sets, same absent-if-unsettled contract — GraphSpec's
    // cycle+DAG toy pins exactly the peel-1 absence semantics in both
    // regimes); larger graphs take the distributed ladder unchanged.
    // The pull reads `edgesIn` itself, so only the ladder checkpoints.
    val pairCols = edgesIn.select(col("src"), col("dst"))
    if (pairCols.schema.fields.forall(_.dataType == LongType))
      DriverRegime.pull(pairCols).foreach { rows =>
        return sccDriver(edgesIn.sparkSession,
          rows.map(r => (r.getLong(0), r.getLong(1))),
          trimRounds, propRounds, peels)
      }
    // the edge build (often a window+distinct subtree) feeds the node
    // derivation AND the first alive filter — materialize it ONCE
    val edges = edgesIn.localCheckpoint(true)
    val nodes = edges.select(col("src").as("v"))
      .union(edges.select(col("dst").as("v")))
      .distinct().localCheckpoint(true)
    var alive = nodes
    var settled: DataFrame = null
    def settle(df: DataFrame): Unit =
      settled = if (settled == null) df else settled.unionByName(df)
    (1 to peels).foreach { peel =>
      // TRIM: a node with no in-edge or no out-edge among alive nodes
      // is a singleton SCC; removing it can expose more — fixed rounds.
      // Each round: one union/groupBy degree test, one edge refilter.
      var ea = edges.join(alive.select(col("v").as("src")), "src")
        .join(alive.select(col("v").as("dst")), "dst")
        .select(col("src"), col("dst")).localCheckpoint(true)
      var aliveT = alive
      (1 to trimRounds).foreach { _ =>
        val keep = ea.select(col("src").as("v"), lit(1).as("o"), lit(0).as("i"))
          .unionAll(ea.select(col("dst").as("v"), lit(0).as("o"), lit(1).as("i")))
          .groupBy(col("v")).agg(max(col("o")).as("ho"), max(col("i")).as("hi"))
          .where(col("ho") === 1 && col("hi") === 1).select(col("v"))
        ea = ea.join(keep.select(col("v").as("src")), "src")
          .join(keep.select(col("v").as("dst")), "dst")
          .select(col("src"), col("dst")).localCheckpoint(true)
        aliveT = keep
      }
      aliveT = aliveT.localCheckpoint(true)
      // everything the trim ladder removed is a singleton SCC — one
      // batch settle, not one per round
      settle(alive.join(aliveT, Seq("v"), "left_anti")
        .select(col("v").as("node"), col("v").as("scc_id")))
      // min-label propagation: one RELAX round per unit of path
      // distance — each round ONE edge join + ONE union/min aggregate.
      // (Pointer jumping was tried and REJECTED: composing the label
      // map only follows the CURRENT min ancestor's own ancestors, not
      // all ancestors at the doubled radius, so it under-covers on
      // directed paths — 171/4455 nodes unsettled at sf0.001. The CC
      // operator's jump is sound only for its undirected
      // tree-contraction labels.)
      def propagate(init: DataFrame, e: DataFrame, fromCol: String,
          toCol: String, lbl: String): DataFrame = {
        var m = init
        (1 to propRounds).foreach { _ =>
          m = m.unionAll(
              e.join(m.select(col("v").as(fromCol), col(lbl)), fromCol)
                .select(col(toCol).as("v"), col(lbl)))
            .groupBy(col("v")).agg(min(col(lbl)).as(lbl))
            .localCheckpoint(true)
        }
        m
      }
      // COLOR: forward min-label propagation
      val f = propagate(aliveT.select(col("v"), col("v").as("f")),
        ea, "src", "dst", "f")
      // SETTLE: backward min-label within the color — B(v) = F(v)
      // decides v ∈ SCC(color root)
      val ec = ea
        .join(f.select(col("v").as("src"), col("f").as("f_s")), "src")
        .join(f.select(col("v").as("dst"), col("f").as("f_d")), "dst")
        .where(col("f_s") === col("f_d"))
        .select(col("src"), col("dst")).localCheckpoint(true)
      val b = propagate(aliveT.select(col("v"), col("v").as("b")),
        ec, "dst", "src", "b")
      val lastPeel = peel == peels
      var done = f.join(b, "v").where(col("b") === col("f"))
        .select(col("v").as("node"), col("f").as("scc_id"))
      // on the last peel nothing consumes `done` twice — skip the
      // checkpoint and the dead next-alive anti-join entirely
      if (!lastPeel) done = done.localCheckpoint(true)
      settle(done)
      if (!lastPeel)
        alive = aliveT
          .join(done.select(col("node").as("v")), Seq("v"), "left_anti")
          .localCheckpoint(true)
    }
    settled
  }

  /** The small-graph driver replay of [[scc]]'s EXACT fixed-round
    * recurrence — not a different SCC algorithm: per peel, `trimRounds`
    * synchronous degree-trim rounds (batch-settling the trimmed set),
    * `propRounds` SYNCHRONOUS forward min-label rounds, the same-color
    * edge filter, `propRounds` synchronous backward min-label rounds,
    * and the f==b settle — so the settled/absent sets and every label
    * are identical to the distributed ladder's by construction
    * (synchronous = each round reads only the previous round's labels,
    * exactly what the per-round groupBy/min computes; an in-place
    * Gauss-Seidel loop would over-propagate within a round and diverge
    * from the pinned depths).
    */
  private def sccDriver(s: org.apache.spark.sql.SparkSession,
      edges0: Array[(Long, Long)], trimRounds: Int, propRounds: Int,
      peels: Int): DataFrame = {
    val settled = scala.collection.mutable.ArrayBuffer[(Long, Long)]()
    var alive = scala.collection.mutable.LongMap.empty[Unit]
    edges0.foreach { e => alive.update(e._1, ()); alive.update(e._2, ()) }
    (1 to peels).foreach { peel =>
      var ea = edges0.filter(e => alive.contains(e._1) && alive.contains(e._2))
      var aliveT: scala.collection.mutable.LongMap[Unit] = alive
      (1 to trimRounds).foreach { _ =>
        val hasOut = scala.collection.mutable.LongMap.empty[Unit]
        val hasIn = scala.collection.mutable.LongMap.empty[Unit]
        ea.foreach { e => hasOut.update(e._1, ()); hasIn.update(e._2, ()) }
        val keep = scala.collection.mutable.LongMap.empty[Unit]
        hasOut.foreachKey(v => if (hasIn.contains(v)) keep.update(v, ()))
        ea = ea.filter(e => keep.contains(e._1) && keep.contains(e._2))
        aliveT = keep
      }
      alive.foreachKey(v => if (!aliveT.contains(v)) settled += ((v, v)))
      // synchronous min-label propagation (two maps per round)
      def propagate(edges: Array[(Long, Long)],
          backward: Boolean): scala.collection.mutable.LongMap[Long] = {
        var m = scala.collection.mutable.LongMap.empty[Long]
        aliveT.foreachKey(v => m.update(v, v))
        (1 to propRounds).foreach { _ =>
          val next = m.clone()
          edges.foreach { e =>
            val (from, to) = if (backward) (e._2, e._1) else (e._1, e._2)
            val lbl = m(from)
            if (lbl < next(to)) next.update(to, lbl)
          }
          m = next
        }
        m
      }
      val f = propagate(ea, backward = false)
      val ec = ea.filter(e => f(e._1) == f(e._2))
      val b = propagate(ec, backward = true)
      aliveT.foreachKey { v => if (b(v) == f(v)) settled += ((v, f(v))) }
      if (peel < peels) {
        val nextAlive = scala.collection.mutable.LongMap.empty[Unit]
        aliveT.foreachKey(v => if (b(v) != f(v)) nextAlive.update(v, ()))
        alive = nextAlive
      }
    }
    DriverRegime.frame(s, settled.map(t => Row(t._1, t._2)).toSeq,
      DriverRegime.schema("node" -> LongType, "scc_id" -> LongType))
  }
}
