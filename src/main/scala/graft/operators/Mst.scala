package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Minimum spanning forest via Borůvka's algorithm (Borůvka 1926; the
  * textbook distributed MST — each round every component picks its
  * minimum outgoing edge and components merge, so the component count
  * at least halves per round) — the remaining classic of the
  * iterate-join-aggregate chassis after CC/BFS/SSSP/k-core.
  *
  * Determinism: weights tie heavily (small integer quantities), and
  * Borůvka is only cycle-free under DISTINCT weights — so edges are
  * totally ordered by (w, a, b) on the canonical form a = least
  * endpoint, b = greatest (the standard lexicographic perturbation:
  * equivalent to distinct weights, hence a unique MSF both engines
  * agree on). Every pick is a min of that struct; every quantity is
  * BIGINT.
  *
  * Per round: (1) one |E| join against the component labels keeps
  * cross-component edges; (2) one map-side-combined min-struct
  * aggregate picks each component's cheapest edge (both endpoints'
  * components bid — the undirected form); (3) the picked pseudoforest
  * (≤ #components edges) merges via [[ConnectedComponents]] on the
  * CONTRACTED component graph — an O(#components) problem, not
  * O(|V|) — and labels relabel through one |V|-row left join. Rounds
  * are fixed (Borůvka needs ≤ log₂ #nodes; measured 2/3/4/4 on the
  * gate fixtures → 5 carries margin) with a LOUD completeness guard:
  * any cross-component edge surviving the last round throws rather
  * than returning a partial forest (the sccLabels lesson). The oracle
  * replays the identical outer rounds with plain unrolled hash-min
  * for each merge (measured inner depth ≤ 10 → 12 rounds; the
  * schedule-free-fixpoint argument of graph_cc).
  *
  * 100-TB shape: the edge relation shuffles once per round on its
  * endpoints; the pick aggregate is map-side combined; the merge CC
  * runs on the component graph, whose size is bounded by the picked
  * edges (≤ #components), so late rounds are near-free; labels are
  * |V| rows, checkpointed per round (lineage truncation).
  */
object Mst {

  /** Minimum spanning forest of the undirected weighted graph given as
    * symmetric directed `edges` (src, dst, w). Returns canonical edges
    * (a, b, w) ordered by (a, b).
    */
  def boruvka(s: SparkSession, edges: DataFrame, rounds: Int,
      ccMaxIters: Int = 32): DataFrame = {
    val canon = edges
      .select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"), col("w"))
      .distinct()
      .localCheckpoint(true) // scanned once per round + the final guard
    driverReplay(s, canon, rounds).getOrElse(
      distributedRounds(canon, rounds, ccMaxIters))
  }

  /** The two-regime driver replay (optimization round 19, guide §1.2
    * step 1 — the [[Scc.scc]] / [[ConnectedComponents.run]] precedent):
    * under the [[DriverRegime]] gate (≈ 48 MB of canonical-edge longs
    * at the threshold), ONE bounded incremental take
    * pulls the already-checkpointed canonical edge list and the driver
    * replays the IDENTICAL fixed-round recurrence — per round the same
    * min-(w, a, b)-struct pick per component, the same distinct on the
    * picked set, the same min-label component merge (union-find with
    * min-comp-id labeling — the schedule-free fixpoint
    * [[ConnectedComponents.run]]'s own gate computes), the same
    * empty-pick early exit, and the same LOUD completeness guard.
    * NOT a different algorithm (no Kruskal): same rounds, same picks,
    * same failure mode when the fixed rounds under-run a graph.
    * JobProfile motivation: the distributed ladder costs 83 sequential
    * sub-100 ms jobs at sf0.1 — pure per-job scheduling/planning floor;
    * at production scale the relation exceeds the threshold after one
    * bounded take and the rounds amortize into real joins.
    */
  private def driverReplay(s: SparkSession, canon: DataFrame,
      rounds: Int): Option[DataFrame] = {
    if (!canon.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(canon).getOrElse(return None)
    val ea = rows.map(_.getLong(0)); val eb = rows.map(_.getLong(1))
    val ew = rows.map(_.getLong(2))
    val comp = scala.collection.mutable.LongMap.empty[Long]
    rows.foreach { r =>
      comp.getOrElseUpdate(r.getLong(0), r.getLong(0))
      comp.getOrElseUpdate(r.getLong(1), r.getLong(1))
    }
    // total order on picks: (w, a, b) — the min(struct) the distributed
    // pick aggregate evaluates
    def lt(w1: Long, a1: Long, b1: Long, w2: Long, a2: Long, b2: Long) =
      w1 < w2 || (w1 == w2 && (a1 < a2 || (a1 == a2 && b1 < b2)))
    val mst = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Long)]
    var done = false
    (1 to rounds).foreach { _ =>
      if (!done) {
        // per-component min cross edge — both endpoints' components bid
        val best = scala.collection.mutable.LongMap.empty[(Long, Long, Long)]
        def bid(c: Long, w: Long, a: Long, b: Long): Unit = best.get(c) match {
          case Some((w0, a0, b0)) if !lt(w, a, b, w0, a0, b0) => ()
          case _ => best(c) = (w, a, b)
        }
        var i = 0
        while (i < ea.length) {
          val cu = comp(ea(i)); val cv = comp(eb(i))
          if (cu != cv) { bid(cu, ew(i), ea(i), eb(i)); bid(cv, ew(i), ea(i), eb(i)) }
          i += 1
        }
        val picked = best.values.toSet // the distributed .distinct()
        if (picked.isEmpty) done = true
        else {
          picked.foreach { case (w, a, b) => mst += ((a, b, w)) }
          // merge on the CONTRACTED component graph: min-comp-id per
          // connected group — union-find computes the same fixpoint as
          // ConnectedComponents.run
          val idx = scala.collection.mutable.LongMap.empty[Int]
          val ids = new scala.collection.mutable.ArrayBuffer[Long]()
          val parent = new scala.collection.mutable.ArrayBuffer[Int]()
          def id(v: Long): Int = idx.getOrElseUpdate(v, {
            val k = ids.length; ids += v; parent += k; k
          })
          def find(x0: Int): Int = {
            var x = x0
            while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
            x
          }
          picked.foreach { case (_, a, b) =>
            val ra = find(id(comp(a))); val rb = find(id(comp(b)))
            if (ra != rb) parent(rb) = ra
          }
          val minId = Array.fill(ids.length)(Long.MaxValue)
          ids.indices.foreach { k =>
            val r = find(k)
            if (ids(k) < minId(r)) minId(r) = ids(k)
          }
          val relabel = scala.collection.mutable.LongMap.empty[Long]
          ids.indices.foreach { k => relabel(ids(k)) = minId(find(k)) }
          comp.keysIterator.toArray.foreach { v =>
            val c = comp(v)
            relabel.get(c).foreach(nc => comp(v) = nc)
          }
        }
      }
    }
    // the identical completeness guard, driver-side
    var left = 0L
    var i = 0
    while (i < ea.length) {
      if (comp(ea(i)) != comp(eb(i))) left += 1
      i += 1
    }
    require(left == 0L,
      s"Borůvka under-ran: $left cross-component edges after $rounds " +
        "rounds — raise the round count for this graph")
    val out = mst.sortBy(t => (t._1, t._2))
      .map { case (a, b, w) => Row(a, b, w) }
    Some(DriverRegime.frame(s, out.toSeq,
      DriverRegime.schema("a" -> LongType, "b" -> LongType, "w" -> LongType))
      .orderBy("a", "b"))
  }

  /** The distributed fixed-round ladder — the over-threshold regime. */
  private def distributedRounds(canon: DataFrame,
      rounds: Int, ccMaxIters: Int): DataFrame = {
    val nodes = canon.select(col("a").as("v"))
      .union(canon.select(col("b").as("v"))).distinct()
    var comp = nodes.select(col("v").as("node"), col("v").as("comp"))
      .localCheckpoint(true)
    var mst: DataFrame = null
    var done = false
    def cross(c: DataFrame): DataFrame = canon
      .join(c.select(col("node").as("a"), col("comp").as("cu")), "a")
      .join(c.select(col("node").as("b"), col("comp").as("cv")), "b")
      .where(col("cu") =!= col("cv"))
    (1 to rounds).foreach { _ =>
      if (!done) {
        val e = cross(comp)
        val k = struct(col("w"), col("a"), col("b"))
        val picked = e.select(col("cu").as("c"), k.as("k"))
          .unionAll(e.select(col("cv").as("c"), k.as("k")))
          .groupBy(col("c")).agg(min(col("k")).as("k"))
          .select(col("k.a").as("a"), col("k.b").as("b"), col("k.w").as("w"))
          .distinct()
          .localCheckpoint(true) // feeds the forest, the merge, AND count
        if (picked.count() == 0) {
          // no cross-component edge produced a pick ⇒ none remain: the
          // forest is complete — don't pay the remaining fixed rounds
          // (they would be empty no-ops; the oracle's empty unrolled
          // tail CTEs agree by construction)
          done = true
        } else {
          mst = if (mst == null) picked else mst.unionByName(picked)
          val merge = picked
            .join(comp.select(col("node").as("a"), col("comp").as("src")), "a")
            .join(comp.select(col("node").as("b"), col("comp").as("dst")), "b")
            .select(col("src"), col("dst"))
          val cc = ConnectedComponents.run(merge, ccMaxIters)
          comp = comp
            .join(cc, comp("comp") === cc("node"), "left")
            .select(comp("node").as("node"),
              coalesce(cc("comp"), comp("comp")).as("comp"))
            .localCheckpoint(true)
        }
      }
    }
    // completeness guard: a surviving cross-component edge means the
    // fixed rounds under-ran this graph — fail loudly, never return a
    // partial forest
    val left = cross(comp).count()
    require(left == 0L,
      s"Borůvka under-ran: $left cross-component edges after $rounds " +
        "rounds — raise the round count for this graph")
    mst.orderBy("a", "b")
  }
}
