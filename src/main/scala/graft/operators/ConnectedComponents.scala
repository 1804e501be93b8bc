package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components in O(log diameter) rounds: hash-min label
  * propagation accelerated by POINTER JUMPING.
  *
  * [[Dedup.connectedComponents]] (plain hash-min) needs as many
  * edge-join rounds as the component diameter — fine for near-dup
  * clusters (near-cliques, diameter ≤ ~3), a scale-killer for real
  * graphs: a 100-TB web/citation graph has diameter in the tens, and
  * every round is a full O(|E|) shuffle. This variant interleaves each
  * neighbor-min round with a label-table SELF-join (`lbl ← lbl(lbl)`,
  * the Shiloach-Vishkin / large-star compression step): label pointers
  * double per round, so convergence takes O(log d) rounds of the small
  * O(|V|) table join instead of O(d) rounds over the edges. GraphSpec
  * pins the round advantage and result equality against the plain form.
  *
  * Fixpoint contract: labels are monotone non-increasing and bounded, so
  * the decimal label-sum strictly decreases until the fixpoint (the same
  * driver-cheap audit as [[Dedup.connectedComponentsConverged]]); at the
  * fixpoint every node holds the MIN id of its component — a result
  * independent of iteration schedule, which is why the oracle can replay
  * plain unrolled hash-min rounds instead of this algorithm and still
  * match hash-for-hash.
  *
  * Reference analogue: none — the reference's only iterate-to-fixpoint
  * loop is the k-means driver (master.py:352-366); this extends the
  * iterate-join-aggregate family to graphs per the builder brief.
  */
object ConnectedComponents {

  /** (node, comp): comp = min node id of the component. `edges` is
    * (src, dst); symmetrized internally, duplicates are harmless under
    * min. Throws after `maxIters` non-converged rounds rather than
    * returning an under-merged labeling.
    *
    * Optimization round 19 (guide §1.2 step 1): two-regime, like
    * [[PageRank.chooseBroadcast]]. The fixpoint labeling (min node id
    * per component) is algorithm- and schedule-free, so when the edge
    * relation is small enough to collect (the [[DriverRegime]] gate) the
    * labels come from one exact driver union-find instead
    * of O(log d) sequential rounds of 3–4 tiny Spark jobs each —
    * JobProfile measured graph_mst's 4 inner CC runs at ~150 of its
    * 218 jobs, nearly all sub-100 ms tasks under per-job scheduling +
    * planning floor. Larger graphs take the distributed loop
    * unchanged; results are bit-identical by the fixpoint argument
    * (GraphSpec pins equality on the fixture, and every consumer's
    * DuckDB oracle replays schedule-free unrolled hash-min rounds).
    * At 100-TB scale the gate costs one narrow O(|E|) count per CC
    * invocation — noise against the rounds it would otherwise pay.
    */
  def run(edges: DataFrame, maxIters: Int = 32): DataFrame =
    smallGraphLabels(edges, "src", "dst", "node", "comp")
      .getOrElse(runWithRounds(edges, maxIters)._1)

  /** The driver-union-find fast path: Some(labels) when `edges` is
    * under the threshold and BIGINT-keyed, None otherwise. Exact: path
    * compression + union by size, then min node id per root — the same
    * fixpoint the distributed loop converges to.
    */
  private[operators] def smallGraphLabels(edges: DataFrame,
      srcCol: String, dstCol: String,
      outNode: String, outLbl: String): Option[DataFrame] = {
    import org.apache.spark.sql.types.LongType
    val pairCols = edges.select(col(srcCol), col(dstCol))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    // an over-threshold graph at production scale stops the pull at the
    // threshold and falls back to the distributed loop (one bounded
    // wasted pass, noise against the rounds it would otherwise pay)
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    // union-find over the endpoint set
    val idx = scala.collection.mutable.LongMap.empty[Int]
    val ids = new scala.collection.mutable.ArrayBuffer[Long]()
    val parent = new scala.collection.mutable.ArrayBuffer[Int]()
    val size = new scala.collection.mutable.ArrayBuffer[Int]()
    def id(v: Long): Int = idx.getOrElseUpdate(v, {
      val i = ids.length; ids += v; parent += i; size += 1; i
    })
    def find(x0: Int): Int = {
      var x = x0
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    rows.foreach { r =>
      val ra = find(id(r.getLong(0))); val rb = find(id(r.getLong(1)))
      if (ra != rb) {
        if (size(ra) >= size(rb)) { parent(rb) = ra; size(ra) += size(rb) }
        else { parent(ra) = rb; size(rb) += size(ra) }
      }
    }
    // min node id per root, then (node, minId(root)) for every endpoint
    val minId = Array.fill(ids.length)(Long.MaxValue)
    ids.indices.foreach { i =>
      val r = find(i)
      if (ids(i) < minId(r)) minId(r) = ids(i)
    }
    val out = ids.indices.map(i =>
      org.apache.spark.sql.Row(ids(i), minId(find(i))))
    Some(DriverRegime.frame(edges.sparkSession, out,
      DriverRegime.schema(outNode -> LongType, outLbl -> LongType)))
  }

  /** [[run]] plus the round count it took — the audit surface GraphSpec
    * uses to prove the jump form converges in fewer rounds than plain
    * hash-min on the same graph.
    */
  /** `broadcastLabels`: [[PageRank.run]]'s two-regime gate on the
    * |V|-row label table — when vertex state fits an executor, BOTH
    * per-round joins (the |E|-row neighbor-min and the |V|-row pointer
    * jump) become narrow broadcast passes; billion-node graphs
    * self-select the shuffle joins by the measured node count. Min is
    * placement-free, so regimes are bit-identical.
    */
  def runWithRounds(edges: DataFrame, maxIters: Int = 32,
      broadcastLabels: Option[Boolean] = None,
      broadcastMaxNodes: Long = 5000000L): (DataFrame, Int) = {
    val e = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))
      .cache()
    // label init FUSED with the first neighbor-min round: starting from
    // lbl(u) = u, round one computes min(u, min N(u)) — exactly this
    // aggregate, at the cost of the node-list distinct it replaces
    // (one O(|E|) job saved; the fixpoint is round-schedule-free)
    var labels = e.select(col("u").as("d"), least(col("u"), col("v")).as("lbl"))
      .groupBy(col("d")).agg(min(col("lbl")).as("lbl"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    val doBroadcast = PageRank.chooseBroadcast(broadcastLabels,
      labels.count(), broadcastMaxNodes)
    while (!converged && round < maxIters) {
      round += 1
      // neighbor-min: each node takes the min of its own and its
      // neighbors' labels — one O(|E|) equi-join + min-aggregate
      val labelSide = if (doBroadcast) broadcast(labels) else labels
      val viaNbr = e.join(labelSide, e("v") === labelSide("d"))
        .select(e("u").as("d"), col("lbl"))
      val l1 = labels.unionAll(viaNbr)
        .groupBy(col("d")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint(true)
      // pointer jump: lbl ← min(lbl, lbl(lbl)) — every label is itself a
      // node id present in the table, so this is an O(|V|) self-join
      // that halves the remaining pointer-chain depth
      val p0 = l1.select(col("d").as("pd"), col("lbl").as("plbl"))
      val p = if (doBroadcast) broadcast(p0) else p0
      labels = l1.join(p, l1("lbl") === p("pd"), "left")
        .select(l1("d").as("d"),
          least(l1("lbl"), coalesce(col("plbl"), l1("lbl"))).as("lbl"))
        .localCheckpoint(true)
      val curSum = labelSum(labels)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
    }
    e.unpersist(blocking = true)
    if (!converged)
      throw new IllegalStateException(
        s"ConnectedComponents: no fixpoint after $maxIters rounds")
    (labels.select(col("d").as("node"), col("lbl").as("comp")), round)
  }
}
