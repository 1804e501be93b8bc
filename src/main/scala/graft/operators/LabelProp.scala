package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Synchronous label-propagation community detection (Raghavan et al.,
  * 2007) with DETERMINISTIC semantics: every node starts in its own
  * community; each round every node adopts the label carried by the
  * PLURALITY of its neighbors, ties broken to the smallest label.
  * Classic LPA breaks ties randomly and is therefore unreproducible —
  * the deterministic tie-break is what lets the oracle replay the
  * identical rounds as unrolled CTEs (and what makes reruns/retries
  * idempotent on a cluster, where a nondeterministic operator breaks
  * Spark's task-retry model).
  *
  * Round count is FIXED (not run-to-convergence): synchronous LPA can
  * two-cycle on bipartite structures — a fixpoint is not guaranteed to
  * exist, so "iterate until stable" is not a well-defined operator.
  * Fixed rounds + deterministic ties give a total, schedule-independent
  * semantics at any scale.
  *
  * Scale shape: each round is one O(|E|) equi-join + two map-side-
  * combined aggregates ((node, label) counts, then the per-node argmax
  * via min(struct(-count, label))); the label table is O(|V|) and
  * per-round localCheckpoint keeps planning flat, same as the other
  * iterative operators.
  */
object LabelProp {

  /** (node, community) after `rounds` synchronous rounds over the
    * symmetrized `edges` (src, dst).
    *
    * `broadcastLabels` is [[PageRank.run]]'s two-regime gate on the
    * |V|-row label table: when vertex state fits an executor the
    * per-round join is a narrow broadcast pass over the edges (no edge
    * shuffle/sort per round); billion-node graphs self-select the
    * shuffle join by the measured node count. Plurality/min-label
    * argmax is placement-free, so both regimes are bit-identical.
    */
  def run(edges: DataFrame, rounds: Int,
      broadcastLabels: Option[Boolean] = None,
      broadcastMaxNodes: Long = 5000000L): DataFrame =
    runStates(edges, rounds, broadcastLabels, broadcastMaxNodes).last

  /** Every intermediate partition (node, community) after rounds
    * 1..`rounds` — ONE loop run, `rounds` materialized label tables
    * (each round already localCheckpoints, so keeping the
    * intermediates is free). This is the staging shape for
    * modularity-guided round-count tuning (`graph_modularity_sweep`):
    * the sweep prices every state without re-running the loop per
    * candidate. [[run]] is `runStates(...).last`.
    */
  def runStates(edges: DataFrame, rounds: Int,
      broadcastLabels: Option[Boolean] = None,
      broadcastMaxNodes: Long = 5000000L): Seq[DataFrame] = {
    require(rounds >= 1, s"LPA needs at least one round, got $rounds" +
      " (round 1 is fused into the label init)")
    // the driver replay only serves the auto regime: an explicit
    // broadcastLabels is a caller (spec) forcing a distributed path
    if (broadcastLabels.isEmpty) {
      val d = driverReplayStates(edges, rounds)
      if (d.isDefined) return d.get
    }
    distributedStates(edges, rounds, broadcastLabels, broadcastMaxNodes)
  }

  /** Two-regime driver replay (optimization round 19, guide §1.2
    * step 1 — the Mst/Louvain/KCore precedent): under the
    * [[DriverRegime]] gate one bounded take pulls the edge list and the
    * driver replays the IDENTICAL synchronous rounds — per round the same
    * neighbor-label multiset count and the same
    * (max count, min label) plurality pick, deterministic by
    * construction, so every round state is row-identical (GraphSpec
    * pins driver ≡ distributed per round). This is the lpa STAGING
    * build (4 sequential join+2-aggregate+checkpoint rounds = the
    * per-job floor again, 7.2 s of every cold staging pass at sf0.1);
    * the 10× derived supply graph exceeds the threshold and runs the
    * distributed loop unchanged.
    */
  private def driverReplayStates(edges: DataFrame,
      rounds: Int): Option[Seq[DataFrame]] = {
    val pairCols = edges.select(col("src"), col("dst"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    // symmetrized directed arrays
    val n = rows.length * 2
    val su = new Array[Long](n); val sv = new Array[Long](n)
    var i = 0
    while (i < rows.length) {
      su(2 * i) = rows(i).getLong(0); sv(2 * i) = rows(i).getLong(1)
      su(2 * i + 1) = rows(i).getLong(1); sv(2 * i + 1) = rows(i).getLong(0)
      i += 1
    }
    var labels: scala.collection.mutable.LongMap[Long] = null
    val states = Seq.newBuilder[DataFrame]
    val schema = DriverRegime.schema("node" -> LongType, "community" -> LongType)
    def snapshot(l: scala.collection.mutable.LongMap[Long]): DataFrame =
      DriverRegime.frame(edges.sparkSession,
        l.toSeq.map { case (d0, lbl) => Row(d0, lbl) }, schema)
    (1 to rounds).foreach { r =>
      // neighbor-label multiset count, then (max count, min label):
      // round 1 runs under identity labels (the fused init). The count
      // rides the primitive [[PairCount]] — the tuple-keyed HashMap
      // this loop started with was the measured 11.5 s driver gap in
      // graph_label_prop's cold staging pass (see PairCount scaladoc).
      val cnt = new PairCount(n)
      i = 0
      while (i < n) {
        val lbl = if (r == 1) sv(i) else labels(sv(i))
        cnt.addTo(su(i), lbl, 1L)
        i += 1
      }
      val next = scala.collection.mutable.LongMap.empty[Long]
      val bestC = scala.collection.mutable.LongMap.empty[Long]
      var j = 0
      while (j < cnt.capacity) {
        if (cnt.isUsed(j)) {
          val u = cnt.keyA(j); val lbl = cnt.keyB(j); val c = cnt.value(j)
          bestC.get(u) match {
            case Some(c0) if c < c0 => ()
            case Some(c0) if c == c0 => if (lbl < next(u)) next(u) = lbl
            case _ => bestC(u) = c; next(u) = lbl
          }
        }
        j += 1
      }
      labels = next
      states += snapshot(labels)
    }
    Some(states.result())
  }

  private def distributedStates(edges: DataFrame, rounds: Int,
      broadcastLabels: Option[Boolean],
      broadcastMaxNodes: Long): Seq[DataFrame] = {
    val e = edges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))
      .cache()
    // round 1 FUSED with init: under identity labels (lbl(v) = v) the
    // neighbor-label counts are just the (u, v) edge multiplicities, so
    // the O(|E|) label join is a no-op — two aggregates replace
    // distinct-init + join + two aggregates (exact for multigraphs too:
    // the count runs over the raw edge multiset)
    var labels = e.groupBy(col("u").as("d"), col("v").as("lbl"))
      .agg(count(lit(1)).as("c"))
      .groupBy(col("d"))
      .agg(min(struct((col("c") * lit(-1L)).as("nc"), col("lbl"))).as("m"))
      .select(col("d"), col("m.lbl").as("lbl"))
      .localCheckpoint(true)
    val states = scala.collection.mutable.ArrayBuffer(labels)
    val doBroadcast = PageRank.chooseBroadcast(broadcastLabels,
      labels.count(), broadcastMaxNodes)
    for (_ <- 2 to rounds) {
      val labelSide = if (doBroadcast) broadcast(labels) else labels
      labels = e.join(labelSide, e("v") === labelSide("d"))
        .groupBy(e("u").as("d"), col("lbl"))
        .agg(count(lit(1)).as("c"))
        .groupBy(col("d"))
        .agg(min(struct((col("c") * lit(-1L)).as("nc"), col("lbl"))).as("m"))
        .select(col("d"), col("m.lbl").as("lbl"))
        .localCheckpoint(true)
      states += labels
    }
    e.unpersist(blocking = true)
    states.toSeq
      .map(_.select(col("d").as("node"), col("lbl").as("community")))
  }
}
