package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType}

/** HyperBall (Boldi & Vigna's HyperANF) — per-node neighborhood-size
  * estimation by iterated sketch union: every node carries an HLL
  * register set of the nodes it can reach; each round it folds in its
  * neighbors' sketches (elementwise register MAX), so after R rounds
  * node v's sketch describes ball(v, R). This is THE way to compute
  * per-node reachability sizes / centralities on graphs where true
  * per-node BFS (|V| traversals) is unthinkable — per round it is one
  * |E|-row edge join + one elementwise register-max aggregate; state is
  * exactly |V| rows of packed 64-register arrays whatever the graph.
  *
  * Everything gates exactly, including the float estimates:
  *  - registers/ranks come from the md5 hash via integer string ops
  *    (same family as [[DistinctSketch]], here p = 6 → 64 registers so
  *    iterated state stays lean);
  *  - the harmonic sum Σ 2^−rank is computed as `1.0 / (1L << rank)`
  *    (integer shift, exact double cast, exact power-of-two division)
  *    folded in REGISTER ORDER with the empty-register mass as the
  *    fold's start value — a fully deterministic IEEE sequence both
  *    engines replay;
  *  - the estimate is the RAW HyperLogLog estimator α·m²/S (no
  *    small-range ln correction: log library ulps are the one
  *    cross-engine hazard, and for ball-size COMPARISONS the raw
  *    estimator's small-set bias is harmless and documented).
  */
object HyperBall {

  /** Register-count exponent: 2^6 = 64 registers per node (state is
    * |V|·64 rows at saturation — lean enough to iterate). */
  val P = 6
  val Registers: Int = 1 << P

  /** 54-bit suffix after the 6 register bits: rank ∈ [1, 55]. */
  val MaxRank = 55

  /** α₆₄ · m² — the raw-estimator numerator (standard α for m = 64),
    * injected as the same double literal in oracle SQL. */
  val AlphaM2: Double = 0.709 * 4096.0

  def regCol(node: Column): Column =
    pmod(DistinctSketch.hash60(node), lit(Registers.toLong))

  def rankCol(node: Column): Column = {
    val sfx = shiftright(DistinctSketch.hash60(node), P)
    when(sfx === 0, lit(MaxRank))
      .otherwise(lit(MaxRank) - length(bin(sfx)))
      .cast("long")
  }

  /** (node, nnz, est): raw-HLL ball(v, rounds) size estimates over the
    * symmetrized `edges` (src, dst). nnz is the node's non-empty
    * register count (an integer that gates the sketch shape directly).
    *
    * Every round's state is materialized by a local checkpoint, which
    * truncates iteration lineage (the standard iterative-operator
    * discipline here); [[round]] is the one round's unexecuted plan.
    *
    * `broadcastSketches` is the [[PageRank.run]] two-regime gate
    * applied to the sketch frame: when the |V|-row packed state fits
    * an executor, broadcasting it makes the per-round join a narrow
    * pass over the edges (no edge shuffle/sort per round — only the
    * register-merge aggregate shuffles); for billion-node graphs the
    * default self-selects OFF by a measured node count. The cap is
    * node-count-scaled for the FAT state row (~600 B: node + 64-long
    * array ≈ 40× PageRank's (node, rank)), so 150k nodes ≈ the same
    * executor budget PageRank's 5M-node cap implies.
    */
  def neighborhoodSizes(edges: DataFrame, rounds: Int,
      broadcastSketches: Option[Boolean] = None,
      broadcastMaxNodes: Long = 150000L): DataFrame =
    estimateOf(packedStates(edges, rounds, broadcastSketches,
      broadcastMaxNodes).last)

  /** The neighborhood FUNCTION + effective diameter — what HyperANF
    * exists to compute: per round r ∈ [0, rounds], the total ball mass
    * N(r) = Σ_v ⌊est(v, r)·100 + 0.5⌋ (each node's raw-HLL estimate is
    * a deterministic double, so its per-row integer cents are exact
    * and their SUM is order-free — the spatial_cell_stats lesson
    * applied pre-emptively), plus the 90%-quantile effective-diameter
    * flag 10·N(r) ≥ 9·N(rounds), all integer cross-multiplication.
    * The first flagged round IS the effective diameter at q = 0.9
    * (relative to the `rounds`-ball horizon).
    */
  def neighborhoodFunction(edges: DataFrame, rounds: Int,
      broadcastSketches: Option[Boolean] = None,
      broadcastMaxNodes: Long = 150000L): DataFrame =
    neighborhoodFunctionFrom(packedStates(edges, rounds,
      broadcastSketches, broadcastMaxNodes))

  /** [[neighborhoodFunction]] from pre-built round states (index =
    * round) — the staged-layout entry point. */
  def neighborhoodFunctionFrom(sts: Seq[DataFrame]): DataFrame = {
    val rounds = sts.size - 1
    val masses = sts.zipWithIndex.map { case (st, r) =>
      estimateOf(st)
        .agg(sum(floor(col("est_raw") * 100 + lit(0.5)).cast("long"))
          .as("mass_c"))
        .select(lit(r).as("round"), col("mass_c"))
    }.reduce(_ unionAll _)
    val fin = masses.where(col("round") === rounds)
      .select(col("mass_c").as("mass_fin"))
    masses.crossJoin(broadcast(fin))
      .select(col("round"), col("mass_c"),
        (lit(10) * col("mass_c") >= lit(9) * col("mass_fin"))
          .as("reached_90pct"))
  }

  /** State after each round 0..rounds (each materialized) —
    * shared by [[neighborhoodSizes]] (which needs only the last),
    * [[neighborhoodFunction]] (which folds every round), and the
    * per-scale-dir staging (StagedLayouts.hyperballStates) that lets
    * graph_ball_sketch and graph_eff_diameter pay the round loop
    * once. */
  def packedStates(edges: DataFrame, rounds: Int,
      broadcastSketches: Option[Boolean],
      broadcastMaxNodes: Long): Seq[DataFrame] = {
    // the driver replay only serves the auto regime: an explicit
    // broadcastSketches is a caller (spec) forcing a distributed path
    if (broadcastSketches.isEmpty) {
      val d = packedStatesDriver(edges, rounds)
      if (d.isDefined) return d.get
    }
    val e = symmetrized(edges).cache()
    var state = initState(e).localCheckpoint(true)
    val buf = scala.collection.mutable.ArrayBuffer(state)
    val doBroadcast = PageRank.chooseBroadcast(broadcastSketches,
      state.count(), broadcastMaxNodes)
    for (_ <- 1 to rounds) {
      state = round(e, state, doBroadcast).localCheckpoint(true)
      buf += state
    }
    e.unpersist(blocking = true)
    buf.toSeq
  }

  /** Both directions of every (src, dst) edge, as (u, v). */
  private[graft] def symmetrized(edges: DataFrame): DataFrame =
    edges.select(col("src").as("u"), col("dst").as("v"))
      .unionAll(edges.select(col("dst").as("u"), col("src").as("v")))

  /** Round-0 state over the nodes of the symmetrized edges `e`.
    * PACKED state layout: ONE row per node carrying all 64 registers
    * as array<long> (index i = register i, 0 = empty; real ranks are
    * ≥ 1). The r10 (node, reg, rank) layout materialized |E|·64 rows
    * per round-join and shuffled 64× the rows it needed to — the one
    * plan flagged weak in round 10. Packed, the per-round join is |E|
    * rows and the merge is 64 codegen'd MAX aggregates (map-side
    * combined, constant-size buffer — the KMeansND aggregation shape).
    */
  private[graft] def initState(e: DataFrame): DataFrame =
    e.select(col("u").as("node")).distinct()
      .select(col("node"), regCol(col("node")).as("reg"),
        rankCol(col("node")).as("rank"))
      .select(col("node"),
        transform(sequence(lit(0L), lit(Registers - 1L)),
          i => when(i === col("reg"), col("rank")).otherwise(lit(0L)))
          .as("ranks"))

  /** ONE sketch round (unexecuted), the plan the spec audits in both
    * regimes: join the state onto the symmetrized edges `e` (broadcast
    * or shuffle per the gate), then fold self + in-neighbors by an
    * elementwise register MAX — 64 independent long-MAX aggregates
    * reassembled into the array, which stays inside whole-stage
    * codegen and partial-aggregates before the shuffle.
    */
  private[graft] def round(e: DataFrame, state: DataFrame,
      doBroadcast: Boolean): DataFrame = {
    val stateSide = if (doBroadcast) broadcast(state) else state
    val fromNbrs = e.join(stateSide, e("v") === stateSide("node"))
      .select(e("u").as("node"), col("ranks"))
    val zipMax = array((1 to Registers).map(i =>
      max(element_at(col("ranks"), i))): _*).as("ranks")
    state.unionAll(fromNbrs).groupBy(col("node")).agg(zipMax)
  }

  /** Two-regime driver replay of the round loop (optimization round
    * 19, guide §1.2 step 1 — the Mst/Louvain/LPA/Brandes precedent):
    * under the [[DriverRegime]] gate one bounded take pulls the edge
    * list and the driver replays the IDENTICAL recurrence — the same
    * md5-derived (register, rank) per node ([[DistinctSketch.hash60]]
    * replicated bit-for-bit: first 15 md5 hex digits as BIGINT;
    * rank = nlz(hash >> 6) − 9, i.e. 55 − len(bin(sfx)), 55 when the
    * suffix is 0) and the same per-round elementwise register MAX over
    * self + in-neighbors, so every round state is row-identical. This
    * is the hyperball STAGING build (7.1 s of every cold staging pass
    * at sf0.1 — 4 sequential join+64-max-aggregate+checkpoint rounds);
    * larger graphs run the distributed loop with the broadcast gate
    * unchanged.
    */
  private def packedStatesDriver(edges: DataFrame,
      rounds: Int): Option[Seq[DataFrame]] = {
    val pairCols = edges.select(col("src"), col("dst"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    // hash60 replicated: md5 of the node id's decimal string, first 15
    // hex digits as a base-16 long (non-negative, < 2^60)
    def hash60(v: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(v.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      java.lang.Long.parseLong(hex.substring(0, 15), 16)
    }
    def rankOf(h: Long): Long = {
      val sfx = h >> P
      if (sfx == 0) MaxRank.toLong
      else MaxRank.toLong - (64 - java.lang.Long.numberOfLeadingZeros(sfx))
    }
    // symmetrized adjacency (u receives v's registers for (u,v) ∈ e)
    val n2 = rows.length * 2
    val eu = new Array[Long](n2); val ev = new Array[Long](n2)
    var i = 0
    while (i < rows.length) {
      eu(2 * i) = rows(i).getLong(0); ev(2 * i) = rows(i).getLong(1)
      eu(2 * i + 1) = rows(i).getLong(1); ev(2 * i + 1) = rows(i).getLong(0)
      i += 1
    }
    var state = scala.collection.mutable.LongMap.empty[Array[Long]]
    i = 0
    while (i < n2) {
      if (!state.contains(eu(i))) {
        val h = hash60(eu(i))
        val arr = new Array[Long](Registers)
        arr((h % Registers).toInt) = rankOf(h)
        state(eu(i)) = arr
      }
      i += 1
    }
    val schema = DriverRegime.schema(
      "node" -> LongType, "ranks" -> ArrayType(LongType, false))
    def snapshot(st: scala.collection.mutable.LongMap[Array[Long]]): DataFrame =
      DriverRegime.frame(edges.sparkSession,
        st.toSeq.map { case (node, arr) => Row(node, arr.toSeq) }, schema)
    val buf = scala.collection.mutable.ArrayBuffer(snapshot(state))
    (1 to rounds).foreach { _ =>
      val next = scala.collection.mutable.LongMap.empty[Array[Long]]
      state.foreach { case (node, arr) => next(node) = arr.clone() }
      i = 0
      while (i < n2) {
        val dst = next(eu(i)); val src = state(ev(i))
        var r = 0
        while (r < Registers) {
          if (src(r) > dst(r)) dst(r) = src(r)
          r += 1
        }
        i += 1
      }
      state = next
      buf += snapshot(state)
    }
    Some(buf.toSeq)
  }

  /** (node, nnz, est_raw) from a packed state frame: harmonic fold
    * over the non-empty registers in register order (filter()
    * preserves array order), empty-register mass 2^0 each folded in
    * as the start value — the IDENTICAL IEEE add sequence the r10 row
    * layout produced, so the oracle row is unchanged.
    */
  def estimateOf(state: DataFrame): DataFrame = {
    val nonEmpty = filter(col("ranks"), r => r > 0)
    state
      .select(col("node"), nonEmpty.as("rr"))
      .select(col("node"), size(col("rr")).cast("long").as("nnz"),
        aggregate(
          transform(col("rr"), r =>
            lit(1.0) / call_function("shiftleft", lit(1L),
              r.cast("int")).cast("double")),
          (lit(Registers.toDouble) - size(col("rr")).cast("double")),
          (acc, x) => acc + x).as("s"))
      .select(col("node"), col("nnz"),
        (lit(AlphaM2) / col("s")).as("est_raw"))
  }
}
