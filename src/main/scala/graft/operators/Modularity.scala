package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, LongType}

/** Newman modularity of a community partition — the SCORE half of
  * community detection (LabelProp finds the partition, this prices it;
  * a pipeline tunes round counts / graph constructions by exactly this
  * number, Newman & Girvan 2004). For an undirected graph given as a
  * SYMMETRIZED directed edge list (both directions present, no
  * duplicates, no self-loops — the supply-graph contract):
  *
  *   Q = Σ_c ( e_c/m − (d_c/2m)² )  =  Σ_c (M·i_c − d_c²) / M²
  *
  * where M = |directed rows| = 2m, i_c = directed intra-community rows
  * (= 2·e_c) and d_c = Σ degrees in c — so each community's
  * contribution has the exact-integer numerator q_num = M·i_c − d_c²
  * over the shared denominator M². The output carries ONLY exact
  * integers (the PageRank fixed-point discipline): no float ever
  * forms, the gate is exact, and Q itself is Σ q_num / m_dir² for any
  * consumer that wants the scalar.
  *
  * Scale shape: two O(|E|) label joins (the |V|-row label table
  * broadcasts under the LabelProp/PageRank gate regime or shuffles
  * above it — either way the edge list streams), one map-side-combined
  * degree aggregate, one 1-row edge-count aggregate broadcast back
  * (the text_bm25 discipline — never a driver collect). Integer range:
  * q_num is formed in DECIMAL(38,0) via [[qNumExact]] — both products
  * are decimal(19,0)×decimal(19,0) (each factor ≤ 2^63 by
  * construction), so the numerator is exact up to 2^126 < 10^38: no
  * BIGINT wrap at ANY edge count a 64-bit degree sum can express
  * (GraphSpec pins the boundary past 2^63 against BigInt arithmetic;
  * the pre-r15 Long form wrapped at d_c² ≥ 2^63, ~3·10⁹ directed
  * edges).
  *
  * Output-encoding discipline: the operators here RETURN the exact
  * DECIMAL(38,0) columns (so compositions like the Louvain driver can
  * keep computing on them), but the query registry re-encodes every
  * decimal column as its canonical integer STRING before it leaves the
  * engine — Spark writes decimal38 to parquet as FIXED_LEN_BYTE_ARRAY
  * int128, whose hash canonicalization differs across readers even
  * when the VALUES are bit-identical (the r15 driver-gate lesson:
  * right answers, red hashes). The canonical text of an exact integer
  * is reader-independent.
  */
object Modularity {

  private val d19 = DecimalType(19, 0)
  private val d38 = DecimalType(38, 0)

  /** Driver-replay gains run in plain Long (optimization round 19):
    * every operand of the gain/Q recurrences is bounded by M = Σdeg
    * (weighted: Σw), so |gain| ≤ 3·M² and |Q numerator| ≤ 2·M² — exact
    * in Long whenever M ≤ this bound (3·(1.5e9)² ≤ 6.75e18 < 2^63).
    * The [[DriverRegime]] threshold keeps M ≤ 2·MaxRows, six orders
    * inside; replays seeing a larger M return None and the distributed
    * decimal(38) tree runs instead of overflowing silently.
    */
  private val driverLongGainMaxM = 1500000000L

  /** Exact modularity numerator m·e − d² in DECIMAL(38,0). Each input
    * is a BIGINT-valued column; both products are formed as
    * decimal(19,0) × decimal(19,0) → decimal(38,0), so every
    * intermediate fits: |m·e|, |d²| ≤ 2^126 < 10^38 − 1. This is the
    * widening the Long form lacked (it wrapped silently once
    * d² ≥ 2^63 — a real social-scale graph exceeds that).
    */
  def qNumExact(mDir: Column, eDir: Column, dSum: Column): Column =
    (mDir.cast(d19) * eDir.cast(d19) - dSum.cast(d19) * dSum.cast(d19))
      .cast(d38)

  /** Per-community modularity table: (community, n_nodes, e_dir,
    * d_sum, q_num DECIMAL(38,0), m_dir), ordered by the caller.
    * `labels` is (node, community) covering every node of `edges`.
    */
  def score(edges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("src"), col("community").as("ca"))
    val lb = labels.select(col("node").as("dst"), col("community").as("cb"))
    val intra = edges.join(la, "src").join(lb, "dst")
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(count(lit(1)).as("e_dir"))
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true) // one |V|-row frame feeds d_sum AND m_dir
    // labels LEFT JOIN deg: a labeled node with no outgoing edges
    // (possible when the caller's graph is not fully symmetrized) still
    // counts in n_nodes and contributes 0 degree — matching the scaladoc
    // contract that `labels` covers every node
    val dsum = labels.select(col("node").as("src"), col("community"))
      .join(deg, Seq("src"), "left")
      .groupBy(col("community"))
      .agg(sum(coalesce(col("d"), lit(0L))).as("d_sum"),
        count(lit(1)).as("n_nodes"))
    // M = Σ out-degrees — the edge list is scanned twice (degrees +
    // intra), never a third time for the count
    val mRow = deg.agg(sum(col("d")).as("m_dir"))
    dsum.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_dir"), lit(0L)).as("e_dir"), col("d_sum"),
        qNumExact(col("m_dir"), coalesce(col("e_dir"), lit(0L)),
          col("d_sum")).as("q_num"),
        col("m_dir"))
  }

  /** Modularity-guided partition tuning: price SEVERAL candidate
    * partitions of the SAME graph and pick the argmax — the query a
    * pipeline actually runs with this score (e.g. LPA round counts
    * 1..4, each a staged label table). Degrees and M are computed
    * ONCE and shared; each candidate partition costs exactly one
    * extra edge-list scan (its intra-community count) plus one
    * |V|-row label join against the shared degree frame — the
    * brandesForward staging discipline applied to the sweep.
    *
    * Because every candidate shares the denominator M², comparing
    * total numerators Σ_c q_num IS comparing Q; the argmax needs no
    * division and stays exact decimal.
    *
    * Returns one row per candidate: (rounds, n_comm,
    * q_num_sum DECIMAL(38,0), m_dir, best) ordered by the caller;
    * `best` marks the argmax (ties all flagged — deterministic).
    */
  def sweep(edges: DataFrame, labelStates: Seq[(Int, DataFrame)]): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("d"))
      .localCheckpoint(true)
    val mRow = deg.agg(sum(col("d")).as("m_dir")).localCheckpoint(true)
    val perRound = labelStates.map { case (r, labels) =>
      val la = labels.select(col("node").as("src"), col("community").as("ca"))
      val lb = labels.select(col("node").as("dst"), col("community").as("cb"))
      val intraRow = edges.join(la, "src").join(lb, "dst")
        .where(col("ca") === col("cb"))
        .agg(count(lit(1)).as("intra"))
      val dsqRow = deg
        .join(labels.select(col("node").as("src"), col("community")), "src")
        .groupBy(col("community"))
        .agg(sum(col("d")).as("ds"))
        .agg(count(lit(1)).as("n_comm"),
          sum((col("ds").cast(d19) * col("ds").cast(d19)).cast(d38))
            .cast(d38).as("dsq"))
      intraRow.crossJoin(dsqRow).crossJoin(broadcast(mRow))
        .select(lit(r).as("rounds"), col("n_comm"),
          (col("m_dir").cast(d19) * col("intra").cast(d19) - col("dsq"))
            .cast(d38).as("q_num_sum"),
          col("m_dir"))
    }
    val u = perRound.reduce(_ unionByName _)
    val mx = u.agg(max(col("q_num_sum")).as("qmax"))
    u.crossJoin(broadcast(mx))
      .select(col("rounds"), col("n_comm"), col("q_num_sum"), col("m_dir"),
        (col("q_num_sum") === col("qmax")).as("best"))
  }

  /** One synchronous Louvain refinement half-sweep (Blondel et al.
    * 2008's local-move phase, distributed): every ELIGIBLE node
    * evaluates moving to each neighboring community against the
    * pre-round configuration and takes the best strictly-positive
    * modularity gain (ties → smallest target label). The exact
    * integer half-gain for moving i from A to B is
    *
    *   gain_num = M·(k_iB − k_iA) − k_i·(d_B − d_A) − k_i²
    *            = Δ(Q·M²) / 2
    *
    * (d_A includes i, d_B excludes it) — same decimal(19×19→38)
    * discipline as [[qNumExact]], no float ever forms.
    *
    * Eligible = nodes with `node % 2 == parity` — the red-black
    * mitigation every distributed Louvain needs: a fully-synchronous
    * sweep can SWAP symmetric communities wholesale (measured on the
    * fixture: all 2100 nodes "move", the partition is unchanged up to
    * relabeling, Q identical). The half-sweep breaks the symmetry;
    * measured on the staged LPA labels it lifts the exact Q numerator
    * −5.35e9 → +6.2e6 (sf0.01) and −3.42e11 → −9.3e9 (sf0.1).
    * Improvement per round is measured, not guaranteed — two eligible
    * nodes joining the same target still interact (the serial
    * guarantee needs one-at-a-time moves, which doesn't distribute).
    *
    * Scale shape: degrees once (|V| rows, checkpointed), community
    * degree sums once (|C| rows), per-node neighbor-community link
    * counts in ONE edge-list scan (map-side combined), candidate join
    * keyed on the tiny community table, 1-row M broadcast back.
    * Output: (node, community, new_community, gain_num DECIMAL(38,0))
    * — gain_num is 0 for ineligible nodes and stayers.
    */
  def louvainStep(edges: DataFrame, labels: DataFrame,
      parity: Int = 0): DataFrame = {
    val d = louvainStepDriver(edges, labels, parity)
    if (d.isDefined) return d.get
    louvainStepDistributed(edges, labels, parity)
  }

  /** Two-regime driver replay of the GENERAL half-sweep (optimization
    * round 19 — the louvainFitDriver precedent extended to the labeled
    * step): the same [[DriverRegime]] gate, one bounded take of edges
    * AND labels, then the identical recurrence
    * in Long (≡ the decimal(19×19→38) tree — exact under
    * [[driverLongGainMaxM]]): labels-driven community
    * degree sums with absent-degree nodes contributing 0, k_ic counts
    * over labeled dsts, parity eligibility, cn ≠ community, the
    * (gain DESC, cn ASC) pick, gain > 0 move rule, and the same
    * (node, community, new_community, gain_num DECIMAL(38,0)) output —
    * row-identical by construction (GraphSpec pins the two regimes).
    */
  private def louvainStepDriver(edges: DataFrame, labels: DataFrame,
      parity: Int): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    val lblCols = labels.select(col("node"), col("community"))
    if (!(pairCols.schema.fields ++ lblCols.schema.fields)
        .forall(_.dataType == LongType)) return None
    val eRows = DriverRegime.pull(pairCols).getOrElse(return None)
    val lRows = DriverRegime.pull(lblCols).getOrElse(return None)
    val lbl = scala.collection.mutable.LongMap.empty[Long]
    lRows.foreach(r => lbl(r.getLong(0)) = r.getLong(1))
    // deg + m over ALL edge srcs (the step's degree aggregate)
    val deg = scala.collection.mutable.LongMap.empty[Long]
    eRows.foreach { r => deg(r.getLong(0)) = deg.getOrElse(r.getLong(0), 0L) + 1L }
    var m = 0L
    deg.foreachValue(k => m += k)
    // Long gain arithmetic is EXACT under the driver threshold: every
    // operand is bounded by M = Σdeg (k_ic, k_i,a, d_c ≤ M), so
    // |gain| ≤ 3·M² — Long-safe whenever M ≤ driverLongGainMaxM
    // (1.5e9 ⇒ 3M² ≤ 6.75e18 < 2^63). The DriverRegime threshold puts
    // M ≤ MaxRows, six orders inside the bound; a threshold raised past
    // it falls back to the distributed decimal(38) tree rather than
    // overflowing silently.
    if (m > driverLongGainMaxM) return None
    val mL = m.toLong
    // labels-driven community degree sums (absent degree ⇒ 0)
    val dsum = scala.collection.mutable.LongMap.empty[Long]
    lRows.foreach { r =>
      val c = r.getLong(1)
      dsum(c) = dsum.getOrElse(c, 0L) + deg.getOrElse(r.getLong(0), 0L)
    }
    // k_ic counts over labeled dsts (primitive map — the tuple-keyed
    // HashMap allocated per edge; see PairCount scaladoc)
    val kic = new PairCount(eRows.length)
    eRows.foreach { r =>
      lbl.get(r.getLong(1)).foreach { cn =>
        kic.addTo(r.getLong(0), cn, 1L)
      }
    }
    // best candidate per eligible node: max gain, tie min cn
    val bestG = scala.collection.mutable.LongMap.empty[Long]
    val bestC = scala.collection.mutable.LongMap.empty[Long]
    var ji = 0
    while (ji < kic.capacity) {
      if (kic.isUsed(ji)) {
        val node = kic.keyA(ji); val cn = kic.keyB(ji)
        val kicv = kic.value(ji)
        lbl.get(node).foreach { com =>
          if (((node % 2) + 2) % 2 == parity && cn != com) {
            val ki = deg.getOrElse(node, 0L)
            val kia = kic.get(node, com)
            val gain = mL * (kicv - kia) -
              ki * (dsum(cn) - dsum(com)) - ki * ki
            val better = bestG.get(node) match {
              case Some(g0) => gain > g0 || (gain == g0 && cn < bestC(node))
              case None => true
            }
            if (better) { bestG(node) = gain; bestC(node) = cn }
          }
        }
      }
      ji += 1
    }
    val out = lRows.map { r =>
      val node = r.getLong(0); val com = r.getLong(1)
      val (nc, g) = bestG.get(node) match {
        case Some(g0) if g0 > 0 => (bestC(node), g0)
        case _ => (com, 0L)
      }
      Row(node, com, nc, java.math.BigDecimal.valueOf(g))
    }.toSeq
    Some(DriverRegime.frame(edges.sparkSession, out, DriverRegime.schema(
      "node" -> LongType, "community" -> LongType,
      "new_community" -> LongType, "gain_num" -> DecimalType(38, 0))))
  }

  private def louvainStepDistributed(edges: DataFrame, labels: DataFrame,
      parity: Int): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(count(lit(1)).as("k"))
      .localCheckpoint(true)
    val mRow = deg.agg(sum(col("k")).as("m_dir"))
    // labels-driven (left) so zero-out-degree labeled nodes keep their
    // community represented — the own-side d_a join below must find a
    // row for EVERY labeled node's community
    val dsum = labels.select(col("node").as("src"), col("community"))
      .join(deg, Seq("src"), "left")
      .groupBy(col("community"))
      .agg(sum(coalesce(col("k"), lit(0L))).as("d_c"))
      .localCheckpoint(true) // feeds the own-side AND candidate-side joins
    val kic = edges
      .join(labels.select(col("node").as("dst"), col("community").as("cn")), "dst")
      .select(col("src").as("node"), col("cn"))
      .groupBy(col("node"), col("cn")).agg(count(lit(1)).as("k_ic"))
      .localCheckpoint(true) // feeds k_iA lookup AND the candidate set
    val base = labels
      .join(deg.select(col("src").as("node"), col("k").as("k_i")),
        Seq("node"), "left")
      .withColumn("k_i", coalesce(col("k_i"), lit(0L)))
      .join(kic.select(col("node"), col("cn").as("community"),
        col("k_ic").as("k_ia_raw")), Seq("node", "community"), "left")
      .join(dsum.select(col("community"), col("d_c").as("d_a")), "community")
      .select(col("node"), col("community"), col("k_i"),
        coalesce(col("k_ia_raw"), lit(0L)).as("k_ia"), col("d_a"))
    val cand = base.where(pmod(col("node"), lit(2)) === parity)
      .join(kic, "node").where(col("cn") =!= col("community"))
      .join(dsum.select(col("community").as("cn"), col("d_c").as("d_b")), "cn")
      .crossJoin(broadcast(mRow))
      .withColumn("gain",
        (col("m_dir").cast(d19) * (col("k_ic") - col("k_ia")).cast(d19)
          - col("k_i").cast(d19) * (col("d_b") - col("d_a")).cast(d19)
          - col("k_i").cast(d19) * col("k_i").cast(d19)).cast(d38))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("gain").desc, col("cn"))
    val best = cand.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("node"), col("cn"), col("gain"))
    base.join(best, Seq("node"), "left")
      .select(col("node"), col("community"),
        when(col("gain") > 0, col("cn")).otherwise(col("community"))
          .as("new_community"),
        coalesce(when(col("gain") > 0, col("gain")), lit(0).cast(d38))
          .as("gain_num"))
  }

  /** [[louvainStep]] on a WEIGHTED graph — the move phase levels ≥ 2 of
    * the published algorithm run on the contracted super-graph, where
    * parallel edges have been folded into integer weights and
    * self-loops carry each super-node's internal mass ([[coarsen]]'s
    * output shape (src, dst, w)). Three deltas from the unweighted
    * step, all forced by self-loops:
    *
    *  - degrees are weight sums and INCLUDE the self-loop (its mass
    *    moves with the node, exactly like Blondel's k_i);
    *  - neighbor-community link weights k_ic EXCLUDE self-edges (a
    *    node's own loop is not a link to another member);
    *  - the gain algebra is unchanged — with those two conventions the
    *    self-loop cancels out of the intra deltas and
    *    gain_num = M·(k_iB − k_iA) − k_i·(d_B − d_A) − k_i² holds
    *    verbatim (same decimal(19×19→38) widening, no float).
    *
    * With identity labels (every super-node its own community) this IS
    * the level-2 move phase; [[louvainStep]] is the w ≡ 1, loop-free
    * special case. Same red-black parity eligibility, same
    * (gain DESC, target ASC) tie-break, same output shape.
    */
  def louvainStepWeighted(edges: DataFrame, labels: DataFrame,
      parity: Int = 0): DataFrame = {
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("k"))
      .localCheckpoint(true)
    val mRow = deg.agg(sum(col("k")).as("m_dir"))
    val dsum = labels.select(col("node").as("src"), col("community"))
      .join(deg, Seq("src"), "left")
      .groupBy(col("community"))
      .agg(sum(coalesce(col("k"), lit(0L))).as("d_c"))
      .localCheckpoint(true)
    val kic = edges.where(col("src") =!= col("dst"))
      .join(labels.select(col("node").as("dst"), col("community").as("cn")), "dst")
      .select(col("src").as("node"), col("cn"), col("w"))
      .groupBy(col("node"), col("cn")).agg(sum(col("w")).as("k_ic"))
      .localCheckpoint(true)
    val base = labels
      .join(deg.select(col("src").as("node"), col("k").as("k_i")),
        Seq("node"), "left")
      .withColumn("k_i", coalesce(col("k_i"), lit(0L)))
      .join(kic.select(col("node"), col("cn").as("community"),
        col("k_ic").as("k_ia_raw")), Seq("node", "community"), "left")
      .join(dsum.select(col("community"), col("d_c").as("d_a")), "community")
      .select(col("node"), col("community"), col("k_i"),
        coalesce(col("k_ia_raw"), lit(0L)).as("k_ia"), col("d_a"))
    val cand = base.where(pmod(col("node"), lit(2)) === parity)
      .join(kic, "node").where(col("cn") =!= col("community"))
      .join(dsum.select(col("community").as("cn"), col("d_c").as("d_b")), "cn")
      .crossJoin(broadcast(mRow))
      .withColumn("gain",
        (col("m_dir").cast(d19) * (col("k_ic") - col("k_ia")).cast(d19)
          - col("k_i").cast(d19) * (col("d_b") - col("d_a")).cast(d19)
          - col("k_i").cast(d19) * col("k_i").cast(d19)).cast(d38))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("node")).orderBy(col("gain").desc, col("cn"))
    val best = cand.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("node"), col("cn"), col("gain"))
    base.join(best, Seq("node"), "left")
      .select(col("node"), col("community"),
        when(col("gain") > 0, col("cn")).otherwise(col("community"))
          .as("new_community"),
        coalesce(when(col("gain") > 0, col("gain")), lit(0).cast(d38))
          .as("gain_num"))
  }

  /** The fixed-2-level Louvain DRIVER (Blondel et al. 2008's outer
    * loop, unrolled to the two levels the registered pieces compose),
    * always from the published SINGLETON initialization — every node
    * its own community — which is why both levels run the
    * [[louvainStepIdentity]] specialization:
    *
    *   level 1: [[louvainStepIdentity]] half-sweep on the input graph
    *            (identity labels ARE the singleton init) → L1;
    *   contract: [[coarsen]] collapses L1 into the weighted super-graph
    *            (tiny by construction — that is the phase's point);
    *   level 2: [[louvainStepIdentity]] half-sweep on the super-graph —
    *            the contracted graph restarts singleton by the
    *            algorithm, so the identity specialization applies
    *            again (GraphSpec pins identity ≡ general row-for-row
    *            on both fixture levels and both parities).
    *
    * Node-universe contract: the output covers exactly the edge SRC
    * set (the step's degree aggregate defines the node set). The
    * supply-graph contract feeds a SYMMETRIC edge list, so src = src ∪
    * dst; a caller with an asymmetric list must symmetrize first or
    * sink-only nodes are absent from the output.
    *
    * Output: one row per ORIGINAL node, (node, c1, c2) — its level-1
    * community and its final community after the level-2 merge (the
    * super-node's new home), both BIGINT. Projecting Q is invariant
    * under contraction, so Q(node→c2) on the original graph equals
    * Q(super-node partition) on the contracted one; GraphSpec pins
    * Q(c2) ≥ Q(c1) on the fixture (measured, not assumed — parallel
    * half-sweeps do not guarantee monotonicity).
    *
    * Scale shape, measured honestly: ONE half-sweep merges at most
    * half the nodes, so a single level's contraction shrinks the graph
    * by ~2×, not to |C|² triviality (sf0.1: 21k nodes → ~10.5k
    * super-nodes; level 2's joins run over a comparably-sized edge
    * list — multi costs ~2 levels' worth of edge passes, ~8 s cold at
    * sf0.1 on the identity step). The drastic published contraction
    * comes from iterating the move phase to convergence WITHIN a
    * level; this operator registers the exactly-replayable
    * one-sweep-per-level form, and [[louvainFit]] runs the ladder
    * deeper under the Q-gate.
    */
  def louvainMulti(edges: DataFrame): DataFrame = {
    val d = louvainMultiDriver(edges)
    if (d.isDefined) return d.get
    val l1 = louvainStepIdentity(
        edges.select(col("src"), col("dst")).withColumn("w", lit(1L)),
        parity = 0)
      .select(col("node"), col("new_community").as("community"))
      .localCheckpoint(true) // feeds the contraction AND the output join
    val g2 = coarsen(edges, l1)
    val l2 = louvainStepIdentity(
      g2.select(col("c_src").as("src"), col("c_dst").as("dst"), col("w")),
      parity = 0)
    l1.join(l2.select(col("node").as("community"),
        col("new_community").as("c2")), "community")
      .select(col("node"), col("community").as("c1"), col("c2"))
  }

  /** Louvain phase-2 graph CONTRACTION (Blondel et al. 2008): collapse
    * each community of `labels` into a super-node and aggregate
    * parallel edges into integer weights — self-loops carry the intra-
    * community edge mass, exactly what the next level's move phase
    * needs. Output: (c_src, c_dst, w) with w = directed edge count
    * between the two communities. One pass over the edge list (two
    * label joins — the Modularity.score shape) into a map-side-combined
    * aggregate of at most |C|² rows; at any corpus scale the contracted
    * graph is the small one (that's the point of the phase).
    */
  def coarsen(edges: DataFrame, labels: DataFrame): DataFrame = {
    val d = coarsenDriver(edges, labels)
    if (d.isDefined) return d.get
    val la = labels.select(col("node").as("src"), col("community").as("c_src"))
    val lb = labels.select(col("node").as("dst"), col("community").as("c_dst"))
    edges.join(la, "src").join(lb, "dst")
      .groupBy(col("c_src"), col("c_dst"))
      .agg(count(lit(1)).as("w"))
  }

  /** Two-regime driver replay of [[coarsen]] (same gate): counts
    * per (label(src), label(dst)) over edges whose BOTH endpoints are
    * labeled — the inner-join semantics replicated. */
  private def coarsenDriver(edges: DataFrame,
      labels: DataFrame): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    val lblCols = labels.select(col("node"), col("community"))
    if (!(pairCols.schema.fields ++ lblCols.schema.fields)
        .forall(_.dataType == LongType)) return None
    val eRows = DriverRegime.pull(pairCols).getOrElse(return None)
    val lRows = DriverRegime.pull(lblCols).getOrElse(return None)
    val lbl = scala.collection.mutable.LongMap.empty[Long]
    lRows.foreach(r => lbl(r.getLong(0)) = r.getLong(1))
    val agg = new PairCount(eRows.length)
    eRows.foreach { r =>
      (lbl.get(r.getLong(0)), lbl.get(r.getLong(1))) match {
        case (Some(cs), Some(cd)) => agg.addTo(cs, cd, 1L)
        case _ => ()
      }
    }
    val out = Seq.newBuilder[Row]
    out.sizeHint(agg.size)
    var ji = 0
    while (ji < agg.capacity) {
      if (agg.isUsed(ji))
        out += Row(agg.keyA(ji), agg.keyB(ji), agg.value(ji))
      ji += 1
    }
    Some(DriverRegime.frame(edges.sparkSession, out.result(),
      DriverRegime.schema("c_src" -> LongType, "c_dst" -> LongType,
        "w" -> LongType)))
  }

  /** Two-regime driver replay of the fixed-2-level driver (same gate;
    * the louvainFitDriver machinery specialized to exactly two
    * identity-labeled levels and the (node, c1, c2) projection). */
  private def louvainMultiDriver(edges: DataFrame): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    val eSrc = rows.map(_.getLong(0)); val eDst = rows.map(_.getLong(1))
    // Long-gain bound (see driverLongGainMaxM): M = Σw is invariant
    // under contraction, and level 1 has w ≡ 1, so one check of the
    // pair count covers both identityMove levels
    if (rows.length.toLong > driverLongGainMaxM) return None
    // identity half-sweep on a weighted driver graph: (src, dst, w) →
    // node → new_community (the louvainFitDriver move step)
    def identityMove(gs: Array[Long], gd: Array[Long],
        gw: Array[Long]): scala.collection.mutable.LongMap[Long] = {
      val deg = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < gs.length) { deg(gs(i)) = deg.getOrElse(gs(i), 0L) + gw(i); i += 1 }
      var m = 0L
      deg.foreachValue(k => m += k)
      val bestG = scala.collection.mutable.LongMap.empty[Long]
      val bestC = scala.collection.mutable.LongMap.empty[Long]
      i = 0
      while (i < gs.length) {
        val u = gs(i); val v = gd(i)
        if (u != v && ((u % 2) + 2) % 2 == 0) {
          val ki = deg(u)
          val gain = m * gw(i) - ki * (deg(v) - deg(u)) - ki * ki
          val better = bestG.get(u) match {
            case Some(g0) => gain > g0 || (gain == g0 && v < bestC(u))
            case None => true
          }
          if (better) { bestG(u) = gain; bestC(u) = v }
        }
        i += 1
      }
      val moved = scala.collection.mutable.LongMap.empty[Long]
      deg.foreachKey { u =>
        moved(u) = bestG.get(u) match {
          case Some(g0) if g0 > 0 => bestC(u)
          case _ => u
        }
      }
      moved
    }
    val l1 = identityMove(eSrc, eDst, Array.fill(eSrc.length)(1L))
    // coarsen (count per community pair — the unweighted [[coarsen]])
    val agg = new PairCount(eSrc.length)
    var i = 0
    while (i < eSrc.length) {
      agg.addTo(l1(eSrc(i)), l1(eDst(i)), 1L)
      i += 1
    }
    val n2 = agg.size
    val gs = new Array[Long](n2); val gd = new Array[Long](n2)
    val gw = new Array[Long](n2)
    var j = 0; var ji = 0
    while (ji < agg.capacity) {
      if (agg.isUsed(ji)) {
        gs(j) = agg.keyA(ji); gd(j) = agg.keyB(ji); gw(j) = agg.value(ji)
        j += 1
      }
      ji += 1
    }
    val l2 = identityMove(gs, gd, gw)
    Some(DriverRegime.frame(edges.sparkSession,
      l1.toSeq.map { case (node, c1) => Row(node, c1, l2(c1)) },
      DriverRegime.schema("node" -> LongType, "c1" -> LongType,
        "c2" -> LongType)))
  }

  /** [[score]] for a WEIGHTED graph (src, dst, w) — intra mass and
    * degrees are weight sums, self-loops count in both (they are intra
    * by definition and their weight is outgoing mass), the exact
    * decimal algebra is unchanged. Because contraction preserves
    * modularity, pricing a level's move on the CURRENT super-graph
    * with this equals pricing the composed labels on the original
    * graph with [[score]] (GraphSpec pins the identity on the fixture)
    * — which is what lets [[louvainFit]] collect per-level Q from the
    * contracted graph (≤ half the previous level's nodes per
    * half-sweep) instead of re-scanning the original edge list every
    * level.
    */
  def scoreWeighted(edges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("src"), col("community").as("ca"))
    val lb = labels.select(col("node").as("dst"), col("community").as("cb"))
    val intra = edges.join(la, "src").join(lb, "dst")
      .where(col("ca") === col("cb"))
      .groupBy(col("ca").as("community"))
      .agg(sum(col("w")).as("e_dir"))
    val deg = edges.groupBy(col("src")).agg(sum(col("w")).as("d"))
      .localCheckpoint(true)
    val dsum = labels.select(col("node").as("src"), col("community"))
      .join(deg, Seq("src"), "left")
      .groupBy(col("community"))
      .agg(sum(coalesce(col("d"), lit(0L))).as("d_sum"),
        count(lit(1)).as("n_nodes"))
    val mRow = deg.agg(sum(col("d")).as("m_dir"))
    dsum.join(intra, Seq("community"), "left")
      .crossJoin(broadcast(mRow))
      .select(col("community"), col("n_nodes"),
        coalesce(col("e_dir"), lit(0L)).as("e_dir"), col("d_sum"),
        qNumExact(col("m_dir"), coalesce(col("e_dir"), lit(0L)),
          col("d_sum")).as("q_num"),
        col("m_dir"))
  }

  /** [[louvainStepWeighted]] SPECIALIZED to identity labels (every node
    * its own community) — the only labelling [[louvainFit]]'s ladder
    * ever uses, where the general step's joins collapse algebraically
    * (GraphSpec pins row-for-row equality with the general form):
    *
    *  - k_iA ≡ 0: under identity labels a node's own community has no
    *    other member, so its non-self link weight into it is zero;
    *  - d_A ≡ k_i: the own-community degree sum is the node's own
    *    degree (self-loop included);
    *  - k_iC ≡ w(src→dst): the edge list carries no parallel edges
    *    (the supply contract at level 1; [[coarsenWeighted]]'s groupBy
    *    guarantees it at levels ≥ 2), so the neighbor-community link
    *    weight IS the edge weight — no k_ic aggregate at all.
    *
    * The gain expression is the SAME decimal(19×19→38) tree as the
    * general step with those three substitutions inlined, so gain_num
    * is bit-identical. What disappears per level: the labels frame,
    * the community-degree-sum join+checkpoint, and the k_ic
    * groupBy+checkpoint — the general step's three heaviest stages —
    * leaving one degree aggregate and one edge-level join pass
    * (measured: the r16 ladder's 44 s isolated cold at sf0.1 was
    * dominated by exactly those stages; BASELINE.md round-17 A/B).
    */
  def louvainStepIdentity(g: DataFrame, parity: Int = 0): DataFrame = {
    val deg = g.groupBy(col("src")).agg(sum(col("w")).as("k"))
      .localCheckpoint(true) // feeds both endpoint joins AND m_dir
    val mRow = deg.agg(sum(col("k")).as("m_dir"))
    val cand = g.where(col("src") =!= col("dst"))
      .where(pmod(col("src"), lit(2)) === parity)
      .join(deg.select(col("src"), col("k").as("k_i")), "src")
      .join(deg.select(col("src").as("dst"), col("k").as("d_b")), "dst")
      .crossJoin(broadcast(mRow))
      // the general step's gain tree with k_ia = 0, d_a = k_i,
      // k_ic = w inlined — identical decimal ops, identical values
      .withColumn("gain",
        (col("m_dir").cast(d19) * (col("w") - lit(0L)).cast(d19)
          - col("k_i").cast(d19) * (col("d_b") - col("k_i")).cast(d19)
          - col("k_i").cast(d19) * col("k_i").cast(d19)).cast(d38))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("src")).orderBy(col("gain").desc, col("dst"))
    val best = cand.withColumn("rk", row_number().over(w))
      .where(col("rk") === 1)
      .select(col("src").as("node"), col("dst").as("cn"), col("gain"))
    deg.select(col("src").as("node")).join(best, Seq("node"), "left")
      .select(col("node"), col("node").as("community"),
        when(col("gain") > 0, col("cn")).otherwise(col("node"))
          .as("new_community"),
        coalesce(when(col("gain") > 0, col("gain")), lit(0).cast(d38))
          .as("gain_num"))
  }

  /** [[coarsen]] for an already-WEIGHTED graph (levels ≥ 2): parallel
    * super-edges fold by SUMMING weights instead of counting rows —
    * total edge mass is preserved across every level.
    */
  def coarsenWeighted(edges: DataFrame, labels: DataFrame): DataFrame = {
    val la = labels.select(col("node").as("src"), col("community").as("c_src"))
    val lb = labels.select(col("node").as("dst"), col("community").as("c_dst"))
    edges.join(la, "src").join(lb, "dst")
      .groupBy(col("c_src"), col("c_dst"))
      .agg(sum(col("w")).as("w"))
  }

  /** The FREE-CONVERGENCE Louvain driver — the published outer loop
    * (Blondel et al. 2008) adapted to the distributed move phase: from
    * singletons, repeat (move half-sweep, contract) on the successively
    * smaller weighted graph, and return the BEST partition the ladder
    * visits, stopping after `patience` consecutive levels fail to set a
    * new modularity maximum (the loop-until-dry discipline).
    *
    * Why best-of with patience instead of the serial algorithm's
    * strict improve-only acceptance: the serial inner loop moves ONE
    * node at a time, so Q never decreases; the distributed half-sweep
    * is one PARALLEL inner iteration whose per-node gains assume every
    * other node stays, and mass moves can overshoot — measured on the
    * fixture (sf0.001): singletons price −381,238, level 1 DIPS to
    * −1,448,502, level 2 recovers past the start to −369,994 (sf0.01:
    * −28.2M → −37.5M → +64.3M). A strict Q-stop would quit inside the
    * dip and return singletons; the ladder runs through it and the
    * selection keeps the best, so the result is ≥ the singleton
    * baseline by construction.
    *
    * The `kmeans_fit` pattern applies: the level count is
    * data-dependent, so the registered query is declared rows-only,
    * and GraphSpec cross-checks against the hash-gated fixed-2-level
    * [[louvainMulti]] twin (on the fixture the best-of-2 ladder IS
    * multi's level-2 state) plus the Q(fit) ≥ Q(singleton) and
    * Q(fit) ≥ Q(multi) floors. Per level the driver collects exactly
    * ONE row (the exact decimal Q-numerator total — the K-row
    * RPC-collect discipline), priced on the CURRENT super-graph via
    * [[scoreWeighted]] — contraction preserves Q (spec-pinned
    * identity), so level k's 1-row aggregate runs over level k's own
    * contracted graph, NOT a re-scan of the original edge list (the
    * original graph is touched exactly twice: the level-1 move and the
    * level-1 contraction). Each half-sweep merges at most half the
    * nodes, so levels shrink ~2× each — measured ~15 s cold at sf0.1
    * for the 4-level ladder after the r17 identity-specialization cut
    * ([[louvainStepIdentity]] + the one-scan qNumIdent + the
    * zero-mover plateau exit; 2.9× under r16's 44 s — BASELINE r17),
    * the price of the complete algorithm rather than a scan.
    *
    * Returns (node, community) — the best composed label per original
    * node.
    */
  def louvainFit(edges: DataFrame, maxLevels: Int = 4,
      patience: Int = 2): DataFrame =
    louvainFitDriver(edges, maxLevels, patience)
      .getOrElse(louvainFitDistributed(edges, maxLevels, patience))

  /** Two-regime driver replay of the full free-convergence ladder
    * (optimization round 19, guide §1.2 step 1 — the Mst/Scc/CC
    * precedent): under the [[DriverRegime]] gate ONE bounded take
    * pulls the deduplicated symmetric edge list and the driver replays
    * the IDENTICAL recurrence level for level — the same
    * parity-0 half-sweep gains in exact integers (Long ≡ the
    * decimal(38) tree under [[driverLongGainMaxM]]: every operand is
    * bounded by M, |gain| ≤ 3·M²), the
    * same (gain DESC, dst ASC) best-move tie-break, the same gain > 0
    * move rule, the same zero-mover plateau exit, the same weighted
    * contraction, the same 1-row exact Q-numerator pricing and
    * best-of-patience selection. NOT a different algorithm: the level
    * ladder, the parity sweep and the tie rules are replicated
    * branch-for-branch, so the returned labels are row-identical
    * (GraphSpec pins driver ≡ distributed on the fixture plus the
    * standing Q floors and twin cross-checks). JobProfile motivation:
    * the distributed ladder costs ~102 sequential sub-100 ms jobs at
    * sf0.1 (8 s warm of per-job floor); at 10× derived scale the edge
    * relation exceeds the threshold and the distributed path runs
    * unchanged.
    */
  private def louvainFitDriver(edges: DataFrame, maxLevels: Int,
      patience: Int): Option[DataFrame] = {
    val pairCols = edges.select(col("src"), col("dst"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    // Long-gain bound (see driverLongGainMaxM): M = Σw is invariant
    // under contraction and level 1 has w ≡ 1
    if (rows.length.toLong > driverLongGainMaxM) return None

    // level-1 graph: the deduplicated pairs, weight 1 each
    var gSrc = rows.map(_.getLong(0))
    var gDst = rows.map(_.getLong(1))
    var gW = Array.fill(rows.length)(1L)
    // original-node mapping (node → community), init identity over the
    // distinct src set (the graph is symmetric, so src covers all nodes)
    var mapping = scala.collection.mutable.LongMap.empty[Long]
    gSrc.foreach(v => mapping.getOrElseUpdate(v, v))
    var best = mapping.clone()

    // qNumIdent: M·Σself − Σd² in exact integers over the current graph
    def qNum(): Long = {
      val d = scala.collection.mutable.LongMap.empty[Long]
      var ssl = 0L
      var i = 0
      while (i < gSrc.length) {
        d(gSrc(i)) = d.getOrElse(gSrc(i), 0L) + gW(i)
        if (gSrc(i) == gDst(i)) ssl += gW(i)
        i += 1
      }
      // Long-exact under driverLongGainMaxM: Σd² ≤ (Σd)² = M² and
      // M·Σself ≤ M²
      var m = 0L; var dsq = 0L
      d.foreachValue { k => m += k; dsq += k * k }
      m * ssl - dsq
    }
    var bestQ = qNum()
    var level = 0
    var dry = 0
    while (dry < patience && level < maxLevels) {
      // louvainStepIdentity, parity 0: per-node degree, half-sweep gains
      val deg = scala.collection.mutable.LongMap.empty[Long]
      var i = 0
      while (i < gSrc.length) {
        deg(gSrc(i)) = deg.getOrElse(gSrc(i), 0L) + gW(i); i += 1
      }
      var m = 0L
      deg.foreachValue(k => m += k)
      // best move per even src: max gain, tie-broken by min dst — the
      // (gain DESC, dst ASC) row_number window
      val bestMoveG = scala.collection.mutable.LongMap.empty[Long]
      val bestMoveC = scala.collection.mutable.LongMap.empty[Long]
      i = 0
      while (i < gSrc.length) {
        val u = gSrc(i); val v = gDst(i)
        if (u != v && ((u % 2) + 2) % 2 == 0) { // pmod(src, 2) === 0
          val ki = deg(u)
          val gain = m * gW(i) - ki * (deg(v) - deg(u)) - ki * ki
          bestMoveG.get(u) match {
            case Some(g0) if gain < g0 || (gain == g0 && v >= bestMoveC(u)) => ()
            case _ => bestMoveG(u) = gain; bestMoveC(u) = v
          }
        }
        i += 1
      }
      // new_community per super-node: best dst when gain > 0, else self
      val moved = scala.collection.mutable.LongMap.empty[Long]
      var movers = 0L
      deg.foreachKey { u =>
        val nc = bestMoveG.get(u) match {
          case Some(g0) if g0 > 0 => bestMoveC(u)
          case _ => u
        }
        moved(u) = nc
        if (nc != u) movers += 1
      }
      if (movers == 0L) { level = maxLevels; dry = patience }
      else {
        // compose the mapping, contract the graph, price the level
        val next = scala.collection.mutable.LongMap.empty[Long]
        mapping.foreach { case (node, c) => next(node) = moved(c) }
        mapping = next
        val agg = new PairCount(gSrc.length)
        i = 0
        while (i < gSrc.length) {
          agg.addTo(moved(gSrc(i)), moved(gDst(i)), gW(i))
          i += 1
        }
        val n = agg.size
        val ns = new Array[Long](n); val nd = new Array[Long](n)
        val nw = new Array[Long](n)
        var j = 0; var ji = 0
        while (ji < agg.capacity) {
          if (agg.isUsed(ji)) {
            ns(j) = agg.keyA(ji); nd(j) = agg.keyB(ji); nw(j) = agg.value(ji)
            j += 1
          }
          ji += 1
        }
        gSrc = ns; gDst = nd; gW = nw
        val q = qNum()
        if (q > bestQ) { bestQ = q; best = mapping.clone(); dry = 0 }
        else dry += 1
        level += 1
      }
    }
    Some(DriverRegime.frame(edges.sparkSession,
      best.toSeq.map { case (node, c) => Row(node, c) },
      DriverRegime.schema("node" -> LongType, "community" -> LongType)))
  }

  private def louvainFitDistributed(edges: DataFrame, maxLevels: Int,
      patience: Int): DataFrame = {
    // identity-labelled weighted Q total of a super-graph: every node
    // its own community, so intra = the self-loop mass and d_c = the
    // node's own degree — the [[scoreWeighted]] sum collapses to
    // Σ_c (M·e_c − d_c²) = M·Σself − Σd², ONE scan of the contracted
    // edge list (per-src degree+self-loop aggregate, 1-row collect)
    // instead of the general scorer's two label joins + checkpoint
    // (GraphSpec pins equality with the general form; the r17 ladder
    // cost cut rests on this and louvainStepIdentity)
    def qNumIdent(g: DataFrame): BigInt = {
      val r = g.groupBy(col("src"))
        .agg(sum(col("w")).as("d"),
          sum(when(col("src") === col("dst"), col("w")).otherwise(lit(0L)))
            .as("sl"))
        .agg(sum(col("d")).as("m"), sum(col("sl")).as("ssl"),
          sum((col("d").cast(d19) * col("d").cast(d19)).cast(d38))
            .cast(DecimalType(38, 0)).as("dsq"))
        .head()
      BigInt(r.getLong(0)) * BigInt(r.getLong(1)) -
        BigInt(r.getDecimal(2).toBigIntegerExact)
    }
    val nodes = edges.select(col("src").as("node")).distinct()
    var mapping = nodes.select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    var best = mapping
    // materialize the level-1 weighted graph ONCE (optimization round
    // 19, guide §2.4): qNumIdent, the move step's degree aggregate, its
    // candidate join, and the contraction each act on g — without this
    // checkpoint every one of those actions re-ran the upstream edge
    // derivation (JobProfile: repeated 0.6 s scan+distinct jobs inside
    // one louvainFit call)
    var g = edges.select(col("src"), col("dst")).withColumn("w", lit(1L))
      .localCheckpoint(true)
    // the singleton baseline (evaluates to −Σ d² on a loop-free graph)
    var bestQ = qNumIdent(g)
    var level = 0
    var dry = 0
    while (dry < patience && level < maxLevels) {
      // identity labels are the ladder's invariant — the specialized
      // step (GraphSpec pins its equality with the general form) skips
      // the general step's label/community-degree/k_ic stages
      val moved = louvainStepIdentity(g, parity = 0)
        .select(col("node").as("_sup"), col("new_community"))
        .localCheckpoint(true)
      // plateau early-exit (1 count over the checkpointed |super-nodes|
      // frame): zero movers ⇒ the graph cannot contract, every later
      // level replays identically, Q never changes — so the remaining
      // ladder is dead weight and `best` is already final (exactly what
      // letting `patience` run out would return, minus the dead levels)
      if (moved.where(col("new_community") =!= col("_sup")).isEmpty) {
        level = maxLevels; dry = patience
      } else {
        mapping = mapping
          .join(moved, mapping("community") === moved("_sup"))
          .select(col("node"), col("new_community").as("community"))
          .localCheckpoint(true)
        g = coarsenWeighted(g,
            moved.select(col("_sup").as("node"),
              col("new_community").as("community")))
          .select(col("c_src").as("src"), col("c_dst").as("dst"), col("w"))
          .localCheckpoint(true)
        // the 1-row per-level collect — the level's Q priced on its OWN
        // contracted graph (identity labels), which the next level needs
        // anyway: contraction preserves Q (scoreWeighted scaladoc,
        // spec-pinned), so no original-graph re-scan ever happens here
        val q = qNumIdent(g)
        if (q > bestQ) { bestQ = q; best = mapping; dry = 0 }
        else dry += 1
        level += 1
      }
    }
    best
  }
}
