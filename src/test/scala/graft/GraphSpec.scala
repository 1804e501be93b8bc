package graft

import org.apache.spark.sql.functions._

/** Fixed-point PageRank: the distributed result must EQUAL a
  * driver-side sequential replay bit-for-bit — that is the whole point
  * of the integer formulation (order-free exact arithmetic; see
  * PageRank scaladoc).
  */
class GraphSpec extends SparkSpec {

  test("distributed integer PageRank equals the exact sequential replay") {
    import spark.implicits._
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edgesDf = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .union(pairs.select(col("prt").as("src"), col("sup").as("dst")))
    val got = graft.operators.PageRank.run(edgesDf, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // sequential replay with identical Long arithmetic
    val edges = edgesDf.as[(Long, Long)].collect()
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct
    var rank = nodes.map(_ -> 1000000L).toMap
    for (_ <- 1 to 3) {
      val sums = new scala.collection.mutable.HashMap[Long, Long]()
      edges.foreach { case (s, d) =>
        sums.update(d, sums.getOrElse(d, 0L) + rank(s) / deg(s))
      }
      rank = nodes.map(n => n -> (150000L + 850L * sums.getOrElse(n, 0L) / 1000L)).toMap
    }
    assert(got.size == rank.size)
    assert(got == rank, "distributed != sequential replay")
    // sanity: total mass stays near N (damping redistributes, floors leak)
    val total = rank.values.sum
    assert(total > nodes.length * 900000L && total <= nodes.length * 1000000L)
    // two-regime driver gate (optimization round 19): the distributed
    // loop must equal the driver replay for all three pagerank forms
    val drvW = graft.operators.PageRank
      .runWeighted(edgesDf.withColumn("w", lit(2L)), iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val seeds = Seq(1L, 2L).toDF("node")
    val drvP = graft.operators.PageRank
      .runPersonalized(edgesDf, seeds, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    withDistributed {
      val dist = graft.operators.PageRank.run(edgesDf, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == got, "pagerank distributed != driver replay")
      val distW = graft.operators.PageRank
        .runWeighted(edgesDf.withColumn("w", lit(2L)), iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(distW == drvW, "weighted pagerank distributed != driver replay")
      val distP = graft.operators.PageRank
        .runPersonalized(edgesDf, seeds, iters = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(distP == drvP, "personalized pagerank distributed != driver replay")
    }
  }

  test("degree-ordered triangle count equals known enumeration") {
    // graph with known triangles: K4 on {1,2,3,4} plus a pendant edge
    // (5,1) and an isolated edge (6,7) — K4 has C(4,3)=4 triangles,
    // each K4 node sits in exactly C(3,2)=3 of them; 5, 6, 7 in none
    import spark.implicits._
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (5L, 1L), (6L, 7L)).toDF("u", "v")
    val got = graft.operators.Triangles.countPerNode(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
    // two-regime pin (optimization round 19): the broadcast-adjacency
    // probe (the default under the DriverRegime count gate)
    // must equal the distributed sort-merge probe exactly
    withDistributed {
      val dist = graft.operators.Triangles.countPerNode(edges).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == got, "distributed probe != broadcast probe")
    }
  }

  test("k-core: fixed rounds under-peel a long path; converged form is exact") {
    import spark.implicits._
    // path 1-2-3-...-12 plus a K4 on {100,101,102,103}: the 2-core is
    // exactly the K4 (a path has no 2-core), but peeling eats the path
    // one layer per round from each end — 3 rounds leave path remnants
    val path = (1L until 12L).map(i => (i, i + 1))
    val k4 = Seq((100L, 101L), (100L, 102L), (100L, 103L),
      (101L, 102L), (101L, 103L), (102L, 103L))
    val edges = (path ++ k4).toDF("u", "v")
    val fixed3 = graft.operators.KCore.peel(edges, k = 2, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    val exact = graft.operators.KCore.peelConverged(edges, k = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(exact == Map(100L -> 3L, 101L -> 3L, 102L -> 3L, 103L -> 3L),
      s"true 2-core must be the K4, got $exact")
    assert(fixed3.exists(_ < 100L),
      "fixed-3 peel should still hold path remnants (else the test graph is too short)")
  }

  test("graph_kcore's fixed-3 peel reaches the true fixpoint on the fixture") {
    val e = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = e.alias("a").join(e.alias("b"), col("a.ok") === col("b.ok"))
      .where(col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val fixed = graft.operators.KCore.peel(edges, k = 3, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.operators.KCore.peelConverged(edges, k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fixed == exact,
      "fixed-3 must equal the converged 3-core on the fixture graph")
    exact.values.foreach(d => assert(d >= 3L, "every 3-core degree >= 3"))
    // two-regime gate (optimization round 19): the distributed peel
    // must produce the identical (node, deg) rows as the driver replay
    withDistributed {
      val dist = graft.operators.KCore.peel(edges, k = 3, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == fixed, "distributed peel != driver replay")
    }
  }

  test("graph_bfs's fixed-3 frontier reaches the true fixpoint on the fixture") {
    // the registered query's exact inputs: bipartite supply graph, both
    // directions, seeds = suppliers 1..5
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .unionAll(pairs.select(col("prt").as("src"), col("sup").as("dst")))
    val seeds = Tables.supplier(spark, sf)
      .where(col("s_suppkey") <= 5).select(col("s_suppkey").as("node"))
    val fixed = graft.operators.Bfs.run(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val exact = graft.operators.Bfs.runConverged(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(fixed == exact,
      "fixed-3 must equal the converged reach on the fixture supply graph")
    // two-regime driver gate (optimization round 19)
    withDistributed {
      val dist = graft.operators.Bfs.run(edges, seeds, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
      assert(dist == fixed, "bfs distributed != driver replay")
    }
  }

  test("sssp: fixed-3 is hop-bounded on the fixture; the converged audit finds the cheaper routes") {
    // same inputs as the registered graph_sssp (weights = min quantity)
    val pairs = Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"), col("w"))
      .unionAll(pairs.select(col("prt").as("src"), col("sup").as("dst"), col("w")))
    val seeds = Tables.supplier(spark, sf)
      .where(col("s_suppkey") <= 5).select(col("s_suppkey").as("node"))
    val fixed = graft.operators.Sssp.run(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val exact = graft.operators.Sssp.runConverged(edges, seeds)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // at sf0.001 relaxation converges in exactly 3 rounds, so fixed-3
    // IS the fixpoint here; at sf0.01 routes keep improving through
    // round 5, so the registered driver-gate form stays documented as
    // hop-bounded (its oracle replays the identical bounded rounds)
    assert(fixed == exact,
      "fixed-3 must equal the converged shortest paths on the sf0.001 fixture")
    // two-regime driver gate (optimization round 19)
    withDistributed {
      val dist = graft.operators.Sssp.run(edges, seeds, rounds = 3)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == fixed, "sssp distributed != driver replay")
    }
  }

  test("bfs: hop distances on a directed path, frontier stops at rounds") {
    import spark.implicits._
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val seeds = Seq(1L).toDF("node")
    val got = graft.operators.Bfs.run(edges, seeds, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 2L -> 1, 3L -> 2, 4L -> 3),
      s"3 rounds reach exactly nodes 1..4 on the path, got $got")
  }

  test("bfs: multi-source takes the min over seeds; revisits never relabel") {
    import spark.implicits._
    // path 1-2-3-4-5 in both directions, seeds at both ends: node 3 is
    // dist 2 from either seed; nodes 2 and 4 are dist 1 (not re-found
    // at dist 3 via the other end)
    val ue = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L))
    val edges = (ue ++ ue.map(_.swap)).toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("node")
    val got = graft.operators.Bfs.run(edges, seeds, rounds = 4)
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got == Map(1L -> 0, 5L -> 0, 2L -> 1, 4L -> 1, 3L -> 2))
  }

  test("sssp: cheap long route beats heavy direct edge; delta form = full relaxation") {
    import spark.implicits._
    // 1 →(10)→ 2, 1 →(1)→ 3 →(1)→ 2: cheapest 1→2 is 2 via node 3,
    // but it needs TWO rounds — after one round the heavy direct edge wins
    val edges = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L).toDF("node")
    def distMap(rounds: Int) =
      graft.operators.Sssp.run(edges, seeds, rounds).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(distMap(1) == Map(1L -> 0L, 2L -> 10L, 3L -> 1L))
    assert(distMap(2) == Map(1L -> 0L, 2L -> 2L, 3L -> 1L))
    // extra rounds past the diameter change nothing (fixpoint)
    assert(distMap(3) == distMap(2))
    // delta form ≡ full relaxation, replayed in driver Scala
    val es = Seq((1L, 2L, 10L), (1L, 3L, 1L), (3L, 2L, 1L))
    var full = Map(1L -> 0L)
    for (_ <- 1 to 2)
      full = (full.toSeq ++ es.flatMap { case (s, d, w) =>
        full.get(s).map(ds => d -> (ds + w)) })
        .groupBy(_._1).map { case (n, vs) => n -> vs.map(_._2).min }
    assert(distMap(2) == full)
  }

  test("pagerank broadcast gate: pins win, cap decides, count is lazy") {
    import graft.operators.PageRank
    // the cap forced low refuses broadcast no matter how small the graph
    assert(!PageRank.chooseBroadcast(None, nNodes = 10L,
      broadcastMaxNodes = 0L))
    assert(PageRank.chooseBroadcast(None, nNodes = 10L,
      broadcastMaxNodes = 5000000L))
    // a billion-node graph sails over the default cap
    assert(!PageRank.chooseBroadcast(None,
      nNodes = 1000000000L, broadcastMaxNodes = 5000000L))
    // explicit pins never run the node count (by-name argument)
    assert(PageRank.chooseBroadcast(Some(true),
      nNodes = sys.error("pin must not count"), broadcastMaxNodes = 0L))
  }

  test("one production path: no operator declares an eager Boolean flag") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    // such a flag selects a second, cache- and checkpoint-free path that
    // no query runs and no oracle checks (Spark's own localCheckpoint
    // argument of that name is not a declaration, so it never matches)
    val flag = """eager\s*:\s*Boolean""".r
    val hits: Seq[Path] = scala.util.Using.resource(
        Files.walk(Paths.get("src/main/scala/graft/operators")))(
      _.iterator.asScala.filter { p =>
        p.toString.endsWith(".scala") &&
          flag.findFirstIn(Files.readString(p)).nonEmpty
      }.toList)
    assert(hits.isEmpty, s"eager flags in: ${hits.mkString(", ")}")
  }

  test("pagerank above the broadcast cap: shuffle-join plan, identical ranks") {
    import graft.operators.PageRank
    // isolated session: killing the auto-broadcast thresholds here must
    // not leak into suites asserting broadcast plans elsewhere
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import sess.implicits._
    // directed 20-cycle + chords: every node has outdeg >= 1
    val n = 20L
    val edges = (0L until n)
      .flatMap(i => Seq((i, (i + 1) % n), (i, (i + 5) % n)))
      .toDF("src", "dst")
    val ewd = PageRank.withDegrees(edges)
    val r0 = PageRank.initRanks(edges)
    // large-graph regime (gate refused broadcast): the per-iteration
    // plan must join ranks by SHUFFLE — a regression re-forcing a
    // broadcast of billion-node rank state would show up right here
    val shufPlan = plan(PageRank.step(ewd, r0, doBroadcast = false))
    assert(!shufPlan.contains("BroadcastHashJoin"),
      s"ranks must not broadcast above the cap:\n$shufPlan")
    assert(shufPlan.contains("SortMergeJoin") ||
      shufPlan.contains("ShuffledHashJoin"),
      s"expected a shuffle join on ranks:\n$shufPlan")
    // small-graph regime keeps the broadcast (hint beats the -1 thresholds)
    val bcPlan = plan(PageRank.step(ewd, r0, doBroadcast = true))
    assert(bcPlan.contains("BroadcastHashJoin"),
      s"pinned broadcast regime lost its broadcast join:\n$bcPlan")
    // end to end through run(): the gate forced low (shuffle regime)
    // is integer-exact, so ranks must EQUAL the self-selected
    // broadcast regime's bit for bit
    def ranksOf(maxNodes: Long) =
      PageRank.run(edges, iters = 3, broadcastMaxNodes = maxNodes)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ranksOf(0L) == ranksOf(5000000L),
      "shuffle and broadcast regimes diverged")
  }

  test("modularity: hand-computed two-triangle partition; one-community Q is exactly 0") {
    import spark.implicits._
    import graft.operators.Modularity
    // two triangles bridged by 3−4: m = 7 undirected → M = 14 directed;
    // perfect split {1,2,3}/{4,5,6}: i_c = 6, d_c = 7 per side →
    // q_num = 14·6 − 49 = 35 each, Q = 70/196 = 5/14 (textbook value)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 200L, 5L -> 200L, 6L -> 200L).toDF("node", "community")
    val got = Modularity.score(edges, labels).orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDecimal(4).longValueExact, r.getLong(5))).toSeq
    assert(got == Seq((100L, 3L, 6L, 7L, 35L, 14L),
      (200L, 3L, 6L, 7L, 35L, 14L)), s"modularity table diverged: $got")
    // everything in ONE community: i = M, d_sum = M → q_num = M·M − M² = 0
    val one = labels.select(col("node"), lit(7L).as("community"))
    val q0 = Modularity.score(edges, one).collect()
    assert(q0.length == 1 && q0.head.getDecimal(4).longValueExact == 0L,
      "single-community modularity must be exactly 0")
  }

  test("louvain half-sweep: Q improves on the fixture, only even movers, gains verified") {
    import graft.operators.Modularity
    val edges = graft.queries.GraphQueries.supplyEdges(spark, sf)
      .localCheckpoint(true)
    val labels = graft.sources.StagedLayouts.lpaLabels(spark, sf)
      .localCheckpoint(true)
    val step = Modularity.louvainStep(edges, labels, parity = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigIntegerExact)))
    // movers are even-parity only; stayers keep labels and report 0
    step.foreach { case (node, old, nw, g) =>
      if (nw != old) {
        assert(node % 2 == 0, s"odd node $node moved")
        assert(g > 0, s"node $node moved on non-positive gain $g")
      } else assert(g == 0, s"stayer $node reports gain $g")
    }
    assert(step.exists(s => s._3 != s._2), "fixture round must move someone")
    // applying the moves must improve the exact total Q numerator
    // (measured before build: −5.35e9 → +6.2e6 at sf0.001's graph)
    import spark.implicits._
    def qTotal(lbl: org.apache.spark.sql.DataFrame): BigInt =
      Modularity.score(edges, lbl).collect()
        .map(r => BigInt(r.getDecimal(4).toBigIntegerExact)).sum
    val newLabels = step.map(s => (s._1, s._3)).toSeq
      .toDF("node", "community")
    val qOld = qTotal(labels)
    val qNew = qTotal(newLabels)
    assert(qNew > qOld, s"half-sweep must lift Q: $qOld -> $qNew")
  }

  test("louvain full-sweep pathology is real: symmetric swap, Q unchanged (why parity exists)") {
    import spark.implicits._
    import graft.operators.Modularity
    // two symmetric communities: every node's best move is the OTHER
    // side; a synchronous full sweep swaps them wholesale — same
    // partition up to relabeling, so Q must be IDENTICAL (this is the
    // measured fixture pathology reduced to its minimal case)
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (1L, 4L), (2L, 5L), (3L, 6L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    // deliberately BAD labels: each community holds one triangle's
    // worth of nodes from EACH side (cross assignment)
    val labels = Seq(1L -> 100L, 2L -> 200L, 3L -> 100L,
      4L -> 200L, 5L -> 100L, 6L -> 200L).toDF("node", "community")
    def qTotal(lbl: org.apache.spark.sql.DataFrame): BigInt =
      Modularity.score(edges, lbl).collect()
        .map(r => BigInt(r.getDecimal(4).toBigIntegerExact)).sum
    val q0 = qTotal(labels)
    // THE FULL SWEEP: both parities' best moves applied simultaneously
    // against the same pre-round configuration — what a fully-
    // synchronous distributed Louvain round does. Every node predicts
    // a strictly-positive gain and "moves"...
    val s0 = Modularity.louvainStep(edges, labels, parity = 0)
    val s1 = Modularity.louvainStep(edges, labels, parity = 1)
    val full = s0.where(pmod(col("node"), lit(2)) === 0)
      .unionByName(s1.where(pmod(col("node"), lit(2)) === 1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigIntegerExact)))
    assert(full.length == 6 && full.forall { case (_, old, nw, g) =>
      nw != old && g > 0 }, s"full sweep must move every node: ${full.toSeq}")
    // ...but the result is the SAME partition with labels swapped
    // wholesale — identical node-sets, hence Q exactly unchanged while
    // the per-node gains promised +Σ2·gain/M² improvement
    def groups(pairs: Seq[(Long, Long)]): Set[Set[Long]] =
      pairs.groupBy(_._2).values.map(_.map(_._1).toSet).toSet
    val oldGroups = groups(labels.collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val newPairs = full.map(t => (t._1, t._3)).toSeq
    assert(groups(newPairs) == oldGroups,
      s"full sweep must be a wholesale relabeling: ${newPairs}")
    val qFull = qTotal(newPairs.toDF("node", "community"))
    assert(qFull == q0,
      s"swap must leave Q identical (the pathology): $q0 -> $qFull")
    // the parity HALF-sweep breaks the symmetry and genuinely improves
    val l1 = s0.select(col("node"), col("new_community").as("community"))
    val q1 = qTotal(l1)
    assert(q1 > q0, s"half-sweep must strictly lift Q here: $q0 -> $q1")
  }

  test("weighted louvain step: w ≡ 1 collapses to the unweighted step exactly") {
    import graft.operators.Modularity
    val edges = graft.queries.GraphQueries.supplyEdges(spark, sf)
      .localCheckpoint(true)
    val labels = graft.sources.StagedLayouts.lpaLabels(spark, sf)
      .localCheckpoint(true)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), BigInt(r.getDecimal(3).toBigIntegerExact))).toSeq
    val unweighted = rows(Modularity.louvainStep(edges, labels, parity = 0))
    val weighted = rows(Modularity.louvainStepWeighted(
      edges.withColumn("w", lit(1L)), labels, parity = 0))
    assert(weighted == unweighted,
      "sum(w=1) semantics must equal count semantics bit-for-bit")
  }

  test("weighted louvain step: self-loops cancel from gains (hand-computed super-graph)") {
    import spark.implicits._
    import graft.operators.Modularity
    // the two-triangle graph contracted by its perfect partition:
    // self-loops carry each side's intra mass 6, the bridge weighs 1
    // each way. M = 14, k = 7 each, k_iB = 1, k_iA = 0:
    // gain(100→200) = 14·1 − 7·0 − 49 = −35 < 0 — the merge is BAD and
    // both super-nodes stay (the level-2 phase must not collapse a
    // good partition)
    val g2 = Seq((100L, 100L, 6L), (200L, 200L, 6L),
      (100L, 200L, 1L), (200L, 100L, 1L)).toDF("src", "dst", "w")
    val singleton = Seq(100L -> 100L, 200L -> 200L).toDF("node", "community")
    val step = Modularity.louvainStepWeighted(g2, singleton, parity = 0)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(2),
        r.getDecimal(3).longValueExact)).toSeq
    assert(step == Seq((100L, 100L, 0L), (200L, 200L, 0L)),
      s"negative-gain merge must not happen: $step")
    // and a merge that IS worth it: two loop-free super-nodes tied by
    // weight 5 — gain(2→4) = 10·5 − 5·0 − 25 = 25 > 0. BOTH ends are
    // even-parity here, so both take the move (a same-parity symmetric
    // swap — parity is a pathology MITIGATION, not a proof; labels
    // land merged-but-crossed and the next half-sweep settles them)
    val g3 = Seq((2L, 4L, 5L), (4L, 2L, 5L)).toDF("src", "dst", "w")
    val s3 = Seq(2L -> 2L, 4L -> 4L).toDF("node", "community")
    val step3 = Modularity.louvainStepWeighted(g3, s3, parity = 0)
      .orderBy("node").collect().map(r => (r.getLong(0), r.getLong(2),
        r.getDecimal(3).longValueExact)).toSeq
    assert(step3 == Seq((2L, 4L, 25L), (4L, 2L, 25L)),
      s"positive-gain merge must fire with the exact gain: $step3")
  }

  test("identity-specialized louvain step equals the general form bit-for-bit") {
    import spark.implicits._
    import graft.operators.Modularity
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("node").collect().map(r => (r.getLong(0), r.getLong(1),
        r.getLong(2), BigInt(r.getDecimal(3).toBigIntegerExact))).toSeq
    // a weighted super-graph with self-loops, parallel-free (the
    // coarsenWeighted output contract), mixed parities and ties
    val g2 = Seq((100L, 100L, 6L), (200L, 200L, 6L), (100L, 200L, 1L),
      (200L, 100L, 1L), (2L, 4L, 5L), (4L, 2L, 5L), (2L, 100L, 2L),
      (100L, 2L, 2L), (3L, 4L, 5L), (4L, 3L, 5L)).toDF("src", "dst", "w")
      .localCheckpoint(true)
    def ident(g: org.apache.spark.sql.DataFrame) =
      g.select(col("src").as("node")).distinct()
        .select(col("node"), col("node").as("community"))
    for (p <- Seq(0, 1))
      assert(rows(Modularity.louvainStepIdentity(g2, parity = p)) ==
        rows(Modularity.louvainStepWeighted(g2, ident(g2), parity = p)),
        s"identity specialization diverged on the toy graph (parity $p)")
    // and on the fixture: level 1 (w ≡ 1, loop-free) AND level 2 (the
    // contracted weighted graph with self-loops) — the two shapes
    // louvainFit's ladder actually feeds it
    val edges = graft.queries.GraphQueries.supplyEdges(spark, sf)
      .withColumn("w", lit(1L)).localCheckpoint(true)
    assert(rows(Modularity.louvainStepIdentity(edges)) ==
      rows(Modularity.louvainStepWeighted(edges, ident(edges))),
      "identity specialization diverged on the fixture level-1 graph")
    val l1 = Modularity.louvainStepIdentity(edges)
      .select(col("node"), col("new_community").as("community"))
      .localCheckpoint(true)
    val g2f = Modularity.coarsenWeighted(edges, l1)
      .select(col("c_src").as("src"), col("c_dst").as("dst"), col("w"))
      .localCheckpoint(true)
    assert(rows(Modularity.louvainStepIdentity(g2f)) ==
      rows(Modularity.louvainStepWeighted(g2f, ident(g2f))),
      "identity specialization diverged on the fixture level-2 graph")
  }

  test("louvain multi-level: level 2 merges super-nodes and lifts Q on the fixture") {
    import graft.operators.Modularity
    val edges = graft.queries.GraphQueries.supplyEdges(spark, sf)
      .localCheckpoint(true)
    // the registered query's shape: the published singleton init is
    // BUILT IN to louvainMulti (the staged LPA labels would have
    // collapsed the fixture to 2 communities — level 2 vacuous;
    // measured r16); the node universe is the edge src set
    val nNodes = edges.select(col("src")).distinct().count()
    val multi = Modularity.louvainMulti(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(multi.length == nNodes,
      "every original node must appear exactly once")
    // the level-2 phase must actually DO something on the fixture
    assert(multi.exists(t => t._2 != t._3),
      "fixture level 2 must merge at least one super-node pair")
    import spark.implicits._
    def qTotal(lbl: org.apache.spark.sql.DataFrame): BigInt =
      Modularity.score(edges, lbl).collect()
        .map(r => BigInt(r.getDecimal(4).toBigIntegerExact)).sum
    val q1 = qTotal(multi.map(t => (t._1, t._2)).toSeq.toDF("node", "community"))
    val q2 = qTotal(multi.map(t => (t._1, t._3)).toSeq.toDF("node", "community"))
    assert(q2 >= q1, s"level 2 must not lose modularity: $q1 -> $q2")
  }

  test("weighted score: w ≡ 1 equals score; pricing the contracted graph preserves Q exactly") {
    import spark.implicits._
    import graft.operators.Modularity
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L,
      4L -> 200L, 5L -> 200L, 6L -> 200L).toDF("node", "community")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("community").collect().map(r => (r.getLong(0),
        r.getLong(1), r.getLong(2), r.getLong(3),
        BigInt(r.getDecimal(4).toBigIntegerExact), r.getLong(5))).toSeq
    // w ≡ 1: the weighted form IS the unweighted score bit-for-bit
    assert(rows(Modularity.scoreWeighted(
        edges.withColumn("w", lit(1L)), labels)) ==
      rows(Modularity.score(edges, labels)))
    // contraction invariance (what lets louvainFit price level k on
    // the tiny contracted graph): the super-graph under identity
    // labels prices the same TOTAL exact numerator as the original
    val g2 = Modularity.coarsen(edges, labels)
      .select(col("c_src").as("src"), col("c_dst").as("dst"), col("w"))
    val superLab = labels.select(col("community")).distinct()
      .select(col("community").as("node"), col("community"))
    def qTot(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => BigInt(r.getDecimal(4).toBigIntegerExact)).sum
    assert(qTot(Modularity.scoreWeighted(g2, superLab)) ==
      qTot(Modularity.score(edges, labels)),
      "contraction must preserve the exact Q numerator")
  }

  test("louvain fit: capped at 2 levels it IS the unrolled multi twin; free run never loses Q") {
    import graft.operators.Modularity
    val edges = graft.queries.GraphQueries.supplyEdges(spark, sf)
      .localCheckpoint(true)
    val singleton = edges.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("community"))
      .localCheckpoint(true)
    import spark.implicits._
    def qTotal(lbl: org.apache.spark.sql.DataFrame): BigInt =
      Modularity.score(edges, lbl).collect()
        .map(r => BigInt(r.getDecimal(4).toBigIntegerExact)).sum
    val multi = Modularity.louvainMulti(edges)
      .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
    // the fixture ladder prices −381,238 (singleton) → −1,448,502
    // (level 1, the parallel-move DIP) → −369,994 (level 2, the max) —
    // so the best-of-2-levels fit must return exactly multi's level-2
    // state, THROUGH the dip a strict Q-stop would have quit in
    val fit2 = Modularity.louvainFit(edges, maxLevels = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(fit2 == multi,
      "2-level fit diverged from the hash-gated unrolled twin")
    // the free run keeps the best partition seen — never below the
    // singleton baseline nor the 2-level twin
    val fit = Modularity.louvainFit(edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(fit.map(_._1).sorted == multi.map(_._1),
      "fit must label every original node exactly once")
    val qFit = qTotal(fit.toDF("node", "community"))
    assert(qFit >= qTotal(multi.toDF("node", "community")),
      "free-convergence fit lost modularity vs the 2-level twin")
    assert(qFit >= qTotal(singleton),
      "free-convergence fit lost modularity vs the singleton baseline")
    // two-regime gate (optimization round 19): the distributed forms
    // must return identical rows as the driver replays — the free run,
    // the fixed-2-level form, the general labeled step (values incl.
    // the exact decimal gain), and the contraction
    val lpaLbl = graft.sources.StagedLayouts.lpaLabels(spark, sf)
      .localCheckpoint(true)
    def stepRows() = Modularity.louvainStep(edges, lpaLbl, parity = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        BigInt(r.getDecimal(3).toBigIntegerExact))).sortBy(_._1).toSeq
    def coarsenRows() = Modularity.coarsen(edges,
        lpaLbl.select(col("node"), col("community")))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    val (drvStep, drvCoarsen) = (stepRows(), coarsenRows())
    withDistributed {
      val dist = Modularity.louvainFit(edges)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(dist == fit.sortBy(_._1), "distributed ladder != driver replay")
      val dist2 = Modularity.louvainFit(edges, maxLevels = 2)
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
      assert(dist2 == fit2, "distributed 2-level != driver replay")
      val distMulti = Modularity.louvainMulti(edges)
        .collect().map(r => (r.getLong(0), r.getLong(2))).sortBy(_._1).toSeq
      assert(distMulti == multi, "distributed multi != driver replay")
      assert(stepRows() == drvStep, "distributed step != driver replay")
      assert(coarsenRows() == drvCoarsen,
        "distributed coarsen != driver replay")
    }
  }

  test("labeled nodes with no outgoing edges survive the step and the score (gain 0)") {
    import spark.implicits._
    import graft.operators.Modularity
    // node 7 is labeled but absent from the edge list — an isolated or
    // not-yet-symmetrized node. The pre-r16 inner deg joins silently
    // dropped it from louvainStep's output (contradicting the scaladoc
    // contract) and from score's n_nodes.
    val und = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L))
    val edges = (und ++ und.map(_.swap)).toDF("src", "dst")
    val labels = Seq(1L -> 100L, 2L -> 100L, 3L -> 100L, 4L -> 200L,
      5L -> 200L, 6L -> 200L, 7L -> 100L).toDF("node", "community")
    val step = Modularity.louvainStep(edges, labels, parity = 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getDecimal(3).longValueExact)).toSeq
    assert(step.length == 7, s"degree-0 node dropped: $step")
    val n7 = step.find(_._1 == 7L).get
    assert(n7._2 == 100L && n7._3 == 100L && n7._4 == 0L,
      s"degree-0 node must stay with gain 0: $n7")
    // score counts it in n_nodes; its 0 degree leaves q_num untouched
    val sc = Modularity.score(edges, labels).orderBy("community")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getDecimal(4).longValueExact)).toSeq
    assert(sc == Seq((100L, 4L, 6L, 7L, 35L), (200L, 3L, 6L, 7L, 35L)),
      s"score with an isolated member diverged: $sc")
  }

  test("louvain coarsen: mass-preserving, symmetric, self-loops carry intra edges") {
    import graft.operators.Modularity
    val edges = graft.queries.GraphQueries.supplyEdges(spark, sf)
      .localCheckpoint(true)
    val labels = graft.sources.StagedLayouts.lpaLabels(spark, sf)
    val contracted = Modularity.coarsen(edges, labels).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // total edge mass is preserved exactly
    assert(contracted.values.sum == edges.count(),
      "contraction must preserve the directed edge count")
    // the symmetrized input contracts to a symmetric super-graph
    contracted.foreach { case ((a, b), w) =>
      assert(contracted.getOrElse((b, a), -1L) == w,
        s"asymmetric super-edge ($a, $b)")
    }
    // self-loop mass equals the modularity table's intra counts
    val intra = Modularity.score(edges, labels).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    intra.foreach { case (c, e) =>
      assert(contracted.getOrElse((c, c), 0L) == e,
        s"community $c self-loop != intra count")
    }
  }

  test("modularity numerator is exact past the BIGINT wrap (decimal widening boundary)") {
    import spark.implicits._
    import graft.operators.Modularity
    // social-scale magnitudes where the pre-r15 Long form wrapped:
    // d_sum² ≥ 2^63 once d_sum ≥ ~3.04e9 (≈ 2^31.5·√M band). Drive
    // qNumExact with literal (m_dir, e_dir, d_sum) triples straddling
    // the boundary and pin against BigInt arithmetic — including the
    // extreme corner (2^63−1 everywhere, |q_num| ~ 8.5e37, 38 digits).
    val cases = Seq(
      (14L, 6L, 7L),                                     // textbook row
      (3000000000L, 1499999999L, 3037000499L),           // just below d² wrap
      (6000000000L, 2999999999L, 5999999999L),           // |q| ≥ 2^63: Long is WRONG
      (4000000000L, 100L, 3800000000L),                  // |q| ≥ 2^63: Long is WRONG
      (8000000000L, 7999999999L, 100L),                  // |q| ≥ 2^63: Long is WRONG
      (9223372036854775807L, 9223372036854775807L, 9223372036854775807L))
    val got = cases.toDF("m_dir", "e_dir", "d_sum")
      .select(Modularity.qNumExact(col("m_dir"), col("e_dir"),
        col("d_sum")).as("q"))
      .collect().map(r => BigInt(r.getDecimal(0).toBigIntegerExact))
    val want = cases.map { case (m, e, d) =>
      BigInt(m) * BigInt(e) - BigInt(d) * BigInt(d) }
    assert(got.toSeq == want,
      s"decimal q_num diverged from BigInt truth: $got vs $want")
    // and the wrapped Long form DID differ where it matters — the
    // widening is load-bearing, not decorative
    val wrapped = cases.map { case (m, e, d) => m * e - d * d }
    assert(wrapped.zip(want).count { case (w, t) => BigInt(w) != t } >= 3,
      "boundary cases no longer exercise the Long wrap")
  }

  test("label-prop and cc broadcast gates: regimes agree bit-for-bit") {
    import spark.implicits._
    import graft.operators.{ConnectedComponents, LabelProp}
    // two triangles bridged by one edge + an isolated pair — exercises
    // plurality ties, the pointer jump, and multi-component labeling
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (4L, 5L), (5L, 6L),
      (6L, 4L), (3L, 4L), (10L, 11L)).toDF("src", "dst")
    def lpa(bc: Boolean) = LabelProp.run(edges, rounds = 3,
        broadcastLabels = Some(bc))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(true) == lpa(false), "LPA regimes diverged")
    // two-regime driver gate (optimization round 19): the driver replay
    // (the default under the threshold) must equal the distributed loop
    // per ROUND, both broadcast regimes
    val driverStates = graft.operators.LabelProp.runStates(edges, rounds = 3)
      .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    withDistributed {
      val distStates = graft.operators.LabelProp.runStates(edges, rounds = 3)
        .map(_.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
      assert(driverStates == distStates,
        "LPA driver replay != distributed rounds")
    }
    def cc(bc: Boolean) = ConnectedComponents.runWithRounds(edges,
        maxIters = 32, broadcastLabels = Some(bc))._1
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val (cB, cS) = (cc(true), cc(false))
    assert(cB == cS, "CC regimes diverged")
    // sanity: the bridge merges the triangles; the pair stays apart
    assert(cB(6L) == cB(1L) && cB(10L) != cB(1L))
  }

  test("hyperball broadcast gate: regimes agree bit-for-bit, cap refuses big graphs") {
    import org.apache.spark.sql.functions.col
    import graft.operators.HyperBall
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .union(pairs.select(col("prt").as("src"), col("sup").as("dst")))
    def sizesOf(bc: Option[Boolean]): Map[Long, (Long, Double)] =
      HyperBall.neighborhoodSizes(edges, rounds = 2, broadcastSketches = bc)
        .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // register max is order/placement-free, so the shuffle regime (the
    // billion-node path) must equal the broadcast regime exactly —
    // including the IEEE harmonic folds
    assert(sizesOf(Some(false)) == sizesOf(Some(true)),
      "shuffle and broadcast sketch regimes diverged")
    // two-regime driver gate (optimization round 19): the auto regime
    // (driver replay under the threshold — replicated md5 hash60/rank)
    // must equal both distributed regimes exactly
    assert(sizesOf(None) == sizesOf(Some(false)),
      "driver replay diverged from the distributed rounds")
    // the plan really flips: the pinned broadcast round joins by BHJ,
    // the pinned shuffle round must not (read on one unexecuted round,
    // as the checkpointed states hide the join). Auto-broadcast
    // thresholds are killed in an isolated session so fixture-scale
    // stats can't mask the gate (the pagerank shuffle-regime pattern)
    val sess = spark.newSession()
    sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    sess.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    import sess.implicits._
    val sEdges = (0L until 20L)
      .flatMap(i => Seq((i, (i + 1) % 20), (i, (i + 5) % 20)))
      .toDF("src", "dst")
    val e = HyperBall.symmetrized(sEdges)
    val st0 = HyperBall.initState(e)
    def roundPlan(bc: Boolean): String =
      HyperBall.round(e, st0, doBroadcast = bc)
        .queryExecution.executedPlan.toString
    assert(roundPlan(true).contains("BroadcastHashJoin"),
      "pinned broadcast regime lost its broadcast join")
    assert(!roundPlan(false).contains("BroadcastHashJoin"),
      "sketch state must not broadcast above the cap")
  }

  test("hyperball: driver replay == distributed packed states, round by round") {
    import graft.operators.HyperBall
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .union(pairs.select(col("prt").as("src"), col("sup").as("dst")))
      .coalesce(1).localCheckpoint(true)
    val rounds = 3
    // jobs counted over the state build only (the per-round collects
    // run in both regimes)
    def states(): (Seq[Map[Long, Seq[Long]]], Int) = {
      val (sts, jobs) = countingJobs(HyperBall.packedStates(edges, rounds,
        broadcastSketches = None, broadcastMaxNodes = 5000000L))
      (sts.map(_.collect().map(r => r.getLong(0) -> r.getSeq[Long](1)).toMap), jobs)
    }
    val (drv, drvJobs) = states()
    val (dist, distJobs) = withDistributed(states())
    assert(drv.length == rounds + 1 && dist.length == rounds + 1)
    drv.zip(dist).zipWithIndex.foreach { case ((d, x), r) =>
      assert(x == d, s"round $r: distributed state != driver replay") }
    // non-vacuity: the distributed loop materializes the initial state
    // and every round; the replay is one bounded pull
    assert(distJobs > rounds, s"distributed rounds ran only $distJobs jobs")
    assert(drvJobs < rounds, s"driver replay ran $drvJobs jobs")
  }

  test("hyperball: estimates grow with radius and track true ball sizes") {
    import org.apache.spark.sql.functions.col
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .union(pairs.select(col("prt").as("src"), col("sup").as("dst")))
    def ests(r: Int): Map[Long, Double] =
      graft.operators.HyperBall.neighborhoodSizes(edges, rounds = r)
        .collect().map(x => x.getLong(0) -> x.getDouble(2)).toMap
    val e1 = ests(1); val e3 = ests(3)
    assert(e1.keySet == e3.keySet)
    // ball(v,1) ⊆ ball(v,3) ⇒ registers only grow ⇒ S shrinks ⇒ est rises
    e1.foreach { case (n, v) =>
      assert(e3(n) >= v - 1e-9, s"node $n: est fell with radius ($v -> ${e3(n)})")
    }
    // accuracy against TRUE 3-ball sizes on sampled nodes (m=64 raw
    // estimator: ~16% typical error; 50% band absorbs small-set bias)
    val nodes = e3.keySet.toSeq.sorted.take(3)
    nodes.foreach { n =>
      import spark.implicits._
      val seed = Seq(n).toDF("node")
      val exact = graft.operators.Bfs.run(edges, seed, rounds = 3).count()
      assert(math.abs(e3(n) - exact) <= 0.5 * exact,
        s"node $n: est ${e3(n)} vs true 3-ball $exact outside the band")
    }
  }

  test("weighted pagerank: uniform weights collapse to the unweighted form") {
    import org.apache.spark.sql.functions.col
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .union(pairs.select(col("prt").as("src"), col("sup").as("dst")))
    // w = 1 everywhere ⇒ strength = outdeg and rank·1 DIV strength is
    // exactly the unweighted rank DIV outdeg — integer-for-integer
    val uniform = edges.withColumn("w", lit(1L))
    val weighted = graft.operators.PageRank.runWeighted(uniform, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val plain = graft.operators.PageRank.run(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(weighted == plain, "uniform-weight collapse broken")
  }

  test("ppr: all-nodes seeding collapses to global pagerank; mass stays within hop reach") {
    import org.apache.spark.sql.functions.col
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("sup"),
        (lit(100000L) + col("l_partkey")).as("prt"))
      .distinct()
    val edges = pairs.select(col("sup").as("src"), col("prt").as("dst"))
      .union(pairs.select(col("prt").as("src"), col("sup").as("dst")))
    // seeding EVERY node makes the teleport vector uniform — the
    // personalized recursion then equals global PageRank integer-exactly
    val allNodes = edges.select(col("src").as("node"))
      .union(edges.select(col("dst").as("node"))).distinct()
    val ppr = graft.operators.PageRank
      .runPersonalized(edges, allNodes, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val global = graft.operators.PageRank.run(edges, iters = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(ppr == global, "all-seeded PPR must equal global PageRank")
    // with a small seed set, positive rank can only sit within
    // iters hops of a seed (teleport mass propagates one edge per round)
    val seeds = allNodes.where(col("node") <= 5)
    val seeded = graft.operators.PageRank
      .runPersonalized(edges, seeds, iters = 3)
    val reached = graft.operators.Bfs.run(edges, seeds, rounds = 3)
      .collect().map(_.getLong(0)).toSet
    val positive = seeded.where(col("rank") > 0)
      .collect().map(_.getLong(0)).toSet
    assert(positive.nonEmpty && positive.subsetOf(reached),
      s"rank mass outside the ${3}-hop seed neighborhood: ${positive -- reached}")
  }

  test("cc: pointer jumping equals plain hash-min fixpoint, in fewer rounds") {
    import spark.implicits._
    // chain graph of diameter 40: worst case for hash-min (40 rounds),
    // log-ish for the jump form
    val chain = (0L until 40L).map(i => (i, i + 1)).toDF("src", "dst")
    val (jumped, jumpRounds) =
      graft.operators.ConnectedComponents.runWithRounds(chain)
    val labels = jumped.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 41 && labels.values.forall(_ == 0L),
      "single 41-node chain must collapse to component 0")
    // plain hash-min on the same chain: needs the full diameter
    val plainRounds = {
      val pairs = chain.select(col("src").as("doc_a"), col("dst").as("doc_b"))
      var r = 0
      var done = false
      while (!done && r < 64) {
        r += 1
        val lbl = graft.operators.Dedup.connectedComponents(pairs, iters = r)
        done = lbl.agg(sum(col("lbl"))).head().getLong(0) == 0L
      }
      r
    }
    assert(jumpRounds < plainRounds,
      s"jump took $jumpRounds rounds, plain hash-min $plainRounds — no speedup")
    assert(jumpRounds <= 8, s"jump rounds $jumpRounds not logarithmic in 40")
  }

  test("graph_cc on the fixture equals the converged plain hash-min labeling") {
    val pairs = Tables.lineitem(spark, sf)
      .select(col("l_suppkey").as("doc_a"),
        (lit(100000L) + col("l_partkey")).as("doc_b"))
      .distinct()
    val plain = graft.operators.Dedup.connectedComponentsConverged(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = pairs.select(col("doc_a").as("src"), col("doc_b").as("dst"))
    val jumped = graft.operators.ConnectedComponents.run(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(jumped == plain, "pointer-jump CC != converged hash-min CC")
  }

  test("label propagation: plurality wins, ties go to the smallest label") {
    import spark.implicits._
    // barbell: triangles {1,2,3} and {4,5,6} bridged by 3-4. Hand replay
    // of 3 deterministic rounds: r1 (all counts tie → min neighbor)
    // 1→2,2→1,3→1,4→3,5→4,6→4; r2 1→1,2→1,3→1,4→4,5→3,6→3; r3 settles
    // each triangle on one community: {1,2,3}→1, {4,5,6}→3.
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L), (4L, 5L), (4L, 6L),
      (5L, 6L), (3L, 4L)).toDF("src", "dst")
    val got = graft.operators.LabelProp.run(edges, rounds = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 3L, 5L -> 3L, 6L -> 3L)
    assert(got == want, s"got $got want $want")
  }

  test("triangle counts on the fixture graph: total divisible by 3") {
    val e = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      .distinct()
    val edges = e.alias("a").join(e.alias("b"), col("a.ok") === col("b.ok"))
      .where(col("a.p") < col("b.p"))
      .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
    val counts = graft.operators.Triangles.countPerNode(edges)
    val total = counts.agg(sum(col("n_tri"))).head().getLong(0)
    assert(total > 0 && total % 3 == 0,
      s"node-participation total $total must be 3 x triangle count")
  }

  test("neighborhood function: monotone mass, consistent with per-node sizes") {
    import graft.operators.HyperBall
    import graft.queries.GraphQueries
    val nf = GraphQueries.queries("graph_eff_diameter")(spark, sf)
      .collect().sortBy(_.getInt(0))
      .map(r => (r.getInt(0), r.getLong(1), r.getBoolean(2)))
    assert(nf.map(_._1).toSeq == Seq(0, 1, 2, 3))
    // ball(v, r) ⊆ ball(v, r+1) ⇒ register max only grows ⇒ mass monotone
    nf.sliding(2).foreach { case Array(a, b) =>
      assert(a._2 <= b._2, s"mass decreased: $a -> $b")
    }
    assert(nf.last._3, "final round must trivially reach its own 90%")
    assert(nf.head._2 > 0)
    // final-round mass must equal the per-node sizes summed the same way
    val edges = GraphQueries.supplyEdges(spark, sf)
    val fromSizes = HyperBall.neighborhoodSizes(edges, rounds = 3)
      .agg(sum(floor(col("est_raw") * 100 + lit(0.5)).cast("long")))
      .head().getLong(0)
    assert(nf.last._2 == fromSizes,
      s"neighborhoodFunction final mass ${nf.last._2} != sizes-derived $fromSizes")
  }

  test("betweenness: path, star, diamond and multi-source closed forms") {
    import spark.implicits._
    def undirected(pairs: Seq[(Long, Long)]) =
      (pairs ++ pairs.map(p => (p._2, p._1))).toDF("src", "dst")
    def run(edges: org.apache.spark.sql.DataFrame, seeds: Seq[Long]) =
      graft.operators.Betweenness
        .run(edges, seeds.toDF("node"), rounds = 3, scale = 10000L)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // path 1-2-3-4-5 from source 1, depth 3: δ(2)=2·10^4 (both deeper
    // nodes route through it), δ(3)=10^4, δ(4)=0; 5 is beyond depth
    val path = undirected(Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)))
    assert(run(path, Seq(1L)) ==
      Map(2L -> 20000L, 3L -> 10000L, 4L -> 0L))

    // both path ends as sources: contributions SUM per node
    assert(run(path, Seq(1L, 5L)) ==
      Map(2L -> 20000L, 3L -> 20000L, 4L -> 20000L))

    // star (center 10, leaves 1-4) from leaf 1: all cross-leaf paths
    // broker through the center — δ(10) = 3·10^4, other leaves 0
    val star = undirected(Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L)))
    assert(run(star, Seq(1L)) ==
      Map(10L -> 30000L, 2L -> 0L, 3L -> 0L, 4L -> 0L))

    // diamond 1-2-4, 1-3-4: σ(4) = 2 parallel shortest paths, so each
    // broker gets the dependency HALVED by the σ-ratio division
    val diamond = undirected(Seq((1L, 2L), (1L, 3L), (2L, 4L), (3L, 4L)))
    assert(run(diamond, Seq(1L)) ==
      Map(2L -> 5000L, 3L -> 5000L, 4L -> 0L))

    // harmonic on the path: Σ scale div d per reaching source, with
    // the exact truncation 10000 div 3 = 3333
    def harm(edges: org.apache.spark.sql.DataFrame, seeds: Seq[Long]) =
      graft.operators.Betweenness
        .harmonic(edges, seeds.toDF("node"), rounds = 3, scale = 10000L)
        .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2)))
        .toMap
    assert(harm(path, Seq(1L)) ==
      Map(2L -> (10000L, 1L), 3L -> (5000L, 1L), 4L -> (3333L, 1L)))
    assert(harm(path, Seq(1L, 5L)) == Map(
      2L -> (13333L, 2L), 3L -> (10000L, 2L), 4L -> (13333L, 2L)),
      "sources beyond each other's depth must not appear as nodes")
    // two-regime driver gate (optimization round 19): forward σ/dist
    // frame and backward δ accumulation must be row-identical between
    // the driver replay (the default above) and the distributed loops
    val drvBc = run(path, Seq(1L, 5L))
    val drvFw = graft.operators.Betweenness
      .forward(diamond, Seq(1L).toDF("node"), rounds = 3)
      .collect().map(r =>
        (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3))).toMap
    withDistributed {
      assert(run(path, Seq(1L, 5L)) == drvBc,
        "backward driver replay != distributed")
      val distFw = graft.operators.Betweenness
        .forward(diamond, Seq(1L).toDF("node"), rounds = 3)
        .collect().map(r =>
          (r.getLong(0), r.getLong(1)) -> (r.getInt(2), r.getLong(3))).toMap
      assert(distFw == drvFw, "forward driver replay != distributed")
    }
  }

  /** Iterative Tarjan — the classic single-machine SCC ground truth
    * the distributed coloring form is pinned against.
    */
  private def tarjan(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import scala.collection.mutable
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2) }
    val index = mutable.Map[Long, Int]()
    val low = mutable.Map[Long, Int]()
    val onStack = mutable.Set[Long]()
    val stack = mutable.Stack[Long]()
    val sccOf = mutable.Map[Long, Long]()
    var counter = 0
    for (root <- nodes if !index.contains(root)) {
      val work = mutable.Stack[(Long, Int)]((root, 0))
      while (work.nonEmpty) {
        val (v, pi) = work.pop()
        if (pi == 0) {
          index(v) = counter; low(v) = counter; counter += 1
          stack.push(v); onStack += v
        }
        val succs = adj.getOrElse(v, Seq.empty[Long])
        var i = pi
        var recursed = false
        while (i < succs.length && !recursed) {
          val w = succs(i)
          if (!index.contains(w)) {
            work.push((v, i + 1)); work.push((w, 0)); recursed = true
          } else {
            if (onStack(w)) low(v) = math.min(low(v), index(w))
            i += 1
          }
        }
        if (!recursed) {
          if (low(v) == index(v)) {
            val comp = scala.collection.mutable.Buffer[Long]()
            var w = -1L
            while (w != v) { w = stack.pop(); onStack -= w; comp += w }
            val id = comp.min
            comp.foreach(sccOf(_) = id)
          }
          work.headOption.foreach { case (p, _) =>
            low(p) = math.min(low(p), low(v)) }
        }
      }
    }
    sccOf.toMap
  }

  test("SCC: fixture labeling equals a driver-side Tarjan replay; bowtie structure live") {
    val got = graft.queries.GraphQueries.queries("graph_scc")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = graft.queries.GraphQueries.flowEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val want = tarjan(edges)
    assert(got.length == want.size,
      s"fixed depths must settle EVERY node: got ${got.length}, want ${want.size}")
    got.foreach { case (n, c) =>
      assert(want(n) == c, s"node $n: got $c, want ${want(n)}") }
    // the gate is non-vacuous: nontrivial SCCs of several sizes (the
    // return loops) AND singletons (the bowtie tails + supplier sinks)
    val sizes = got.groupBy(_._2).map(_._2.length).toSeq
    assert(sizes.count(_ > 1) >= 10, "too few nontrivial SCCs — gate vacuous")
    assert(sizes.contains(1), "no singleton SCCs — trim path unexercised")
    assert(sizes.distinct.length >= 3, "SCC sizes must vary")
  }

  test("SCC condensation: sizes/edges/out-degree/depth equal a driver DP replay over Tarjan labels") {
    val got = graft.queries.GraphQueries
      .queries("graph_scc_condense")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val edges = graft.queries.GraphQueries.flowEdges(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val scc = tarjan(edges)
    val sizes = scc.groupBy(_._2).map { case (c, m) => c -> m.size.toLong }
    val labeled = edges.map { case (u, v) => (scc(u), scc(v)) }
    val internal = labeled.filter(e => e._1 == e._2)
      .groupBy(_._1).map { case (c, es) => c -> es.size.toLong }
    val cond = labeled.filter(e => e._1 != e._2).distinct
    val outdeg = cond.groupBy(_._1).map { case (c, es) => c -> es.size.toLong }
    // longest path from any source: exact DP to fixpoint on the DAG
    val depth = scala.collection.mutable.Map[Long, Long](
      sizes.keys.map(_ -> 0L).toSeq: _*)
    var changed = true
    while (changed) {
      changed = false
      cond.foreach { case (a, b) =>
        if (depth(a) + 1 > depth(b)) { depth(b) = depth(a) + 1; changed = true }
      }
    }
    val want = sizes.map { case (c, n) =>
      c -> (n, internal.getOrElse(c, 0L), outdeg.getOrElse(c, 0L), depth(c)) }
    assert(got == want, "condensation diverged from the Tarjan-label DP replay")
    // non-vacuity: real DAG structure above the SCCs — positive depths,
    // nontrivial internal edge counts, and fan-out
    assert(got.values.exists(_._4 > 1L), "no condensation path of length > 1")
    assert(got.values.exists(_._2 >= 2L), "no SCC with 2+ internal edges")
    assert(got.values.exists(_._3 > 0L), "no super-edges at all")
  }

  test("SCC: designed cycle+DAG toy — second peel settles the dominated cycle, never mislabels") {
    import spark.implicits._
    import graft.operators.Scc
    // cycle A {1,2,3} dominates cycle B {10,11} through the bridge
    // 3→10 (B shares A's color in peel 1 and CANNOT settle); DAG tails
    // 11→20→21 and the isolated chain 30→31 settle by trim
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L),
      (11L, 10L), (11L, 20L), (20L, 21L), (30L, 31L)).toDF("src", "dst")
    val want = tarjan(Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L),
      (10L, 11L), (11L, 10L), (11L, 20L), (20L, 21L), (30L, 31L)))
    assert(want == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 10L -> 10L,
      11L -> 10L, 20L -> 20L, 21L -> 21L, 30L -> 30L, 31L -> 31L))
    val got2 = Scc.scc(edges, trimRounds = 4, propRounds = 4, peels = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 == want, s"two peels must settle everything: $got2")
    // the FIXED-depth contract: with one peel, the dominated cycle is
    // ABSENT from the output — never present with a wrong label
    val got1 = Scc.scc(edges, trimRounds = 4, propRounds = 4, peels = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(!got1.contains(10L) && !got1.contains(11L),
      "a one-peel run must leave the dominated cycle unsettled, not mislabel it")
    got1.foreach { case (n, c) =>
      assert(want(n) == c, s"peel-1 settled node $n wrong") }
    assert(got1.keySet == want.keySet -- Set(10L, 11L))
  }

  test("SCC: driver replay == distributed ladder on the fixture flow graph and the cycle+DAG toy") {
    import spark.implicits._
    import graft.operators.Scc
    def labels(edges: org.apache.spark.sql.DataFrame, peels: Int,
        trim: Int, prop: Int): (Map[Long, Long], Int) = countingJobs(
      Scc.scc(edges, trimRounds = trim, propRounds = prop, peels = peels)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap)
    // the registered depths (StagedLayouts.sccLabels) on the flow graph
    val flow = graft.queries.GraphQueries.flowEdges(spark, sf)
      .coalesce(1).localCheckpoint(true)
    val (drv, drvJobs) = labels(flow, peels = 1, trim = 6, prop = 6)
    val (dist, distJobs) = withDistributed(labels(flow, peels = 1, trim = 6, prop = 6))
    assert(dist == drv, "SCC distributed ladder != driver replay on the flow graph")
    // non-vacuity: the ladder checkpoints every trim and both
    // propagation passes' rounds; the replay is a pull and a collect
    assert(distJobs >= 6 + 2 * 6, s"distributed ladder ran only $distJobs jobs")
    assert(drvJobs < 6 + 2 * 6, s"driver replay ran $drvJobs jobs")
    // on an already-materialized edge frame the replay adds no
    // checkpoint of its own: one pull and the collect
    assert(drvJobs == 2, s"driver replay on a checkpointed graph ran $drvJobs jobs")
    // the toy's fixed-depth contract in both regimes: one peel leaves
    // the dominated cycle {10, 11} ABSENT, two peels settle it; the
    // 5-ring 100→…→104→100 needs exactly 4 propagation rounds, so 3
    // leave part of it absent
    val ring = (100L to 104L).map(i => (i, if (i == 104L) 100L else i + 1))
    val toy = (Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 10L), (10L, 11L),
      (11L, 10L), (11L, 20L), (20L, 21L), (30L, 31L)) ++ ring).toDF("src", "dst")
    Seq((1, 4), (2, 4), (1, 3)).foreach { case (peels, prop) =>
      val (d, _) = labels(toy, peels, trim = 4, prop = prop)
      val (x, xJobs) = withDistributed(labels(toy, peels, trim = 4, prop = prop))
      assert(x == d, s"toy peels=$peels prop=$prop: distributed $x != driver $d")
      assert(xJobs >= 4 + 2 * prop, s"toy peels=$peels prop=$prop ran only $xJobs jobs")
      if (prop == 4) {
        assert(x.contains(10L) == (peels == 2) && x.contains(11L) == (peels == 2),
          s"toy peels=$peels: dominated cycle settled wrongly: $x")
        assert((100L to 104L).forall(x.get(_).contains(100L)),
          s"toy peels=$peels: 4 rounds must settle the 5-ring: $x")
      } else assert(!(100L to 104L).forall(x.contains),
        s"3 rounds cannot settle the 5-ring: $x")
    }
  }

  test("SCC condensation depth: driver replay == distributed max-prop rounds") {
    import spark.implicits._
    // a chain 1→2→…→8 longer than the 6 rounds (7 and 8 stop at depth
    // 6 in both forms), the shortcut 1→3, a second source 20→4, and
    // SCC 9 touched by no super-edge (absent from the driver frame,
    // depth 0 through the caller's LEFT join + coalesce)
    val lbl = (Seq(9L, 20L) ++ (1L to 8L)).toDF("scc_id")
    val cond = ((1L until 8L).map(i => (i, i + 1)) ++ Seq((1L, 3L), (20L, 4L)))
      .toDF("s_s", "s_d")
    def depths(): (Map[Long, Long], Int) = {
      val (d, jobs) = countingJobs(
        graft.queries.GraphQueries.condenseDepths(lbl, cond, rounds = 6))
      (lbl.join(d, Seq("scc_id"), "left")
        .select(col("scc_id"), coalesce(col("depth0"), lit(0L)))
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap, jobs)
    }
    val want = Map(1L -> 0L, 2L -> 1L, 3L -> 2L, 4L -> 3L, 5L -> 4L, 6L -> 5L,
      7L -> 6L, 8L -> 6L, 9L -> 0L, 20L -> 0L)
    val (drv, drvJobs) = depths()
    val (dist, distJobs) = withDistributed(depths())
    assert(drv == want, s"driver depth replay: $drv")
    assert(dist == want, s"distributed depth rounds: $dist")
    // non-vacuity: the distributed form checkpoints each of its 6
    // rounds; the replay pulls a local relation without a job
    assert(distJobs >= 6, s"distributed depth rounds ran only $distJobs jobs")
    assert(drvJobs < 6, s"driver depth replay ran $drvJobs jobs")
    // and the registered query end to end on the fixture
    def condense() = graft.queries.GraphQueries
      .queries("graph_scc_condense")(spark, sf).collect().toSeq
    assert(withDistributed(condense()) == condense(),
      "graph_scc_condense distributed != driver replay")
  }

  test("MST: Borůvka forest equals a driver Kruskal under the (w, a, b) total order") {
    val got = graft.queries.GraphQueries.queries("graph_mst")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    // driver Kruskal over the identical canonical edge set and the
    // identical lexicographic tie-break — with a total order on edges
    // the MSF is UNIQUE, so the comparison is set equality, not just
    // total weight
    val li = Tables.lineitem(spark, sf)
      .groupBy(col("l_suppkey"), (lit(100000L) + col("l_partkey")).as("prt"))
      .agg(min(col("l_quantity")).cast("long").as("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val edges = li.map { case (s0, p, w) =>
      (w, math.min(s0, p), math.max(s0, p)) }.sorted
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    val kruskal = edges.filter { case (_, a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra == rb) false else { parent(ra) = rb; true }
    }.map { case (w, a, b) => (a, b, w) }.sortBy(e => (e._1, e._2)).toSeq
    assert(got == kruskal,
      s"MSF diverged from Kruskal (got ${got.size} edges, want ${kruskal.size})")
    // spanning: edges == nodes - components
    val nodes = edges.flatMap(e => Seq(e._2, e._3)).distinct
    val comps = nodes.map(find).distinct.size
    assert(got.size == nodes.size - comps)
    assert(got.map(_._3).sum == kruskal.map(_._3).sum)
    // two-regime gate (optimization round 19): the distributed
    // fixed-round ladder must produce the identical forest as the
    // driver replay (rows AND order), and the round-for-round replay
    // must keep the distributed path's loud under-run guard
    withDistributed {
      val dist = graft.queries.GraphQueries.queries("graph_mst")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(dist == got, "distributed Borůvka != driver replay")
    }
    intercept[IllegalArgumentException] {
      graft.operators.Mst.boruvka(spark,
        Tables.lineitem(spark, sf)
          .groupBy(col("l_suppkey").as("src"),
            (lit(100000L) + col("l_partkey")).as("dst"))
          .agg(min(col("l_quantity")).cast("long").as("w")),
        rounds = 1)
    }
  }
}
