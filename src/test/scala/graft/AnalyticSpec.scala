package graft

import org.apache.spark.sql.functions._
import graft.queries.AnalyticQueries

/** Round-2 analytic query suite: semantic spot-checks against
  * independently computed expectations, plus the plan-shape properties
  * that keep each query viable at corpus scale (the DuckDB oracle pins
  * full-output correctness at sf0.01; these tests pin behavior and
  * scale-shape at sf0.001).
  */
class AnalyticSpec extends SparkSpec {

  private def q(name: String) = AnalyticQueries.queries(name)(spark, sf)

  test("rank-1 ALS step equals an exact BigInt driver replay") {
    val got = q("q_als_rank1_step").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    // independent replay of the whole fixed-point alternation in BigInt
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val rC = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> es.map(e => math.floor(e._3 * 100.0 + 0.5).toLong).sum }
    val xK = rC.groupBy(_._1._1).map { case (u, cells) =>
      u -> BigInt(cells.values.sum) * 10 / (1 + cells.size) }
    val expect = rC.groupBy(_._1._2).map { case (it, cells) =>
      val nI = cells.map { case ((u, _), r) => BigInt(r) * xK(u) }.sum
      val sx2 = cells.keys.map { case (u, _) => xK(u) * xK(u) }.sum
      it -> (cells.size.toLong, (nI * BigInt(10000000) /
        (BigInt(1000000) + sx2)).toLong)
    }
    assert(got.length == expect.size)
    got.foreach { case (it, n, y) =>
      assert((n, y) == expect(it), s"item $it: got ($n, $y), want ${expect(it)}")
    }
    // the solve is non-degenerate on the fixture: positive ratings give
    // positive factors, and items differ (the factorization has signal)
    assert(got.forall(_._3 > 0L))
    assert(got.map(_._3).distinct.length > 1)
  }

  test("ALS alternations: ridge objective non-increasing across all four half-solves") {
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val rC = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> es.map(e => math.floor(e._3 * 100.0 + 0.5).toLong).sum }
    // the exact fixed-point pipeline, replayed: x1 (y≡1), y1, x2, y2
    val x1 = rC.groupBy(_._1._1).map { case (u, cs) =>
      u -> BigInt(cs.values.sum) * 10 / (1 + cs.size) }
    def itemSolve(x: Map[Long, BigInt]): Map[String, BigInt] =
      rC.groupBy(_._1._2).map { case (it, cs) =>
        val n = cs.map { case ((u, _), r) => BigInt(r) * x(u) }.sum
        val s2 = cs.keys.map { case (u, _) => x(u) * x(u) }.sum
        it -> n * BigInt(10000000) / (BigInt(1000000) + s2)
      }
    val y1 = itemSolve(x1)
    val x2 = rC.groupBy(_._1._1).map { case (u, cs) =>
      val n = cs.map { case ((_, i), r) => BigInt(r) * y1(i) }.sum
      val s2 = cs.keys.map { case (_, i) => y1(i) * y1(i) }.sum
      u -> n * BigInt(10000000) / (BigInt("1000000000000") + s2)
    }
    val y2 = itemSolve(x2)
    // each half-solve is the (truncated) ridge-least-squares optimum
    // given the other side, so J = SSE + λ(Σx²+Σy²) must not increase
    def j(x: Map[Long, Double], y: Map[String, Double]): Double = {
      val sse = rC.map { case ((u, i), r) =>
        val e = r / 100.0 - x(u) * y(i); e * e }.sum
      sse + x.values.map(v => v * v).sum + y.values.map(v => v * v).sum
    }
    val xd1 = x1.map { case (k, v) => k -> v.toDouble / 1e3 }
    val xd2 = x2.map { case (k, v) => k -> v.toDouble / 1e3 }
    val yd0 = y1.map { case (k, _) => k -> 1.0 }
    val yd1 = y1.map { case (k, v) => k -> v.toDouble / 1e6 }
    val yd2 = y2.map { case (k, v) => k -> v.toDouble / 1e6 }
    val js = Seq(j(xd1, yd0), j(xd1, yd1), j(xd2, yd1), j(xd2, yd2))
    js.zip(js.tail).foreach { case (a, b) =>
      assert(b <= a * (1.0 + 1e-9), s"objective rose: $js")
    }
    // and the registered step-2 query returns exactly this y2
    val got2 = q("q_als_rank1_step2").collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    y2.foreach { case (it, v) => assert(got2(it) == v.toLong) }
  }

  test("rank-2 ALS: exact BigInt Cramer replay; ridge objective drops from the init") {
    val got = q("q_als_rank2_step").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val rC = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> es.map(e => math.floor(e._3 * 100.0 + 0.5).toLong).sum }
    val x = rC.groupBy(_._1._1).map { case (u, cs) =>
      u -> (BigInt(cs.values.sum) * 10 / (1 + cs.size), BigInt(1 + u % 199)) }
    val lam = BigInt(1000000)
    val expect = rC.groupBy(_._1._2).map { case (it, cs) =>
      val us = cs.keys.map(_._1).toSeq
      val a11 = us.map(u => x(u)._1 * x(u)._1).sum + lam
      val a12 = us.map(u => x(u)._1 * x(u)._2).sum
      val a22 = us.map(u => x(u)._2 * x(u)._2).sum + lam
      val b1 = cs.map { case ((u, _), r) => BigInt(r) * x(u)._1 }.sum
      val b2 = cs.map { case ((u, _), r) => BigInt(r) * x(u)._2 }.sum
      val det = a11 * a22 - a12 * a12
      assert(det > 0, s"ridge must keep det positive ($it)")
      it -> (cs.size.toLong, ((b1 * a22 - b2 * a12) * 10000000 / det).toLong,
        ((a11 * b2 - a12 * b1) * 10000000 / det).toLong)
    }
    assert(got.length == expect.size)
    got.foreach { case (it, n, y1, y2) =>
      assert((n, y1, y2) == expect(it),
        s"item $it: got ($n, $y1, $y2), want ${expect(it)}")
    }
    // the two factor coordinates carry distinct signal
    assert(got.map(_._3).distinct.length > 1 && got.map(_._4).distinct.length > 1)
    // the half-solve is the ridge optimum given X, so J must drop from
    // the y ≡ (1, 0) init (J = SSE + λ(Σ‖x‖² + Σ‖y‖²), λ = 1, real units)
    val xd = x.map { case (u, (x1, x2)) =>
      u -> (x1.toDouble / 1e3, x2.toDouble / 1e3) }
    def j(y: Map[String, (Double, Double)]): Double = {
      val sse = rC.map { case ((u, i), r) =>
        val e = r / 100.0 - (xd(u)._1 * y(i)._1 + xd(u)._2 * y(i)._2); e * e }.sum
      sse + xd.values.map(v => v._1 * v._1 + v._2 * v._2).sum +
        y.values.map(v => v._1 * v._1 + v._2 * v._2).sum
    }
    val yInit = expect.map { case (it, _) => it -> (1.0, 0.0) }
    val ySolved = got.map(g => g._1 -> (g._3.toDouble / 1e6, g._4.toDouble / 1e6)).toMap
    assert(j(ySolved) <= j(yInit) * (1.0 + 1e-9),
      s"rank-2 item solve raised the ridge objective: ${j(yInit)} -> ${j(ySolved)}")
  }

  test("rank-2 ALS alternation: BigInt replay; objective non-increasing over four half-solves") {
    val got = q("q_als_rank2_step2").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val rC = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> es.map(e => math.floor(e._3 * 100.0 + 0.5).toLong).sum }
    // half-solve replays in BigInt (truncating division ≡ DIV ≡ //)
    def itemSolve(x: Map[Long, (BigInt, BigInt)]): Map[String, (Long, BigInt, BigInt)] = {
      val lam = BigInt(1000000)
      rC.groupBy(_._1._2).map { case (it, cs) =>
        val us = cs.keys.map(_._1).toSeq
        val a11 = us.map(u => x(u)._1 * x(u)._1).sum + lam
        val a12 = us.map(u => x(u)._1 * x(u)._2).sum
        val a22 = us.map(u => x(u)._2 * x(u)._2).sum + lam
        val b1 = cs.map { case ((u, _), r) => BigInt(r) * x(u)._1 }.sum
        val b2 = cs.map { case ((u, _), r) => BigInt(r) * x(u)._2 }.sum
        val det = a11 * a22 - a12 * a12
        it -> (cs.size.toLong, (b1 * a22 - b2 * a12) * 10000000 / det,
          (a11 * b2 - a12 * b1) * 10000000 / det)
      }
    }
    def userSolve(y: Map[String, (BigInt, BigInt)]): Map[Long, (BigInt, BigInt)] = {
      val lam = BigInt("1000000000000")
      rC.groupBy(_._1._1).map { case (u, cs) =>
        val is = cs.keys.map(_._2).toSeq
        val a11 = is.map(i => y(i)._1 * y(i)._1).sum + lam
        val a12 = is.map(i => y(i)._1 * y(i)._2).sum
        val a22 = is.map(i => y(i)._2 * y(i)._2).sum + lam
        val b1 = cs.map { case ((_, i), r) => BigInt(r) * y(i)._1 }.sum
        val b2 = cs.map { case ((_, i), r) => BigInt(r) * y(i)._2 }.sum
        val det = a11 * a22 - a12 * a12
        u -> ((b1 * a22 - b2 * a12) * 10000000 / det,
          (a11 * b2 - a12 * b1) * 10000000 / det)
      }
    }
    val xInit = rC.groupBy(_._1._1).map { case (u, cs) =>
      u -> (BigInt(cs.values.sum) * 10 / (1 + cs.size), BigInt(1 + u % 199)) }
    val y1 = itemSolve(xInit)
    val x2 = userSolve(y1.map { case (i, v) => i -> (v._2, v._3) })
    val y2 = itemSolve(x2)
    assert(got.length == y2.size)
    got.foreach { case (it, n, a, b) =>
      val w = y2(it)
      assert((n, a, b) == (w._1, w._2.toLong, w._3.toLong),
        s"item $it: got ($n, $a, $b), want $w")
    }
    // ridge objective J = SSE + λ(Σ‖x‖² + Σ‖y‖²) must be non-increasing
    // across init → item solve → user re-solve → item re-solve (each
    // half-solve is the exact ridge optimum given the other side)
    def j(x: Map[Long, (Double, Double)], y: Map[String, (Double, Double)]): Double = {
      val sse = rC.map { case ((u, i), r) =>
        val e = r / 100.0 - (x(u)._1 * y(i)._1 + x(u)._2 * y(i)._2); e * e }.sum
      sse + x.values.map(v => v._1 * v._1 + v._2 * v._2).sum +
        y.values.map(v => v._1 * v._1 + v._2 * v._2).sum
    }
    val xd0 = xInit.map { case (u, v) => u -> (v._1.toDouble / 1e3, v._2.toDouble / 1e3) }
    val xd2 = x2.map { case (u, v) => u -> (v._1.toDouble / 1e3, v._2.toDouble / 1e3) }
    val yd0 = y1.map { case (i, _) => i -> (1.0, 0.0) }
    val yd1 = y1.map { case (i, v) => i -> (v._2.toDouble / 1e6, v._3.toDouble / 1e6) }
    val yd2 = y2.map { case (i, v) => i -> (v._2.toDouble / 1e6, v._3.toDouble / 1e6) }
    val js = Seq(j(xd0, yd0), j(xd0, yd1), j(xd2, yd1), j(xd2, yd2))
    js.sliding(2).foreach { case Seq(a, b) =>
      assert(b <= a * (1.0 + 1e-9), s"objective rose along the alternation: $js")
    }
    // the second alternation actually moved the factors (non-vacuous)
    assert(got.exists { case (it, _, a, b) =>
      val v = y1(it); a != v._2.toLong || b != v._3.toLong })
  }

  test("rank-2 ALS free fit: full BigInt replay of the plateau loop; plateau fires past the gated twins") {
    val got = q("q_als_rank2_fit").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getBoolean(6)))
    val ev = Tables.events(spark, sf).select("user_id", "event_type", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    val rC = ev.groupBy(e => (e._1, e._2)).map { case (k, es) =>
      k -> es.map(e => math.floor(e._3 * 100.0 + 0.5).toLong).sum }
    def itemSolve(x: Map[Long, (BigInt, BigInt)]): Map[String, (Long, BigInt, BigInt)] = {
      val lam = BigInt(1000000)
      rC.groupBy(_._1._2).map { case (it, cs) =>
        val us = cs.keys.map(_._1).toSeq
        val a11 = us.map(u => x(u)._1 * x(u)._1).sum + lam
        val a12 = us.map(u => x(u)._1 * x(u)._2).sum
        val a22 = us.map(u => x(u)._2 * x(u)._2).sum + lam
        val b1 = cs.map { case ((u, _), r) => BigInt(r) * x(u)._1 }.sum
        val b2 = cs.map { case ((u, _), r) => BigInt(r) * x(u)._2 }.sum
        val det = a11 * a22 - a12 * a12
        it -> (cs.size.toLong, (b1 * a22 - b2 * a12) * 10000000 / det,
          (a11 * b2 - a12 * b1) * 10000000 / det)
      }
    }
    def userSolve(y: Map[String, (BigInt, BigInt)]): Map[Long, (BigInt, BigInt)] = {
      val lam = BigInt("1000000000000")
      rC.groupBy(_._1._1).map { case (u, cs) =>
        val is = cs.keys.map(_._2).toSeq
        val a11 = is.map(i => y(i)._1 * y(i)._1).sum + lam
        val a12 = is.map(i => y(i)._1 * y(i)._2).sum
        val a22 = is.map(i => y(i)._2 * y(i)._2).sum + lam
        val b1 = cs.map { case ((_, i), r) => BigInt(r) * y(i)._1 }.sum
        val b2 = cs.map { case ((_, i), r) => BigInt(r) * y(i)._2 }.sum
        val det = a11 * a22 - a12 * a12
        u -> ((b1 * a22 - b2 * a12) * 10000000 / det,
          (a11 * b2 - a12 * b1) * 10000000 / det)
      }
    }
    // the EXACT scaled objective J·10¹⁸ (AlsRank2.objectiveScaled twin)
    def jScaled(x: Map[Long, (BigInt, BigInt)],
        y: Map[String, (BigInt, BigInt)]): BigInt = {
      val sse = rC.map { case ((u, i), r) =>
        val e9 = BigInt(r) * 10000000 -
          (x(u)._1 * y(i)._1 + x(u)._2 * y(i)._2)
        e9 * e9
      }.sum
      sse + BigInt("1000000000000") *
        x.values.map(v => v._1 * v._1 + v._2 * v._2).sum +
        BigInt(1000000) * y.values.map(v => v._1 * v._1 + v._2 * v._2).sum
    }
    // the fit loop replayed verbatim: alternate, price, best-of, and
    // the exact relative-improvement stop (< 5% per alternation)
    var x = rC.groupBy(_._1._1).map { case (u, cs) =>
      u -> (BigInt(cs.values.sum) * 10 / (1 + cs.size), BigInt(1 + u % 199)) }
    var best: (BigInt, Map[String, (Long, BigInt, BigInt)], Int) = null
    var hist = Vector.empty[BigInt]
    var it = 0
    var converged = false
    while (it < 12 && !converged) {
      val yk = itemSolve(x)
      x = userSolve(yk.map { case (i, v) => i -> (v._2, v._3) })
      val jj = jScaled(x, yk.map { case (i, v) => i -> (v._2, v._3) })
      hist :+= jj
      if (best == null || jj < best._1) best = (jj, yk, it + 1)
      if (hist.size >= 2 && (hist(hist.size - 2) - jj) * BigInt(1000000) <
          hist(hist.size - 2) * BigInt(50000)) converged = true
      it += 1
    }
    val want = best._2
    assert(got.length == want.size)
    got.foreach { case (i, n, y1, y2, bestAlt, nAlt, conv) =>
      val w = want(i)
      assert((n, y1, y2) == (w._1, w._2.toLong, w._3.toLong),
        s"item $i: got ($n, $y1, $y2), want $w")
      assert(bestAlt == best._3 && nAlt == it && conv == converged,
        s"loop bookkeeping diverged: got ($bestAlt, $nAlt, $conv), " +
          s"want (${best._3}, $it, $converged)")
    }
    // the fit is non-vacuous: the tolerance stop FIRED (not the cap),
    // and the loop ran past both gated twins (step2 = 2 item solves,
    // fit_unrolled = 3) — free convergence genuinely extended the chain
    assert(converged, "fit hit the alternation cap without converging")
    assert(it >= 3, s"tolerance stop fired before the gated twins' depth: $it")
    // each half-solve is the exact ridge optimum given the other side:
    // the exact ladder must be strictly decreasing end to end
    hist.sliding(2).foreach {
      case Seq(a, b) => assert(b < a, s"objective did not fall: $hist")
      case _ => ()
    }
  }

  test("SweepLine running sum == global-window form on an adversarial stream") {
    import spark.implicits._
    // duplicate timestamps with mixed-sign deltas, a long gap (forces
    // empty buckets), and a run landing on a bucket boundary
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(500)((rnd.nextInt(50).toLong * 10L,
      if (rnd.nextBoolean()) 1 else -1)) ++
      Seq((100000L, 1), (100000L, -1), (100001L, 1))
    val deltas = rows.toDF("ts", "delta")
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("ts"), col("delta"))
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val global = deltas.withColumn("cur", sum(col("delta")).over(w))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
      .sorted.toSeq
    Seq(1, 4, 32).foreach { b =>
      val sweep = graft.operators.SweepLine.runningSum(deltas, nBuckets = b)
        .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2)))
        .sorted.toSeq
      assert(sweep == global, s"nBuckets=$b diverged from the global window")
    }
    // scale shape: the heavy pass is a PARTITIONED window (exchange on
    // the bucket key), and the offsets come back by broadcast — no
    // all-rows single-partition funnel anywhere
    val p = plan(graft.operators.SweepLine.runningSum(deltas, nBuckets = 8))
    assert(p.contains("hashpartitioning(bkt"),
      s"per-bucket window must hash-partition on bkt:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastExchange"),
      s"bucket offsets must join back by broadcast:\n$p")
  }

  test("q_concurrency's global sweep == SweepLine on the fixture stream") {
    val reg = q("q_concurrency").head()
    val viaSweep = graft.operators.SweepLine
      .runningSum(AnalyticQueries.concurrencyDeltas(spark, sf), nBuckets = 8)
      .groupBy(col("cur")).agg(min(col("ts")).as("first_ts_us"))
      .orderBy(col("cur").desc).limit(1).head()
    assert(viaSweep.getLong(0) == reg.getLong(0), "max_concurrent differs")
    assert(viaSweep.getLong(1) == reg.getLong(1), "first_ts_us differs")
  }

  test("q_unpivot: 3 measure rows per key, values equal the wide aggregate") {
    val long = q("q_unpivot").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    val wide = Tables.lineitem(spark, sf)
      .groupBy(col("l_returnflag"))
      .agg(sum(col("l_quantity")).cast("long").as("q"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(long.size == wide.size * 3, "3 measures per returnflag")
    wide.foreach { case (flag, qty) =>
      assert(long((flag, "sum_qty")) == qty)
    }
  }

  test("q_window_suite: rn is the sort position and lead/lag are offsets") {
    val rows = q("q_window_suite")
      .select("o_orderpriority", "rn", "o_orderkey", "next_key", "top_key")
      .collect()
    val byPrio = rows.groupBy(_.getString(0))
    byPrio.foreach { case (_, rs) =>
      val sorted = rs.sortBy(_.getInt(1))
      assert(sorted.map(_.getInt(1)).toSeq == (1 to rs.length))
      // top_key = first row's key everywhere in the partition
      assert(sorted.forall(_.getLong(4) == sorted.head.getLong(2)))
      // next_key at rn=i is the key at rn=i+1
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(a.getLong(3) == b.getLong(2))
        case _           =>
      }
      assert(sorted.last.isNullAt(3))
    }
  }

  test("q_pivot equals groupBy over (status, flag) pairs") {
    val piv = q("q_pivot").collect()
      .flatMap(r => Seq("A", "N", "R").zipWithIndex.collect {
        case (f, i) if !r.isNullAt(i + 1) => (r.getString(0), f) -> r.getDouble(i + 1)
      }).toMap
    val flat = Tables.lineitem(spark, sf)
      .groupBy(col("l_linestatus"), col("l_returnflag"))
      .agg(sum(col("l_quantity")).as("s")).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(piv == flat)
  }

  test("q_intersect ∪ q_except = urgent custkeys; intersect ∩ except = ∅") {
    val inter = q("q_intersect").collect().map(_.getLong(0)).toSet
    val exc = q("q_except").collect().map(_.getLong(0)).toSet
    val urgent = Tables.orders(spark, sf)
      .where(col("o_orderpriority") === "1-URGENT")
      .select(col("o_custkey")).distinct().collect().map(_.getLong(0)).toSet
    assert((inter & exc).isEmpty)
    assert((inter | exc) == urgent)
  }

  test("q_sessionize: gaps within sessions ≤ 30 min, across sessions > 30 min") {
    val gapUs = 1800L * 1000000L
    val ev = Tables.events(spark, sf)
      .select(col("user_id"), expr("ts_ns DIV 1000").as("ts_us"), col("event_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    val sessions = q("q_sessionize")
      .select("user_id", "session_id", "n_events").collect()
      .groupBy(_.getLong(0)).view.mapValues(_.map(_.getLong(2)).sum).toMap
    // every event lands in exactly one session
    assert(sessions.keySet == ev.keySet)
    ev.foreach { case (u, ts) => assert(sessions(u) == ts.length) }
    // session count per user = 1 + number of >30min gaps
    val wantCounts = ev.view.mapValues(ts =>
      1 + ts.sliding(2).count(w => w.length == 2 && w(1) - w(0) > gapUs)).toMap
    val gotCounts = q("q_sessionize").groupBy("user_id")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotCounts == wantCounts)
  }

  test("q_scalar_subquery broadcasts the 1-row aggregate (no row-wise rescan)") {
    val p = plan(q("q_scalar_subquery"))
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"expected broadcast of the scalar aggregate:\n$p")
  }

  test("q_sessionize plans exactly one exchange (window + agg share the user_id partitioning)") {
    val p = plan(q("q_sessionize"))
    val nExchanges = "(?<!Reused)Exchange".r.findAllIn(p).length
    // one hashpartitioning(user_id) exchange feeds both the window and the
    // final aggregation — Catalyst reuses the partitioning; a second
    // exchange would mean the session grouping reshuffles at scale
    assert(nExchanges <= 2, s"too many exchanges ($nExchanges):\n$p")
  }

  test("q_percentiles matches a driver-side exact percentile") {
    val got = q("q_percentiles").where(col("l_returnflag") === "A")
      .select("price_p50").collect().head.getDouble(0)
    val vals = Tables.lineitem(spark, sf).where(col("l_returnflag") === "A")
      .select("l_extendedprice").collect().map(_.getDouble(0)).sorted
    val idx = 0.5 * (vals.length - 1)
    val (lo, hi) = (vals(idx.toInt), vals(math.ceil(idx).toInt))
    val want = lo + (hi - lo) * (idx - idx.toInt)
    assert(math.abs(got - want) < 1e-3, s"got $got want $want")
  }

  test("q_mode: returns the true per-group maximum-frequency value") {
    val got = q("q_mode").collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getLong(2))).toMap
    val want = Tables.lineitem(spark, sf)
      .select("l_returnflag", "l_quantity").collect()
      .groupBy(_.getString(0)).map { case (f, rows) =>
        val byQty = rows.groupBy(_.getDouble(1)).view.mapValues(_.length.toLong)
        // deterministic tie-break: highest count, then highest value
        val (qty, cnt) = byQty.maxBy { case (v, c) => (c, v) }
        f -> (qty, cnt)
      }
    assert(got == want)
  }

  test("heavy hitters: two-phase Misra-Gries equals the naive groupBy on skewed data") {
    import spark.implicits._
    // Zipf-ish synthetic stream: key 1 dominates, long uniform tail —
    // the regime where the MG candidate pass must not lose a true
    // heavy hitter even though each partition sees a different mix
    val rnd = new scala.util.Random(7)
    val xs = Seq.fill(20000)(rnd.nextInt(100) match {
      case r if r < 40 => 1L                    // 40%
      case r if r < 55 => 2L                    // 15%
      case r if r < 60 => 3L                    // 5%
      case _           => 100L + rnd.nextInt(5000) // tail
    })
    val df = xs.toDF("k").repartition(8)
    val k = 20 // threshold = n/20 = 1000
    val got = graft.operators.HeavyHitters.frequentKeys(spark, df, "k", k)
      .select("k", "freq").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = xs.groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 * k > xs.length).toMap
    assert(got == want, s"got ${got.keySet} want ${want.keySet}")
    assert(got.contains(1L) && got.contains(2L))
  }

  test("market basket: rules well-formed, metrics consistent with raw counts") {
    import org.apache.spark.sql.functions._
    val rules = graft.queries.AnalyticQueries
      .queries("q_market_basket")(spark, sf).collect()
    assert(rules.nonEmpty)
    val keys = rules.map(r => (r.getLong(0), r.getLong(1)))
    assert(keys.forall { case (a, b) => a < b }, "pairs must be ordered")
    assert(keys.distinct.length == keys.length, "duplicate rule rows")
    // replay one rule's metrics from raw counts
    val op = Tables.lineitem(spark, sf)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p")).distinct()
    val nOrders = op.select(countDistinct(col("ok"))).head().getLong(0)
    val r0 = rules.head
    val (pa, pb, cab) = (r0.getLong(0), r0.getLong(1), r0.getLong(2))
    val ca = op.where(col("p") === pa).count()
    val cb = op.where(col("p") === pb).count()
    def rnd6(x: Double) = math.floor(x * 1e6 + 0.5) / 1e6
    assert(cab >= 2 && cab <= math.min(ca, cb))
    assert(r0.getDouble(3) == rnd6(cab.toDouble / nOrders))
    assert(r0.getDouble(4) == rnd6(cab.toDouble / ca))
    assert(r0.getDouble(5) == rnd6((cab.toDouble * nOrders) / (ca * cb)))
  }

  test("count-min: one-sided bound, per-row mass conservation, exact counts") {
    import org.apache.spark.sql.functions._
    val events = Tables.events(spark, sf)
    val n = events.where(col("user_id").isNotNull).count()
    // each sketch row must hold the full stream mass (every input row
    // lands in exactly one cell per row)
    val rowMass = graft.operators.CountMin.sketch(events, "user_id", w = 512)
      .groupBy("j").agg(sum(col("c")).as("mass")).collect()
    assert(rowMass.length == graft.operators.CountMin.Depth)
    rowMass.foreach(r =>
      assert(r.getLong(1) == n, s"row ${r.getInt(0)} mass ${r.getLong(1)} != $n"))
    // estimates never undercount, and equal exact when no collision
    val est = graft.operators.CountMin.estimates(events, "user_id", w = 512)
      .collect()
    assert(est.nonEmpty)
    est.foreach { r =>
      assert(r.getLong(2) >= r.getLong(1),
        s"key ${r.get(0)}: est ${r.getLong(2)} < exact ${r.getLong(1)} — " +
          "CMS must never undercount")
    }
    // exact side agrees with a plain groupBy
    val plain = events.where(col("user_id").isNotNull)
      .groupBy("user_id").count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(est.map(r => r.getLong(0) -> r.getLong(1)).toMap == plain)
  }

  test("distinct sketch: registers merge by max, estimate tracks exact") {
    import org.apache.spark.sql.functions._
    import graft.operators.DistinctSketch
    val events = Tables.events(spark, sf).where(col("user_id").isNotNull)
    def regMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      DistinctSketch.registers(df, "user_id").collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val whole = regMap(events)
    assert(whole.values.forall(r => r >= 1 && r <= DistinctSketch.MaxRank))
    // mergeability: sketch(A ∪ B) = elementwise max of sketch(A), sketch(B)
    // — the property that lets per-partition/per-day sketches union
    // without error at any scale
    val a = regMap(events.where(col("event_id") % 2 === 0))
    val b = regMap(events.where(col("event_id") % 2 =!= 0))
    val merged = (a.keySet ++ b.keySet).map { k =>
      k -> math.max(a.getOrElse(k, 0L), b.getOrElse(k, 0L))
    }.toMap
    assert(merged == whole, "split-and-merge sketch != whole-input sketch")
    // the driver-side estimate lands near the exact distinct count
    val exact = events.select(countDistinct(col("user_id"))).head().getLong(0)
    val est = DistinctSketch.estimate(whole)
    assert(math.abs(est - exact) <= 0.15 * exact,
      s"estimate $est vs exact $exact drifted beyond 15%")
  }

  test("kmv: union sketch = sketch of union; estimates track exact overlaps") {
    import org.apache.spark.sql.functions._
    import graft.operators.KmvSketch
    val events = Tables.events(spark, sf).where(col("user_id").isNotNull)
    val sk = KmvSketch.sketches(events, "event_type", "user_id")
      .collect().map(r => r.getString(0) -> r.getSeq[Long](1)).toMap
    assert(sk.nonEmpty && sk.values.forall(ks =>
      ks.length <= KmvSketch.K && ks == ks.sorted && ks.distinct == ks))
    // union property: k-min of (A ∪ B) == k-min of merged sketches —
    // the composability that makes KMV the set-algebra sketch
    val types = sk.keySet.toSeq.sorted
    for (ta <- types; tb <- types if ta < tb) {
      val direct = KmvSketch.sketches(
        events.where(col("event_type").isin(ta, tb))
          .withColumn("one", lit("u")), "one", "user_id")
        .collect().head.getSeq[Long](1)
      val merged = (sk(ta) ++ sk(tb)).distinct.sorted.take(KmvSketch.K)
      assert(merged == direct.toSeq, s"union sketch mismatch for ($ta,$tb)")
      // inclusion-exclusion estimate vs the exact overlap
      def estOf(ks: Seq[Long]): Double =
        if (ks.length < KmvSketch.K) ks.length.toDouble
        else KmvSketch.Scale / ks(KmvSketch.K - 1).toDouble
      val exactInter = events.where(col("event_type") === ta)
        .select("user_id").intersect(
          events.where(col("event_type") === tb).select("user_id")).count()
      val estInter = math.max(0.0,
        estOf(sk(ta)) + estOf(sk(tb)) - estOf(merged))
      assert(math.abs(estInter - exactInter) <= math.max(20.0, 0.5 * exactInter),
        s"($ta,$tb): inter estimate $estInter vs exact $exactInter")
    }
  }

  test("cms join-size: one-sided at every width, tight when w dominates n1*n2") {
    import org.apache.spark.sql.functions._
    val li = Tables.lineitem(spark, sf).select(col("l_orderkey").as("k"))
    val od = Tables.orders(spark, sf).select(col("o_orderkey").as("k"))
    val exact = li.join(od, Seq("k")).count()
    def estAt(w: Int): Long = graft.operators.CountMin
      .joinSizeEstimate(li, od, w).head().getLong(0)
    // the bound holds even at a deliberately collision-heavy width,
    // and the gap is the visible collision mass
    val coarse = estAt(64)
    assert(coarse >= exact, s"w=64: est $coarse < exact $exact")
    assert(coarse > exact,
      "w=64 should carry collision cross-terms at this key cardinality")
    // at the registered width the collision term n1*n2/w is small
    val fine = estAt(65536)
    assert(fine >= exact && fine <= (exact * 1.5).toLong + 100,
      s"w=65536: est $fine should be near exact $exact")
  }
}
