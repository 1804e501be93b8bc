package graft

import org.apache.spark.sql.functions._
import graft.queries.WarehouseQueries

/** Semantic invariants for the behavioral/warehouse queries (the DuckDB
  * oracle pins full output at sf0.01; these pin the properties that must
  * hold at ANY scale).
  */
class WarehouseSpec extends SparkSpec {

  private def q(name: String) = WarehouseQueries.queries(name)(spark, sf)

  test("retention cohort: offset 0 is the cohort itself and retention never exceeds 1") {
    val rows = q("q_retention_cohort").collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val offset = r.getLong(1)
      val nActive = r.getLong(2)
      val cohortSize = r.getLong(4)
      val retention = r.getDouble(5)
      assert(offset >= 0)
      assert(nActive <= cohortSize, s"active $nActive > cohort $cohortSize")
      assert(retention >= 0.0 && retention <= 1.0)
      if (offset == 0) assert(nActive == cohortSize && retention == 1.0)
    }
    // cohort sizes sum to the distinct-user count (each user in exactly
    // one cohort)
    val cohortTotal = rows.filter(_.getLong(1) == 0).map(_.getLong(2)).sum
    val nUsers = Tables.events(spark, sf)
      .select(countDistinct(col("user_id"))).head().getLong(0)
    assert(cohortTotal == nUsers)
  }

  test("snapshot diff classifies exactly the mutated keys") {
    val rows = q("q_snapshot_diff").collect()
    val byOp = rows.groupBy(_.getString(0)).view.mapValues(_.length).toMap
    val keys = Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val nDel = keys.count(_ % 97 == 0)
    val nIns = keys.count(_ % 101 == 0)
    // updates: priority rewritten, unless the row was deleted
    val nUpd = keys.count(k => k % 31 == 0 && k % 97 != 0)
    assert(byOp.getOrElse("D", 0) == nDel, s"deletes: $byOp vs $nDel")
    assert(byOp.getOrElse("I", 0) == nIns, s"inserts: $byOp vs $nIns")
    assert(byOp.getOrElse("U", 0) == nUpd, s"updates: $byOp vs $nUpd")
    // D rows carry null payload; I/U rows carry the new generation
    rows.foreach { r =>
      if (r.getString(0) == "D") assert(r.isNullAt(2))
      else assert(!r.isNullAt(2))
    }
    // diff is |changes|-sized, never |table|-sized
    assert(rows.length == nDel + nIns + nUpd)
  }

  test("incremental aggregate equals full recompute over generation B") {
    val incr = q("q_incr_agg").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    // rebuild generation B independently and aggregate it directly
    val a = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"))
    val b = a.where(col("o_orderkey") % 97 =!= 0)
      .unionAll(a.where(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000000L)))
    val full = b.groupBy(col("o_custkey"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("c"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(incr.toSet == full.toSet,
      "delta-maintained aggregate must equal the from-scratch aggregate")
    // the delta itself is |changes|-sized: signed weights reconcile the
    // two generations' cardinalities
    val payload = Seq("o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority")
    val ga = Tables.orders(spark, sf)
      .select((("o_orderkey" +: payload).map(col)): _*)
    val gb = ga.where(col("o_orderkey") % 97 =!= 0)
      .withColumn("o_orderpriority",
        when(col("o_orderkey") % 31 === 0, lit("X-DIFF"))
          .otherwise(col("o_orderpriority")))
      .unionAll(ga.where(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000000L)))
    val wsum = graft.operators.Cdc.delta(ga, gb, "o_orderkey", payload)
      .agg(sum(col("weight"))).collect()(0).getLong(0)
    assert(wsum == gb.count() - ga.count())
  }

  test("table range diff flags exactly the ranges containing changes") {
    val flagged = q("q_table_diff_ranges")
      .select("bucket").collect().map(_.getLong(0)).toSet
    // expected ranges from the generation rules: deletes (%97),
    // updates (%31 surviving deletion), inserts (%101 at key+1e10)
    val keys = Tables.orders(spark, sf)
      .select(col("o_orderkey")).collect().map(_.getLong(0))
    val changedBase = keys.filter(k => k % 97 == 0 || (k % 31 == 0 && k % 97 != 0))
      .map(_ / 1000).toSet
    val inserted = keys.filter(_ % 101 == 0).map(k => (k + 10000000000L) / 1000).toSet
    assert(flagged == changedBase ++ inserted,
      s"flagged ranges diverge: extra=${flagged -- changedBase -- inserted} " +
        s"missing=${(changedBase ++ inserted) -- flagged}")
    // counts on flagged ranges reconcile with the row-level CDC ops
    val nA = q("q_table_diff_ranges").agg(sum(col("n_a"))).head().getLong(0)
    val nB = q("q_table_diff_ranges").agg(sum(col("n_b"))).head().getLong(0)
    val dels = keys.count(_ % 97 == 0)
    val ins = keys.count(_ % 101 == 0)
    assert(nB - nA == ins - dels,
      s"range-count delta ${nB - nA} must equal inserts-deletes ${ins - dels}")
  }

  test("incremental JOIN view equals full recompute; every mutation class fires") {
    val incr = q("q_incr_join").collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    // rebuild both B generations independently and join from scratch
    val a = Tables.orders(spark, sf).select(col("o_orderkey"),
      col("o_custkey"), col("o_totalprice"))
    val b = a.where(col("o_orderkey") % 97 =!= 0)
      .unionAll(a.where(col("o_orderkey") % 101 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(10000000000L)))
    val ca = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"))
    val cb = ca.where(col("c_custkey") % 127 =!= 0)
      .withColumn("c_nationkey",
        when(col("c_custkey") % 113 === 0, (col("c_nationkey") + 1) % 25)
          .otherwise(col("c_nationkey")))
      .unionAll(ca.where(col("c_custkey") % 131 === 0)
        .withColumn("c_custkey", col("c_custkey") + lit(10000000000L)))
    val full = b.join(cb, col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_nationkey"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + lit(0.5)).cast("long")).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(incr.toSet == full.toSet,
      "delta-maintained join view must equal the from-scratch join")
    // non-vacuity: the customer delta carries nation moves (update
    // pairs), deletes, and inserts at this fixture scale
    val dS = graft.operators.Cdc.delta(ca, cb, "c_custkey", Seq("c_nationkey"))
    val perKey = dS.groupBy(col("c_custkey"))
      .agg(sum(col("weight")).as("w"), count(lit(1)).as("k")).collect()
    assert(perKey.exists(r => r.getLong(1) == 0L && r.getLong(2) == 2L),
      "expected at least one nation-move update pair")
    assert(perKey.exists(r => r.getLong(1) == -1L), "expected a delete")
    assert(perKey.exists(r => r.getLong(1) == 1L), "expected an insert")
  }

  test("rolling 7-day actives match a brute-force driver replay") {
    val got = q("q_rolling_actives").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val days = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)")
          .as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val byDay = days.groupBy(_._2).view.mapValues(_.map(_._1).toSet).toMap
    val brute = byDay.map { case (d, _) =>
      val w = (d - 6 to d).flatMap(byDay.get).flatten.toSet
      d -> (byDay(d).size.toLong, w.size.toLong)
    }
    assert(got == brute)
  }

  test("rfm: segment encodes the triple; buckets monotone; money quintiles balanced") {
    val rows = q("q_rfm").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getInt(4), r.getInt(5), r.getInt(6), r.getInt(7)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, _, _, _, rb, fb, mb, seg) =>
      assert(rb >= 1 && rb <= 5 && fb >= 1 && fb <= 5 && mb >= 1 && mb <= 5)
      assert(seg == rb * 100 + fb * 10 + mb)
    }
    // bucket assignment is monotone in the metric
    rows.sortBy(_._4).map(_._7).sliding(2).foreach {
      case Array(a, b) => assert(a <= b); case _ =>
    }
    // m_cents is ~unique per customer, so its quintiles are balanced
    // (tie-heavy metrics like f may legitimately lump)
    val n = rows.length.toDouble
    rows.groupBy(_._7).values.foreach { g =>
      assert(g.length / n > 0.10 && g.length / n < 0.35,
        s"money bucket share ${g.length / n} out of quintile range")
    }
  }

  test("streaks match a brute-force driver recomputation") {
    val got = q("q_streaks").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toMap
    val days = Tables.events(spark, sf)
      .select(col("user_id"),
        expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)")
          .as("day"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val brute = days.groupBy(_._1).map { case (u, ds) =>
      val sorted = ds.map(_._2).sorted
      // split into runs of consecutive days
      val runs = sorted.foldLeft(List.empty[List[Long]]) {
        case (h :: t, d) if h.head == d - 1 => (d :: h) :: t
        case (acc, d) => List(d) :: acc
      }.map(r => (r.length.toLong, r.min))
      val (len, start) = runs.maxBy { case (l, s) => (l, -s) }
      u -> (sorted.length.toLong, len, start, runs.length.toLong)
    }
    assert(got == brute, "streak stats must equal the driver replay")
  }

  test("gap fill: dense grid, zeros on gap days, forward fill carries") {
    val rows = q("q_gap_fill").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val prios = rows.map(_._1).distinct
    val maxDay = rows.map(_._2).max
    assert(rows.length == prios.length * (maxDay + 1),
      "one row per (priority, day) over the full span")
    rows.groupBy(_._1).foreach { case (_, series) =>
      var carried = 0L
      series.sortBy(_._2).foreach { case (_, _, n, cents, got) =>
        if (n > 0) carried = cents
        else assert(cents == 0L, "gap days zero-fill the daily sum")
        assert(got == carried, "carried_cents = last observed day's cents")
      }
    }
  }

  test("transition matrix: rows are probability distributions and counts conserve") {
    val rows = q("q_transition_matrix").collect()
    assert(rows.nonEmpty)
    // per-source probabilities sum to 1 (within rounding of 6 dp each)
    rows.groupBy(_.getString(0)).foreach { case (src, rs) =>
      val pSum = rs.map(_.getDouble(3)).sum
      assert(math.abs(pSum - 1.0) < 1e-4, s"$src row sums to $pSum")
    }
    // total transitions = total events − one per user (the last event
    // of each user has no successor)
    val totalTrans = rows.map(_.getLong(2)).sum
    val ev = Tables.events(spark, sf)
    val nEvents = ev.count()
    val nUsers = ev.select(countDistinct(col("user_id"))).head().getLong(0)
    assert(totalTrans == nEvents - nUsers)
  }

  test("HLL rolling actives pins within_5pct TRUE against the exact form") {
    val exact = q("q_rolling_actives").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val est = q("q_rolling_actives_hll").collect()
    assert(est.length == exact.size,
      s"day coverage differs: hll ${est.length} vs exact ${exact.size}")
    est.foreach { r =>
      val day = r.getLong(0)
      // n_active_1d is exact and must equal the exact query's dailies
      assert(r.getLong(1) == exact(day)._1,
        s"day $day: n_active_1d ${r.getLong(1)} vs exact ${exact(day)._1}")
      assert(r.getBoolean(2), s"day $day: sketch estimate >5% off exact")
    }
    // the estimate is deterministic (HLL register-max is commutative):
    // a repeated run must match exactly
    val again = q("q_rolling_actives_hll").collect()
      .map(r => (r.getLong(0), r.getBoolean(2)))
    assert(again.sameElements(est.map(r => (r.getLong(0), r.getBoolean(2)))))
  }

  test("HLL rolling actives covers the CALENDAR window on gap-day data") {
    // users {1,2} active on day 0, {3} on day 1, {4} on day 10: day 10's
    // trailing window is calendar days [4, 10] = user 4 alone. A rows
    // frame (last 7 *observed* days) would sweep in days 0 and 1 and
    // estimate ~4 actives — >5% off the exact 1, failing within_5pct.
    import spark.implicits._
    val days = Seq((1L, 0L), (2L, 0L), (3L, 1L), (4L, 10L))
      .toDF("user_id", "day")
    val got = WarehouseQueries.rollingActivesHll(days).collect()
    assert(got.map(_.getLong(0)).toSeq == Seq(0L, 1L, 10L))
    assert(got.map(_.getLong(1)).toSeq == Seq(2L, 1L, 1L))
    // exact calendar-window distincts: [−6,0]→{1,2}, [−5,1]→{1,2,3},
    // [4,10]→{4} — a rows frame would report 4 for day 10
    assert(got.map(_.getLong(3)).toSeq == Seq(2L, 3L, 1L))
    got.foreach { r =>
      assert(r.getBoolean(4),
        s"day ${r.getLong(0)}: window widened past the calendar span")
    }
  }

  test("KMV rolling actives: exact below sketch capacity, bounded above it") {
    val kmv = graft.queries.WarehouseQueries
      .queries("q_rolling_actives_kmv")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getDouble(2)).toMap
    val exact = graft.queries.WarehouseQueries
      .queries("q_rolling_actives")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
    assert(kmv.keySet == exact.keySet)
    kmv.foreach { case (day, est) =>
      val ex = exact(day)
      if (ex < graft.operators.KmvSketch.K)
        // the union sketch held the whole set — the estimate IS exact
        assert(est == ex.toDouble,
          s"day $day: sub-capacity estimate $est != exact $ex")
      else
        assert(math.abs(est - ex) <= 0.35 * ex,
          s"day $day: estimate $est vs exact $ex beyond the k=64 error band")
    }
  }

  test("quantile sketch summaries merge losslessly (bottom-K composability)") {
    import graft.operators.DistinctSketch
    // small K so per-day truncation actually bites at fixture scale
    // (the registered K=2048 exceeds sf0.01's per-day pair count)
    val K = 16
    val e = Tables.events(spark, sf).select(
      expr("CAST(datediff(to_date(timestamp_micros(ts_ns DIV 1000)), " +
        "DATE '1970-01-01') AS BIGINT)").as("day"),
      DistinctSketch.hash60(col("event_id")).as("pr"),
      col("value").as("v"))
    val pairs = e.groupBy(col("day"), col("pr")).agg(min(col("v")).as("v"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val byDay = pairs.groupBy(_._1)
    val days = byDay.keys.toSeq.sorted
    days.foreach { d =>
      val window = (d - 6) to d
      // union-of-summaries path: per-day bottom-K by priority, merged,
      // re-truncated to K
      val merged = window.flatMap(wd =>
          byDay.getOrElse(wd, Array.empty[(Long, Long, Double)])
            .sortBy(p => (p._2, p._3)).take(K))
        .sortBy(p => (p._2, p._3)).take(K).map(p => (p._2, p._3))
      // direct path: bottom-K over the window's raw pairs
      val direct = window.flatMap(wd =>
          byDay.getOrElse(wd, Array.empty[(Long, Long, Double)]))
        .sortBy(p => (p._2, p._3)).take(K).map(p => (p._2, p._3))
      assert(merged == direct,
        s"day $d: merged summary diverged from the direct bottom-$K")
    }
    // and the registered query's accuracy boolean is true on every row
    val rows = q("q_quantile_sketch").collect()
    assert(rows.nonEmpty && rows.forall(_.getAs[Boolean]("within_10pct")),
      "within_10pct must hold on every day at fixture scale")
    // the same summary serves every quantile: p10 <= p50 <= p90
    rows.foreach { r =>
      assert(r.getAs[Double]("est_p10_7d") <= r.getAs[Double]("est_p50_7d") &&
        r.getAs[Double]("est_p50_7d") <= r.getAs[Double]("est_p90_7d"),
        s"quantile order violated on day ${r.getAs[Long]("day")}")
    }
  }
}
