package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.queries.QueryHelpers._

/** Data-quality expectation suite — the audit pass every production
  * warehouse runs before publishing a table (null rates, key
  * uniqueness, referential integrity, domain ranges; the Deequ/dbt-test
  * operator family). One row per check, exact integer violation
  * counts.
  *
  * Scale shape: the three events checks ride ONE aggregate over one
  * scan (not one scan per check — at 100 TB that difference is the
  * whole cost); the two referential checks are anti-joins on the FK,
  * which AQE plans as broadcast or shuffle by dim size; the row checks
  * on lineitem/orders ride one aggregate each.
  */
object QualityQueries {

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dq_checks" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
      val li = Tables.lineitem(s, dir)
      val ord = Tables.orders(s, dir)
      val cust = Tables.customer(s, dir)
      // single-pass trio over events
      val evChecks = ev.agg(
          sum(when(col("value").isNull || col("props").isNull, 1L)
            .otherwise(0L)).as("null_fields"),
          (count(lit(1)) - countDistinct(col("event_id"))).as("dup_ids"),
          sum(when(col("value") < 0.0, 1L).otherwise(0L)).as("neg_value"))
        .selectExpr(
          "stack(3, 'events_null_fields', null_fields, " +
            "'events_dup_event_id', dup_ids, " +
            "'events_negative_value', neg_value) AS (check_name, n_violations)")
      val liOrphans = li.join(ord, li("l_orderkey") === ord("o_orderkey"),
          "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("lineitem_orphan_order").as("check_name"), col("n_violations"))
      val ordOrphans = ord.join(cust, ord("o_custkey") === cust("c_custkey"),
          "left_anti")
        .agg(count(lit(1)).as("n_violations"))
        .select(lit("orders_orphan_customer").as("check_name"), col("n_violations"))
      val liRange = li.agg(
          sum(when(col("l_quantity") <= 0.0, 1L).otherwise(0L)).as("npq"),
          sum(when(col("l_discount") < 0.0 || col("l_discount") > 0.1, 1L)
            .otherwise(0L)).as("disc"))
        .selectExpr(
          "stack(2, 'lineitem_nonpositive_qty', npq, " +
            "'lineitem_discount_range', disc) AS (check_name, n_violations)")
      val ordDomain = ord.agg(
          sum(when(!col("o_orderstatus").isin("O", "F", "P"), 1L)
            .otherwise(0L)).as("bad"))
        .select(lit("orders_bad_status").as("check_name"),
          col("bad").as("n_violations"))
      evChecks.unionAll(liOrphans).unionAll(ordOrphans)
        .unionAll(liRange).unionAll(ordDomain)
        .orderBy("check_name")
    }),

    // ---- robust outlier detection per event_type: median / MAD
    // (median absolute deviation) with the standard modified z-score
    // cut |v − med| > 3.5·1.4826·MAD. Exact interpolated percentiles
    // under the gate; med and MAD are rounded to 6 dp BEFORE the
    // comparison so the cut threshold is bit-identical cross-engine
    // (declared semantics: centers are published at 6 dp, the
    // comparison uses the published centers). Three passes over the
    // log here for exactness — the 100-TB form swaps the exact
    // percentiles for approx_percentile partials (one pass) and keeps
    // the same cut; the oracle pins the exact variant.
    "q_anomaly_mad" -> ((s, dir) => {
      val ev = Tables.events(s, dir).select(col("event_type"), col("value"))
        .where(col("value").isNotNull)
      val med = ev.groupBy(col("event_type"))
        .agg(rnd(expr("percentile(value, 0.5)"), 6).as("med"))
      val dev = ev.join(broadcast(med), "event_type")
        .withColumn("adev", abs(col("value") - col("med")))
      val mad = dev.groupBy(col("event_type"))
        .agg(min(col("med")).as("med"),
          rnd(expr("percentile(adev, 0.5)"), 6).as("mad"),
          count(lit(1)).as("n"))
      dev.select(col("event_type"), col("adev"))
        .join(broadcast(mad), "event_type")
        .groupBy(col("event_type"))
        .agg(min(col("med")).as("med"), min(col("mad")).as("mad"),
          min(col("n")).as("n"),
          sum(when(col("adev") > lit(3.5 * 1.4826) * col("mad"), 1L)
            .otherwise(0L)).as("n_outliers"))
        .orderBy("event_type")
    }),

    // ---- one-pass table profiler: per-column null count, distinct
    // count, min/max — the schema-discovery primitive a warehouse runs
    // on every new table. ONE wide aggregate over ONE scan (six
    // columns × four statistics; multiple distinct aggregates plan as
    // a single Expand), then a stack unpivot. Values surface in
    // canonical INTEGER encodings (cents for the 2-dp double, epoch
    // days for the date) or raw strings — never a double rendered to
    // text, whose cross-engine forms diverge (the q_table_diff_ranges
    // rule).
    "q_table_profile" -> ((s, dir) => {
      // (a pre-aggregate round-robin respread of the single-row-group
      // sf0.1 scan was tried in optimization round 19 and REJECTED by
      // measurement: with the hash-aggregable split below, the extra
      // shuffle costs more than the width buys — warm 2.52 s vs 1.97 s)
      val t = Tables.orders(s, dir)
      val enc: Map[String, org.apache.spark.sql.Column] = Map(
        "o_orderkey" -> col("o_orderkey"),
        "o_custkey" -> col("o_custkey"),
        "o_totalprice" -> floor(col("o_totalprice") * 100 + lit(0.5))
          .cast("long"),
        "o_orderdate" -> datediff(to_date(col("o_orderdate")),
          lit("1970-01-01")).cast("long"))
      val strCols = Seq("o_orderstatus", "o_orderpriority")
      val intCols = Seq("o_orderkey", "o_custkey", "o_totalprice",
        "o_orderdate")
      // optimization round 19 (guide §1.2 step 2): the original single
      // wide aggregate carried min/max over the STRING columns, whose
      // immutable agg buffers force SortAggregate — the 7-key sort of
      // the Expand output (rows ×7) was 2.1 s of a 2.9 s warm pass at
      // sf0.1. Split instead: (a) the int-encoded columns keep the one
      // Expand multi-distinct pass with all-Long buffers (HashAggregate,
      // whole-stage codegen, no sort at any volume); (b) the string
      // columns reduce FIRST to a per-(col, value) hash count (string
      // GROUP KEYS are hash-aggregable; only buffers must be mutable),
      // then min/max/distinct run over the tiny value table. Same rows,
      // same types — the oracle hash pins equality; the formatted plan
      // (graft.tools.ExplainDump) shows no corpus-row Sort.
      val aggs = intCols.flatMap { c =>
        val e = enc(c)
        Seq(count(e).as(s"nn_$c"), countDistinct(e).as(s"nd_$c"),
          min(e).as(s"mn_$c"), max(e).as(s"mx_$c"))
      }
      val wide = t.agg(count(lit(1)).as("n"), aggs: _*)
      val intRows = intCols.map(c =>
        s"'$c', n, n - nn_$c, nd_$c, mn_$c, mx_$c, " +
          "CAST(NULL AS STRING), CAST(NULL AS STRING)")
      val intPart = wide.selectExpr(s"stack(${intCols.length}, " +
        s"${intRows.mkString(", ")}) AS " +
        "(col_name, n, n_null, n_distinct, min_i, max_i, min_s, max_s)")
      val sv = t.selectExpr("stack(2, " +
          strCols.map(c => s"'$c', $c").mkString(", ") + ") AS (cname, v)")
        .groupBy(col("cname"), col("v"))
        .agg(count(lit(1)).as("tot"), count(col("v")).as("cnt"))
      val strPart = sv.groupBy(col("cname").as("col_name"))
        .agg(sum(col("tot")).as("n"),
          (sum(col("tot")) - sum(col("cnt"))).as("n_null"),
          count(col("v")).as("n_distinct"),
          min(col("v")).as("mn"), max(col("v")).as("mx"))
        .select(col("col_name"), col("n"), col("n_null"), col("n_distinct"),
          lit(null).cast("bigint").as("min_i"),
          lit(null).cast("bigint").as("max_i"),
          col("mn").as("min_s"), col("mx").as("max_s"))
      intPart.unionAll(strPart).orderBy("col_name")
    }),

    // ---- sketch-backed profiler — the 100-TB escape hatch for
    // q_table_profile's exact multi-distinct (VERDICT r11 "what's
    // wrong" #2): the exact form is one scan but Expand multiplies the
    // scan rows ×6 INTO THE SHUFFLE, and every distinct value travels;
    // this form reduces each column to a ≤4096-row register table
    // (DistinctSketch at p=12, σ≈1.6%) built by a map-side-combined
    // max aggregate — shuffle volume is O(columns × registers) whatever
    // the table volume. The register table itself (n_regs, sum_s — the
    // Σ 2^(maxRank−rank) scaled harmonic sum as an exact BIGINT) sits
    // under the exact hash gate on both engines (md5/bin integer
    // idioms, q_distinct_sketch pattern); the HLL estimate appears only
    // inside the pinned `within_5pct` boolean (vs the exact distinct
    // riding along as the gate arm — the q_quantile_sketch discipline:
    // the exact arm is the gate's cost, not the production plan's;
    // profileSketch(exactPin = false) is the production shape, A/B'd
    // in BASELINE.md round-13: exact 5.9-8.2 s cold isolated at sf0.1,
    // gated sketch 2.4-3.1 s, production sketch 0.74-0.83 s — ~7.6x).
    // Measured margins: max |err| 2.8% at sf0.01, 0.9% at sf0.1 — 5%
    // keeps ≥1.8× headroom.
    "q_table_profile_sketch" -> ((s, dir) =>
      profileSketch(Tables.orders(s, dir), exactPin = true)))

  /** Sketch-backed per-column profiler over `orders`-shaped input: two
    * narrow passes (a distinct-free wide aggregate + one explode into
    * per-column register sketches). With `exactPin` the wide pass also
    * carries the exact distinct counts and the output pins
    * `within_5pct`; without it the output is the pure production
    * artifact (no Expand anywhere in the plan).
    */
  def profileSketch(t: DataFrame, exactPin: Boolean): DataFrame = {
    import graft.operators.DistinctSketch
    val p = 12
    val m = 1 << p
    val mr = DistinctSketch.maxRankP(p) // 49
    val intEnc: Seq[(String, org.apache.spark.sql.Column)] = Seq(
      "o_orderkey" -> col("o_orderkey"),
      "o_custkey" -> col("o_custkey"),
      "o_totalprice" -> floor(col("o_totalprice") * 100 + lit(0.5))
        .cast("long"),
      "o_orderdate" -> datediff(to_date(col("o_orderdate")),
        lit("1970-01-01")).cast("long"))
    val strCols = Seq("o_orderstatus", "o_orderpriority")
    val allEnc: Seq[(String, org.apache.spark.sql.Column)] =
      intEnc.map { case (c, e) => c -> e.cast("string") } ++
        strCols.map(c => c -> col(c))
    val aggs = allEnc.flatMap { case (c, e) =>
      count(e).as(s"nn_$c") ::
        (if (exactPin) List(countDistinct(e).as(s"dn_$c")) else Nil)
    }
    val wide = t.agg(count(lit(1)).as("n"), aggs: _*)
    val stackCols =
      allEnc.map { case (c, _) =>
        if (exactPin) s"'$c', nn_$c, dn_$c" else s"'$c', nn_$c"
      }.mkString(", ")
    val wideRows = wide.selectExpr("n",
      s"stack(${allEnc.size}, $stackCols) AS " +
        (if (exactPin) "(col_name, nn, dn)" else "(col_name, nn)"))
    val entries = array(allEnc.map { case (c, e) =>
      struct(lit(c).as("cn"), e.as("k")) }: _*)
    val regs = t.select(explode(entries).as("e"))
      .select(col("e.cn").as("col_name"), col("e.k").as("k"))
      .where(col("k").isNotNull)
      .select(col("col_name"),
        DistinctSketch.regColP(col("k"), p).as("reg"),
        DistinctSketch.rankColP(col("k"), p).as("rank"))
      .groupBy(col("col_name"), col("reg"))
      .agg(max(col("rank")).as("mrk"))
    val sk = regs.groupBy(col("col_name"))
      .agg(count(lit(1)).as("n_regs"),
        sum(expr(s"shiftleft(CAST(1 AS BIGINT), CAST($mr - mrk AS INT))"))
          .as("sum_s"))
    val outCols = Seq(col("col_name"), col("n"),
      (col("n") - col("nn")).as("n_null"), col("n_regs"), col("sum_s")) ++
      (if (exactPin) Seq(col("dn")) else Nil)
    val joined = wideRows.join(sk, Seq("col_name")).select(outCols: _*)
    if (!exactPin)
      return joined.orderBy("col_name")
    // HLL estimate: one shared double literal C = α·m²·2^maxRank, one
    // division by the exact-integer harmonic sum; linear counting below
    // 2.5m. Appears only inside the pinned boolean — never hash-gated.
    val cNum = 0.7213 / (1.0 + 1.079 / m) * m * m *
      java.lang.Math.scalb(1.0, mr)
    val sTot = (col("sum_s") +
      (lit(m.toLong) - col("n_regs")) * lit(1L << mr)).cast("double")
    val zeros = lit(m.toLong) - col("n_regs")
    val raw = lit(cNum) / sTot
    val est = when(raw <= lit(2.5 * m) && zeros > 0,
      lit(m.toDouble) * log(lit(m.toDouble) / zeros.cast("double")))
      .otherwise(raw)
    joined
      .select(col("col_name"), col("n"), col("n_null"), col("n_regs"),
        col("sum_s"),
        (abs(est - col("dn").cast("double")) <=
          lit(0.05) * col("dn").cast("double")).as("within_5pct"))
      .orderBy("col_name")
  }

  val oracleSql: Map[String, String] = Map(
    // same md5/bin register derivation at p=12, same exact-integer
    // harmonic sum, same single-literal estimate inside the boolean
    "q_table_profile_sketch" -> {
      val p = 12
      val m = 1 << p
      val mr = 60 - p + 1
      val cNum = 0.7213 / (1.0 + 1.079 / m) * m * m *
        java.lang.Math.scalb(1.0, mr)
      val encs = Seq(
        "o_orderkey" -> "CAST(o_orderkey AS VARCHAR)",
        "o_custkey" -> "CAST(o_custkey AS VARCHAR)",
        "o_totalprice" ->
          "CAST(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS VARCHAR)",
        "o_orderdate" ->
          ("CAST(datediff('day', DATE '1970-01-01', " +
            "CAST(o_orderdate AS DATE)) AS VARCHAR)"),
        "o_orderstatus" -> "o_orderstatus",
        "o_orderpriority" -> "o_orderpriority")
      val keySel = encs.map { case (c, e) =>
        s"SELECT '$c' AS col_name, $e AS k FROM orders WHERE $e IS NOT NULL"
      }.mkString("\n  UNION ALL ")
      val wideAggs = encs.map { case (c, e) =>
        s"count($e) AS nn_$c, count(DISTINCT $e) AS dn_$c"
      }.mkString(",\n    ")
      val wideRows = encs.map { case (c, _) =>
        s"SELECT '$c' AS col_name, n, nn_$c AS nn, dn_$c AS dn FROM a"
      }.mkString("\n  UNION ALL ")
      val sTot = s"CAST(sum_s + ($m - n_regs) * (CAST(1 AS BIGINT) << $mr) AS DOUBLE)"
      val est = s"""CASE WHEN $cNum / $sTot <= ${2.5 * m} AND n_regs < $m
         |    THEN $m.0 * ln($m.0 / CAST($m - n_regs AS DOUBLE))
         |    ELSE $cNum / $sTot END""".stripMargin
      s"""WITH keys AS (
         |  $keySel
         |), h AS (
         |  SELECT col_name,
         |    CAST(('0x' || substr(md5(k), 1, 15)) AS BIGINT) AS h60
         |  FROM keys
         |), r AS (
         |  SELECT col_name, h60 % $m AS reg, h60 // $m AS sfx FROM h
         |), regs AS (
         |  SELECT col_name, reg,
         |    max(CASE WHEN sfx = 0 THEN $mr
         |      ELSE $mr - length(bin(sfx)) END) AS mrk
         |  FROM r GROUP BY 1, 2
         |), sk AS (
         |  SELECT col_name, CAST(count(*) AS BIGINT) AS n_regs,
         |    CAST(sum(CAST(1 AS BIGINT) << CAST($mr - mrk AS INT))
         |      AS BIGINT) AS sum_s
         |  FROM regs GROUP BY 1
         |), a AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n,
         |    $wideAggs
         |  FROM orders
         |), w AS (
         |  $wideRows
         |)
         |SELECT w.col_name, w.n, CAST(w.n - w.nn AS BIGINT) AS n_null,
         |  s.n_regs, s.sum_s,
         |  abs(($est) - CAST(w.dn AS DOUBLE)) <= 0.05 * CAST(w.dn AS DOUBLE)
         |    AS within_5pct
         |FROM w JOIN sk s ON s.col_name = w.col_name
         |ORDER BY w.col_name""".stripMargin
    },

    // same one-pass wide aggregate (AS MATERIALIZED so the six output
    // rows don't re-run it), same canonical integer encodings
    "q_table_profile" -> {
      val intAgg = Map(
        "o_orderkey" -> "o_orderkey",
        "o_custkey" -> "o_custkey",
        "o_totalprice" -> "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)",
        "o_orderdate" ->
          "datediff('day', DATE '1970-01-01', CAST(o_orderdate AS DATE))")
      val strCols = Seq("o_orderstatus", "o_orderpriority")
      val aggs =
        intAgg.toSeq.sortBy(_._1).map { case (c, e) =>
          s"count($e) AS nn_$c, count(DISTINCT $e) AS nd_$c, " +
            s"CAST(min($e) AS BIGINT) AS mn_$c, CAST(max($e) AS BIGINT) AS mx_$c"
        } ++ strCols.map { c =>
          s"count($c) AS nn_$c, count(DISTINCT $c) AS nd_$c, " +
            s"min($c) AS mn_$c, max($c) AS mx_$c"
        }
      val rows =
        intAgg.keys.toSeq.sorted.map(c =>
          s"""SELECT '$c' AS col_name, n, CAST(n - nn_$c AS BIGINT) AS n_null,
             |  CAST(nd_$c AS BIGINT) AS n_distinct, mn_$c AS min_i,
             |  mx_$c AS max_i, CAST(NULL AS VARCHAR) AS min_s,
             |  CAST(NULL AS VARCHAR) AS max_s FROM a""".stripMargin) ++
        strCols.map(c =>
          s"""SELECT '$c', n, CAST(n - nn_$c AS BIGINT),
             |  CAST(nd_$c AS BIGINT), CAST(NULL AS BIGINT),
             |  CAST(NULL AS BIGINT), mn_$c, mx_$c FROM a""".stripMargin)
      s"""WITH a AS MATERIALIZED (
         |  SELECT CAST(count(*) AS BIGINT) AS n, ${aggs.mkString(",\n    ")}
         |  FROM orders
         |)
         |${rows.mkString("\nUNION ALL\n")}
         |ORDER BY col_name""".stripMargin
    },

    "q_dq_checks" ->
      """SELECT check_name, CAST(n_violations AS BIGINT) AS n_violations FROM (
        |  SELECT 'events_null_fields' AS check_name,
        |    sum(CASE WHEN value IS NULL OR props IS NULL THEN 1 ELSE 0 END)
        |      AS n_violations FROM events
        |  UNION ALL
        |  SELECT 'events_dup_event_id', count(*) - count(DISTINCT event_id)
        |  FROM events
        |  UNION ALL
        |  SELECT 'events_negative_value',
        |    sum(CASE WHEN value < 0.0 THEN 1 ELSE 0 END) FROM events
        |  UNION ALL
        |  SELECT 'lineitem_orphan_order', count(*) FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)
        |  UNION ALL
        |  SELECT 'orders_orphan_customer', count(*) FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)
        |  UNION ALL
        |  SELECT 'lineitem_nonpositive_qty',
        |    sum(CASE WHEN l_quantity <= 0.0 THEN 1 ELSE 0 END) FROM lineitem
        |  UNION ALL
        |  SELECT 'lineitem_discount_range',
        |    sum(CASE WHEN l_discount < 0.0 OR l_discount > 0.1 THEN 1 ELSE 0 END)
        |  FROM lineitem
        |  UNION ALL
        |  SELECT 'orders_bad_status',
        |    sum(CASE WHEN o_orderstatus NOT IN ('O', 'F', 'P') THEN 1 ELSE 0 END)
        |  FROM orders
        |) ORDER BY check_name""".stripMargin,

    "q_anomaly_mad" ->
      s"""WITH ev AS (
         |  SELECT event_type, value FROM events WHERE value IS NOT NULL
         |), med AS (
         |  SELECT event_type,
         |    ${rndSql("quantile_cont(value, 0.5)", 6)} AS med
         |  FROM ev GROUP BY event_type
         |), dev AS (
         |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
         |  FROM ev e JOIN med m ON e.event_type = m.event_type
         |), mad AS (
         |  SELECT event_type, min(med) AS med,
         |    ${rndSql("quantile_cont(adev, 0.5)", 6)} AS mad,
         |    count(*) AS n
         |  FROM dev GROUP BY event_type
         |)
         |SELECT d.event_type, min(m.med) AS med, min(m.mad) AS mad,
         |  CAST(min(m.n) AS BIGINT) AS n,
         |  CAST(sum(CASE WHEN d.adev > 3.5 * 1.4826 * m.mad
         |    THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
         |FROM dev d JOIN mad m ON d.event_type = m.event_type
         |GROUP BY d.event_type
         |ORDER BY d.event_type""".stripMargin)
}
