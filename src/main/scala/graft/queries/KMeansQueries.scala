package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators._
import graft.queries.QueryHelpers._

/** Oracle-checked queries for the k-means operator family
  * (SURVEY §2: S1, P1, J1, J2, A1, A4, A5, A6; §7.1 minimum slice).
  *
  * Spark side uses the expression-form assignment (no shuffle, full
  * codegen); the oracle SQL builds every assignment and unrolled fit
  * through [[lloydCtes]] (per-row `least()` + first-match CASE,
  * lowest-cid tie-break). Both evaluate the identical float arithmetic,
  * so assignments match bit-for-bit.
  */
object KMeansQueries {

  /** Seed for the Rerandomize-repair pin (two draws — one empty cluster). */
  private val RerandSeed = 77L

  private def assigned2d(spark: SparkSession, sfDir: String, cs: Seq[Centroid2D]): DataFrame =
    Assign.withNearest(Tables.points2d(spark, sfDir), cs)

  /** Per-cluster step stats of an assignment (count, 4dp means, SSE in
    * 1e9 units): the tail kmeans_step and kmeans_fit_unrolled share. */
  private def stepStats(assigned: DataFrame): DataFrame =
    assigned.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("cnt"),
        rnd(avg(col("x")), 4).as("new_x"),
        rnd(avg(col("y")), 4).as("new_y"),
        rnd(sum(col("d2")) / lit(1e9), 2).as("sse_e9"))
      .orderBy("cluster_id")

  // ---- shared oracle SQL fragments ----

  /** The one SQL argmin: `d` computes one distance column dd<k> per
    * centroid (ascending cid) over `from`, `n` adds their `least()` as
    * dmin and `a` keeps `keep`, dmin and the first cid whose distance
    * equals it. The first-match CASE mirrors the Spark expression form
    * token-for-token: lowest cid wins ties (mapper.py:43 strict `<`), a
    * null distance (an empty cluster's pivoted NULL centroid) drops out
    * of `least()` and never matches, and a row with no distance at all
    * gets -1. No window or grouping, so no unique-key requirement
    * ((l_orderkey, l_linenumber) is NOT unique in the synthetic
    * fixtures) and bit-identical float evaluation on both engines.
    */
  private def argmin(d: String, n: String, a: String, from: String,
      keep: Seq[String], dists: Seq[(Int, String)], cidCol: String): Seq[String] = {
    val cols = keep.mkString(", ")
    val dcols = dists.map { case (k, e) => s"$e AS dd$k" }.mkString(",\n        ")
    val leastArgs = dists.map { case (k, _) => s"dd$k" }.mkString(", ")
    val caseArms = dists.map { case (k, _) => s"WHEN dd$k = dmin THEN $k" }.mkString(" ")
    Seq(s"$d AS (SELECT $cols,\n        $dcols\n      FROM $from)",
      s"$n AS (SELECT *, least($leastArgs) AS dmin FROM $d)",
      s"$a AS (SELECT $cols, dmin, CAST(CASE $caseArms ELSE -1 END AS INT) AS $cidCol FROM $n)")
  }

  /** `WITH` CTEs of `iters` unrolled Lloyd passes plus a final
    * assignment, the oracle twin of [[Assign]] (`iters = 0`) and of the
    * unrolled fits (SURVEY §5.1 promise; the reference's driver loop
    * master.py:352-366). `p` is `points`; `w0` holds `init` as one
    * `DOUBLE[]` column c<k> per cid. Pass i assigns `p CROSS JOIN
    * w(i-1)` (d<i>, n<i>, a<i>) with the scalar ascending distance chain
    * `(x - c<k>[1])*(x - c<k>[1]) + …` the Spark kernels evaluate; between
    * passes g<i> takes the per-cluster means of `coords` rounded at 4dp
    * (the §7.5 cross-engine contract) and w<i> pivots them to ONE row,
    * so "centroids become the next pass's constants" needs no unique
    * point key. An empty cluster pivots to NULL and drops out of the
    * argmin, exactly as its cid is absent from the Spark side's
    * collected literal set. The last assignment is `a`: `carry`, dmin,
    * cluster_id.
    */
  private def lloydCtes(points: String, carry: Seq[String], coords: Seq[String],
      init: Seq[(Int, Array[Double])], iters: Int): String = {
    val sorted = init.sortBy(_._1)
    val cids = sorted.map(_._1)
    def dist(k: Int): String = coords.zipWithIndex.map { case (x, j) =>
      s"($x - c$k[${j + 1}])*($x - c$k[${j + 1}])"
    }.mkString(" + ")
    val w0 = sorted.map { case (k, v) =>
      v.map(Centroids.sqlDouble).mkString("[", ", ", s"] AS c$k")
    }.mkString(",\n        ")
    val ctes = scala.collection.mutable.ArrayBuffer(
      s"p AS ($points)", s"w0 AS (SELECT\n        $w0)")
    for (i <- 1 to iters + 1) {
      val a = if (i > iters) "a" else s"a$i"
      ctes ++= argmin(s"d$i", s"n$i", a, s"p CROSS JOIN w${i - 1}",
        carry, cids.map(k => k -> dist(k)), "cluster_id")
      if (i <= iters) {
        val means = coords.map(x => rndSql(s"avg($x)", 4)).mkString("[", ", ", "]")
        ctes += s"g$i AS (SELECT cluster_id, $means AS c FROM $a GROUP BY cluster_id)"
        val pivot = cids.map(k => s"max(CASE WHEN cluster_id = $k THEN c END) AS c$k")
          .mkString(",\n        ")
        ctes += s"w$i AS (SELECT\n        $pivot\n      FROM g$i)"
      }
    }
    ctes.mkString("WITH ", ",\n", "")
  }

  /** [[lloydCtes]] with no pass: the lineitem points, keyed like
    * Tables.points2d, assigned to `cs`. */
  private def lloydCtes2d(cs: Seq[Centroid2D]): String =
    lloydCtes("SELECT l_orderkey, l_linenumber, l_extendedprice AS x, l_quantity AS y FROM lineitem",
      Seq("l_orderkey", "l_linenumber", "x", "y"), Seq("x", "y"),
      cs.map(c => c.cid -> Array(c.cx, c.cy)), iters = 0)

  /** SQL twin of [[stepStats]] over the CTE `a`. */
  private val stepStatsSql =
    s"""SELECT cluster_id, count(*) AS cnt,
       |       ${rndSql("avg(x)", 4)} AS new_x,
       |       ${rndSql("avg(y)", 4)} AS new_y,
       |       ${rndSql("sum(dmin) / 1e9", 2)} AS sse_e9
       |FROM a GROUP BY cluster_id ORDER BY cluster_id""".stripMargin

  /** Unrolled fixed-iteration Lloyd fit (SURVEY §5.1 promise; the
    * reference's driver loop master.py:352-366): each iteration assigns
    * against the current centroids, recomputes per-cluster means ROUNDED
    * at 4dp (the §7.5 cross-engine contract — the rounded double is
    * bit-identical on both engines when the raw avgs agree at 4dp), and
    * the K-row result becomes the next iteration's plan literals — the
    * same driver-resident-centroids shape as KMeansLoop/the reference.
    * Its SQL twin is [[lloydCtes]] with the same `iters`.
    */
  private def unrolledCentroids(s: SparkSession, dir: String, iters: Int): Seq[Centroid2D] = {
    val pts = Tables.points2d(s, dir).select(col("x"), col("y"))
    var cs = Centroids.k2d
    for (_ <- 1 to iters) {
      cs = Assign.withNearest(pts, cs)
        .groupBy(col("cluster_id"))
        .agg(rnd(avg(col("x")), 4).as("cx"), rnd(avg(col("y")), 4).as("cy"))
        .collect()
        .map(r => Centroid2D(r.getInt(0), r.getDouble(1), r.getDouble(2)))
        .toSeq.sortBy(_.cid)
    }
    cs
  }

  // ---- unrolled ND fit (64-dim embeddings, K=4, 3 iterations) ----

  private val NdK = 4
  private val NdDim = 64
  private val NdIters = 3

  private def ndInit: Seq[CentroidND] =
    Centroids.randomInitND(NdK, NdDim, seed = 42L, -0.5, 0.5)

  private def ndPoints(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.VecFunctions.toDoubleArray
    Tables.embeddings(s, dir).select(toDoubleArray(col("embedding")).as("v"))
  }

  /** ND twin of [[unrolledCentroids]]: per-iteration group means of all
    * 64 dims rounded at 4dp (floor form) become the next iteration's
    * plan literals. Empty clusters drop out of the collected set exactly
    * like the 2-D form. Its SQL twin is [[lloydCtes]] over `v[1]`..`v[64]`.
    */
  private def unrolledCentroidsND(s: SparkSession, dir: String): Seq[CentroidND] = {
    val pts = ndPoints(s, dir)
    var cs = ndInit
    for (_ <- 1 to NdIters) {
      val aggs = (0 until NdDim).map(i => rnd(avg(col("v")(i)), 4).as(s"c$i"))
      cs = Assign.withNearestND(pts, col("v"), cs, "cid")
        .groupBy(col("cid")).agg(aggs.head, aggs.tail: _*)
        .collect()
        .map(r => CentroidND(r.getInt(0),
          Array.tabulate(NdDim)(i => r.getDouble(i + 1))))
        .toSeq.sortBy(_.cid)
    }
    cs
  }

  // ---- k-means‖ scalable seeding (Bahmani et al. 2012) ----

  private val KppK = 8
  private val KppEll = 16
  private val KppRounds = 3
  private val KppLloyd = 2

  /** SQL twin of KMeansParallel.initScalable + assignStats: the same
    * fixed-round oversampling / weighting / integer-Lloyd recluster
    * ladder in CTEs. List-native dmin² (the PQ-oracle lesson), every
    * candidate pick via the pack = cxi·2²⁰ + cyi encoding (exactly the
    * lexicographic (cxi, cyi) order — both coordinates are positive
    * centi-units far below 2²⁰ on y), HUGEINT only where Spark runs
    * DECIMAL(38,0) (the φ sum and the sampling cross-product).
    */
  private def kmeansParallelOracleSql: String = {
    val P = 1048576L // 2^20 — the u20 modulus AND the (cxi, cyi) pack base
    def u20(r: Int) = KMeansParallel.u20Sql(r)
    def d2(px: String, py: String, cx: String, cy: String) =
      s"($px - $cx)*($px - $cx) + ($py - $cy)*($py - $cy)"
    val ctes = scala.collection.mutable.ArrayBuffer[String]()
    ctes += s"""pts AS MATERIALIZED (
      |  SELECT CAST(floor(l_extendedprice*100 + 0.5) AS BIGINT) AS xi,
      |         CAST(floor(l_quantity*100 + 0.5) AS BIGINT) AS yi,
      |         count(*) AS w
      |  FROM lineitem GROUP BY 1, 2)""".stripMargin
    // c0: argmin of (u20(p,0), xi, yi) — two-stage min via the pack
    ctes += s"h0 AS (SELECT xi, yi, ${u20(0)} AS u FROM pts)"
    ctes += "um AS (SELECT min(u) AS mu FROM h0)"
    ctes += s"""cand0 AS MATERIALIZED (
      |  SELECT pk // $P AS cxi, pk % $P AS cyi FROM (
      |    SELECT min(xi*$P + yi) AS pk FROM h0 CROSS JOIN um WHERE u = mu))""".stripMargin
    (1 to KppRounds).foreach { r =>
      ctes += s"cl${r - 1} AS (SELECT list(struct_pack(cxi := cxi, cyi := cyi)) AS cs FROM cand${r - 1})"
      ctes += s"""dm$r AS MATERIALIZED (SELECT xi, yi, w,
        |  list_min(list_transform(cs, c -> ${d2("xi", "yi", "c.cxi", "c.cyi")})) AS dm
        |  FROM pts CROSS JOIN cl${r - 1})""".stripMargin
      ctes += s"ph$r AS (SELECT sum(CAST(w*dm AS HUGEINT)) AS phi FROM dm$r)"
      ctes += s"""s$r AS (SELECT xi, yi FROM dm$r CROSS JOIN ph$r
        |  WHERE CAST(${u20(r)} AS HUGEINT) * phi
        |      < CAST($KppEll * w * dm AS HUGEINT) * $P)""".stripMargin
      ctes += s"""cand$r AS MATERIALIZED (SELECT cxi, cyi FROM cand${r - 1}
        |  UNION ALL SELECT xi AS cxi, yi AS cyi FROM s$r)""".stripMargin
    }
    // weighting: nearest candidate (min d2, ties lowest (cxi, cyi))
    ctes += s"clF AS (SELECT list(struct_pack(cxi := cxi, cyi := cyi)) AS cs FROM cand$KppRounds)"
    ctes += s"""nr AS MATERIALIZED (SELECT xi, yi, w,
      |  list_min(list_transform(cs, c -> ${d2("xi", "yi", "c.cxi", "c.cyi")})) AS dm
      |  FROM pts CROSS JOIN clF)""".stripMargin
    ctes += s"""np AS (SELECT n.xi, n.yi, n.w,
      |  list_min(list_transform(
      |    list_filter(cs, c -> ${d2("n.xi", "n.yi", "c.cxi", "c.cyi")} = n.dm),
      |    c -> c.cxi*$P + c.cyi)) AS pk
      |  FROM nr n CROSS JOIN clF)""".stripMargin
    ctes += s"""cw AS MATERIALIZED (SELECT pk // $P AS cxi, pk % $P AS cyi,
      |  CAST(sum(w) AS BIGINT) AS wc FROM np GROUP BY pk)""".stripMargin
    // seeds: the derandomized weighted k-means++ pick (recluster
    // scaladoc) — seed 0 = heaviest candidate, seed i = argmax of
    // wc·dmin² vs seeds so far, ties → lowest pack; w·dmin² in HUGEINT
    // every ladder CTE is MATERIALIZED: sd_i is referenced twice per
    // level (the next pick's seed list AND the union), which DuckDB
    // would otherwise re-execute exponentially down the chain
    ctes += "wm AS (SELECT max(wc) AS mw FROM cw)"
    ctes += s"""sd0 AS MATERIALIZED (SELECT CAST(0 AS INT) AS cid, pk // $P AS cxi, pk % $P AS cyi
      |  FROM (SELECT min(cxi*$P + cyi) AS pk FROM cw CROSS JOIN wm WHERE wc = mw))""".stripMargin
    (1 until KppK).foreach { i =>
      ctes += s"ss${i - 1} AS MATERIALIZED (SELECT list(struct_pack(cxi := cxi, cyi := cyi)) AS ss FROM sd${i - 1})"
      ctes += s"""pd$i AS MATERIALIZED (SELECT cxi, cyi,
        |  CAST(wc AS HUGEINT) * list_min(list_transform(ss,
        |    s -> ${d2("cxi", "cyi", "s.cxi", "s.cyi")})) AS sc
        |  FROM cw CROSS JOIN ss${i - 1})""".stripMargin
      ctes += s"pm$i AS (SELECT max(sc) AS mx FROM pd$i)"
      ctes += s"""sd$i AS MATERIALIZED (SELECT cid, cxi, cyi FROM sd${i - 1} UNION ALL
        |  SELECT CAST($i AS INT) AS cid, pk // $P AS cxi, pk % $P AS cyi
        |  FROM (SELECT min(cxi*$P + cyi) AS pk FROM pd$i CROSS JOIN pm$i WHERE sc = mx))""".stripMargin
    }
    val cids = 0 until KppK
    def pivotCols(src: (Int, String) => String): String =
      cids.flatMap(k => Seq(s"${src(k, "x")} AS cx$k", s"${src(k, "y")} AS cy$k"))
        .mkString(",\n        ")
    ctes += s"""w0 AS MATERIALIZED (SELECT
      |        ${pivotCols((k, a) => s"max(CASE WHEN cid = $k THEN c${a}i END)")}
      |      FROM sd${KppK - 1})""".stripMargin
    // Lloyd rounds over the candidate set: exact integer weighted means,
    // keepold on empty seats
    def centers(px: String, py: String) =
      cids.map(k => k -> d2(px, py, s"cx$k", s"cy$k"))
    (1 to KppLloyd).foreach { i =>
      ctes ++= argmin(s"ld$i", s"ln$i", s"la$i", s"cw CROSS JOIN w${i - 1}",
        Seq("cxi", "cyi", "wc"), centers("cxi", "cyi"), "cid")
      ctes += s"""lg$i AS (SELECT cid, sum(wc*cxi) // sum(wc) AS ncx,
        |  sum(wc*cyi) // sum(wc) AS ncy FROM la$i GROUP BY cid)""".stripMargin
      val wcols = cids.flatMap(k => Seq(
        s"coalesce(max(CASE WHEN cid = $k THEN ncx END), max(pcx$k)) AS cx$k",
        s"coalesce(max(CASE WHEN cid = $k THEN ncy END), max(pcy$k)) AS cy$k"))
        .mkString(",\n        ")
      val pcols = cids.map(k => s"cx$k AS pcx$k, cy$k AS pcy$k").mkString(", ")
      ctes += s"""w$i AS MATERIALIZED (SELECT
        |        $wcols
        |      FROM lg$i CROSS JOIN (SELECT $pcols FROM w${i - 1}))""".stripMargin
    }
    // final distributed pass: every point to its nearest final center
    // (lowest cid on ties — ascending CASE order), per-center support
    ctes ++= argmin("fd", "fn", "fa", s"pts CROSS JOIN w$KppLloyd",
      Seq("w"), centers("xi", "yi"), "cid")
    ctes += "fg AS (SELECT cid, CAST(sum(w) AS BIGINT) AS n_points FROM fa GROUP BY cid)"
    val centerRows = cids.map(k =>
      s"SELECT CAST($k AS INT) AS cluster_id, CAST(cx$k AS BIGINT) AS cx_c, CAST(cy$k AS BIGINT) AS cy_c FROM w$KppLloyd")
      .mkString("\n  UNION ALL ")
    ctes += s"ctr AS (${centerRows})"
    s"""WITH ${ctes.mkString(",\n")}
       |SELECT c.cluster_id, c.cx_c, c.cy_c,
       |  coalesce(f.n_points, CAST(0 AS BIGINT)) AS n_points
       |FROM ctr c LEFT JOIN fg f ON f.cid = c.cluster_id
       |ORDER BY c.cluster_id""".stripMargin
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // k-means‖ scalable seeding (KMeansParallel scaladoc: Bahmani et
    // al. 2012 — the production init the reference's bbox-uniform draw
    // stands in for): 3 fixed oversampling rounds at ℓ = 2k with
    // seeded md5-u20 thresholds, candidate weighting, top-k weighted
    // seeds + 2 exact-integer Lloyd rounds on the candidate set, then
    // one distributed assignment pass — every quantity BIGINT /
    // DECIMAL(38,0), so the gate is a hash match end to end.
    "kmeans_init_scalable" -> ((s, dir) => {
      val res = KMeansParallel.initScalable(
        Tables.points2d(s, dir).select(col("x"), col("y")),
        k = KppK, ell = KppEll, rounds = KppRounds, lloydRounds = KppLloyd)
      KMeansParallel.assignStats(s,
        Tables.points2d(s, dir).select(col("x"), col("y")), res.centers)
    }),

    // S1/P1 — scan + projection; Catalyst prunes the parquet scan to 4 cols
    "kmeans_scan_points" -> ((s, dir) =>
      Tables.points2d(s, dir).orderBy("l_orderkey", "l_linenumber", "x", "y")),

    // A4 — global bounding box (getInputRange, master.py:274-303)
    "kmeans_bbox" -> ((s, dir) =>
      Tables.points2d(s, dir).agg(
        min(col("x")).as("min_x"), max(col("x")).as("max_x"),
        min(col("y")).as("min_y"), max(col("y")).as("max_y"))),

    // J1 — nearest-centroid assignment (getCluster, mapper.py:35-51)
    "kmeans_assign" -> ((s, dir) =>
      assigned2d(s, dir, Centroids.k2d)
        .select(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"), col("cluster_id"))
        .orderBy("l_orderkey", "l_linenumber", "x", "y")),

    // A1 — per-cluster mean, map-side combined (reducer.py:30-44)
    "kmeans_recenter" -> ((s, dir) =>
      assigned2d(s, dir, Centroids.k2d)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cnt"),
          rnd(avg(col("x")), 4).as("new_x"),
          rnd(avg(col("y")), 4).as("new_y"))
        .orderBy("cluster_id")),

    // A1+A6 — one full Lloyd step: means + per-cluster SSE piggybacked on
    // the same aggregation pass (reference rescans input twice instead,
    // master.py:365)
    "kmeans_step" -> ((s, dir) => stepStats(assigned2d(s, dir, Centroids.k2d))),

    // evaluation — per-cluster squared-Euclidean silhouette of the
    // shipped literal-centroid assignment, exact-integer end-to-end
    // (design + determinism contract in operators.Silhouette; K-row
    // stats collect is the accepted centroid pattern)
    "kmeans_silhouette" -> ((s, dir) => {
      val ints = Silhouette.integerized(assigned2d(s, dir, Centroids.k2d))
      Silhouette.report(ints, Silhouette.stats(ints))
    }),

    // hierarchical — divisive bisecting k-means, 3 pinned splits on the
    // integer lattice (schedule, determinism contract, and the unrolled
    // oracle twin all in operators.BisectingKMeans)
    "kmeans_bisect" -> ((s, dir) =>
      BisectingKMeans.report(BisectingKMeans.fit(
        BisectingKMeans.integerized(Tables.points2d(s, dir))))),

    // evaluation — Davies–Bouldin separation (squared-dispersion
    // variant; algebra + determinism contract in
    // operators.Silhouette.daviesBouldin)
    "kmeans_davies_bouldin" -> ((s, dir) => {
      val ints = Silhouette.integerized(assigned2d(s, dir, Centroids.k2d))
      Silhouette.daviesBouldin(s, Silhouette.stats(ints))
    }),

    // A6 — global objective f() (master.py:315-332)
    "kmeans_sse" -> ((s, dir) =>
      assigned2d(s, dir, Centroids.k2d)
        .agg(count(lit(1)).as("n_points"),
          rnd(sum(col("d2")) / lit(1e9), 2).as("sse_e9"))),

    // A5+J2+P3 — empty-cluster repair, KeepOld policy
    // (sequential-kmeans.py:46-49; id-aligned merge master.py:242-244)
    "kmeans_repair_keepold" -> ((s, dir) => {
      val cs = Centroids.k2dWithEmpty
      val means = assigned2d(s, dir, cs)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cnt"),
          rnd(avg(col("x")), 4).as("mx"),
          rnd(avg(col("y")), 4).as("my"))
      val cdf = Centroids.toDF(s, cs)
      cdf.join(means, cdf("cid") === means("cluster_id"), "left")
        .select(col("cid").as("cluster_id"),
          coalesce(col("cnt"), lit(0L)).as("cnt"),
          coalesce(col("mx"), col("cx")).as("new_x"),
          coalesce(col("my"), col("cy")).as("new_y"))
        .orderBy("cluster_id")
    }),

    // A5 — Rerandomize repair policy (master.py:265-271) under the hash
    // gate: k2dWithEmpty guarantees EXACTLY ONE empty cluster (cid 8 sits
    // at 1e9, outside any data box at any SF), so the seeded draw
    // sequence is two nextDouble() calls whose values are inlined as
    // literals into the oracle; the bounding box is exact min/max —
    // order-independent, so bit-identical cross-engine.
    "kmeans_repair_rerandomize" -> ((s, dir) => {
      import s.implicits._
      val cs = Centroids.k2dWithEmpty
      val assigned = Assign.withNearest(
        Tables.points2d(s, dir).select(col("x"), col("y")), cs)
      val repaired = Recenter.recenter(assigned, cs,
        Recenter.RepairPolicy.Rerandomize(seed = RerandSeed))
      repaired.toDF()
        .select(col("cid").as("cluster_id"),
          rnd(col("cx"), 4).as("new_x"), rnd(col("cy"), 4).as("new_y"))
        .orderBy("cluster_id")
    }),

    // 1-D variant (sequential-kmeans.py oracle shape, correct argmin —
    // SURVEY §3.2 documented divergence)
    "kmeans_1d" -> ((s, dir) => {
      val cs = Centroids.k1d
      Assign.withNearest1(Tables.points1d(s, dir), col("x"), cs)
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cnt"), rnd(avg(col("x")), 4).as("new_x"))
        .orderBy("cluster_id")
    }),

    // §3.1 — the reference's ONLY real query, oracle-pinned: 2 full Lloyd
    // iterations unrolled from the seeded literals, then the step stats
    // (counts, means, SSE) of the resulting model.
    "kmeans_fit_unrolled" -> ((s, dir) => {
      val cs = unrolledCentroids(s, dir, iters = 2)
      stepStats(Assign.withNearest(Tables.points2d(s, dir).select(col("x"), col("y")), cs))
    }),

    // §3.1 extended to the ND path: 3 unrolled Lloyd iterations on the
    // 64-dim embeddings from seeded literals (K=4), then the step stats
    // of the resulting model — the hash-checked twin of the
    // free-convergence kmeans_fit_nd.
    "kmeans_fit_nd_unrolled" -> ((s, dir) => {
      val cs = unrolledCentroidsND(s, dir)
      Assign.withNearestND(ndPoints(s, dir), col("v"), cs,
          "cluster_id", d2Col = Some("dmin"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("cnt"),
          rnd(avg(col("v")(0)), 4).as("new_c0"),
          rnd(avg(col("v")(1)), 4).as("new_c1"),
          rnd(sum(col("dmin")) / lit(1e3), 2).as("sse_e3"))
        .orderBy("cluster_id")
    }),

    // Full iterative fit — not SQL-expressible (driver loop above
    // Catalyst, SURVEY §7.5); rows-only check here, cross-checked against
    // MLlib in ScalaTest.
    "kmeans_fit" -> ((s, dir) => {
      import s.implicits._
      val res = KMeansLoop.fit(s, Tables.points2d(s, dir), Centroids.k2d,
        maxIter = 10, delta = 0.5)
      res.centroids.map(c => (c.cid, c.cx, c.cy, res.iterations, res.converged))
        .toDF("cluster_id", "cx", "cy", "iterations", "converged")
        .orderBy("cluster_id")
    }),

    // n-dim fit on 64-dim embeddings (LloydKernel, SURVEY §2.9)
    "kmeans_fit_nd" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.VecFunctions.toDoubleArray
      val pts = Tables.embeddings(s, dir)
        .select(col("vec_id"), toDoubleArray(col("embedding")).as("vec"))
      val init = Centroids.randomInitND(10, 64, seed = 42L, -0.5, 0.5)
      val res = KMeansND.fit(s, pts, init, maxIter = 5)
      res.centroids.map(c => (c.cid, c.vec(0), c.vec(1), res.sse))
        .toDF("cluster_id", "c0", "c1", "sse").orderBy("cluster_id")
    }),

    // MLlib flagship (SURVEY §7.2.6) — rows-only check
    "kmeans_mllib" -> ((s, dir) =>
      MLlibFlagship.run(s, dir).select(col("cluster_id"), col("size"))
        .orderBy("cluster_id")))

  val oracleSql: Map[String, String] = Map(
    "kmeans_init_scalable" -> kmeansParallelOracleSql,

    "kmeans_scan_points" ->
      """SELECT l_orderkey, l_linenumber, l_extendedprice AS x, l_quantity AS y
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, x, y""".stripMargin,

    "kmeans_bbox" ->
      """SELECT min(l_extendedprice) AS min_x, max(l_extendedprice) AS max_x,
        |       min(l_quantity) AS min_y, max(l_quantity) AS max_y
        |FROM lineitem""".stripMargin,

    "kmeans_assign" ->
      s"""${lloydCtes2d(Centroids.k2d)}
         |SELECT l_orderkey, l_linenumber, x, y, cluster_id FROM a
         |ORDER BY l_orderkey, l_linenumber, x, y""".stripMargin,

    "kmeans_recenter" ->
      s"""${lloydCtes2d(Centroids.k2d)}
         |SELECT cluster_id, count(*) AS cnt,
         |       ${rndSql("avg(x)", 4)} AS new_x,
         |       ${rndSql("avg(y)", 4)} AS new_y
         |FROM a GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // silhouette twin: the stats the Spark side collects as K literal
    // rows are recomputed relationally (st), joined back per point; the
    // per-point float ratio is the identical IEEE sequence, floored to
    // micros BEFORE the exact integer mean (operators.Silhouette
    // contract). Point identity for the own↔other join is the 4-tuple
    // (l_orderkey, l_linenumber, x, y) — unique in the fixtures
    // (probed at both gate scales). i and st are MATERIALIZED: DuckDB
    // re-executes plain CTEs per reference.
    "kmeans_silhouette" ->
      s"""${lloydCtes2d(Centroids.k2d)},
         |i AS MATERIALIZED (SELECT l_orderkey, l_linenumber, x, y, cluster_id,
         |    CAST(floor(x + 0.5) AS BIGINT) AS xi,
         |    CAST(floor(y + 0.5) AS BIGINT) AS yi,
         |    CAST(floor(x + 0.5) AS BIGINT) * CAST(floor(x + 0.5) AS BIGINT)
         |      + CAST(floor(y + 0.5) AS BIGINT) * CAST(floor(y + 0.5) AS BIGINT) AS q
         |  FROM a),
         |st AS MATERIALIZED (SELECT cluster_id, count(*) AS n,
         |    CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
         |    CAST(sum(q) AS BIGINT) AS sq
         |  FROM i GROUP BY cluster_id),
         |own AS (SELECT i.l_orderkey, i.l_linenumber, i.x, i.y,
         |    i.cluster_id, st.n AS nc,
         |    CASE WHEN st.n > 1 THEN
         |      CAST(st.n * i.q - 2 * (i.xi * st.sx + i.yi * st.sy) + st.sq AS DOUBLE)
         |        / CAST(st.n - 1 AS DOUBLE)
         |      ELSE CAST(0 AS DOUBLE) END AS av
         |  FROM i JOIN st ON i.cluster_id = st.cluster_id),
         |oth AS (SELECT i.l_orderkey, i.l_linenumber, i.x, i.y,
         |    min(CAST(st.n * i.q - 2 * (i.xi * st.sx + i.yi * st.sy) + st.sq AS DOUBLE)
         |      / CAST(st.n AS DOUBLE)) AS bv
         |  FROM i JOIN st ON i.cluster_id <> st.cluster_id
         |  GROUP BY 1, 2, 3, 4),
         |sil AS (SELECT own.cluster_id,
         |    CAST(floor(CASE WHEN nc <= 1 OR greatest(av, bv) = 0 THEN 0
         |      ELSE (bv - av) / greatest(av, bv) END * 1000000.0 + 0.5) AS BIGINT) AS su
         |  FROM own JOIN oth ON own.l_orderkey = oth.l_orderkey
         |    AND own.l_linenumber = oth.l_linenumber
         |    AND own.x = oth.x AND own.y = oth.y)
         |SELECT cluster_id, count(*) AS n,
         |  CAST(sum(su) // count(*) AS BIGINT) AS s_mean_u
         |FROM sil GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    // Davies–Bouldin twin: the K-row stats recomputed relationally, the
    // per-pair ratio via a K×K self cross join with the coincident-
    // centroid pairs FILTERed out of the max — the identical float
    // sequence as the Spark side's literal-stats greatest() arms
    "kmeans_davies_bouldin" ->
      s"""${lloydCtes2d(Centroids.k2d)},
         |i AS MATERIALIZED (SELECT cluster_id,
         |    CAST(floor(x + 0.5) AS BIGINT) AS xi,
         |    CAST(floor(y + 0.5) AS BIGINT) AS yi,
         |    CAST(floor(x + 0.5) AS BIGINT) * CAST(floor(x + 0.5) AS BIGINT)
         |      + CAST(floor(y + 0.5) AS BIGINT) * CAST(floor(y + 0.5) AS BIGINT) AS q
         |  FROM a),
         |st AS MATERIALIZED (SELECT cluster_id, count(*) AS n,
         |    CAST(sum(xi) AS BIGINT) AS sx, CAST(sum(yi) AS BIGINT) AS sy,
         |    CAST(sum(q) AS BIGINT) AS sq
         |  FROM i GROUP BY cluster_id),
         |sm AS MATERIALIZED (SELECT cluster_id, n, sx // n AS mx, sy // n AS my,
         |    sq - 2 * ((sx // n) * sx + (sy // n) * sy)
         |      + n * ((sx // n) * (sx // n) + (sy // n) * (sy // n)) AS sse
         |  FROM st),
         |pr AS (SELECT a.cluster_id, a.n,
         |    max((CAST(a.sse AS DOUBLE) / CAST(a.n AS DOUBLE)
         |        + CAST(b.sse AS DOUBLE) / CAST(b.n AS DOUBLE))
         |      / CAST((a.mx - b.mx) * (a.mx - b.mx)
         |          + (a.my - b.my) * (a.my - b.my) AS DOUBLE))
         |      FILTER (WHERE b.cluster_id <> a.cluster_id
         |        AND (a.mx - b.mx) * (a.mx - b.mx)
         |          + (a.my - b.my) * (a.my - b.my) > 0) AS rm
         |  FROM sm a CROSS JOIN sm b GROUP BY 1, 2)
         |SELECT cluster_id, n,
         |  CAST(floor(coalesce(rm, 0) * 1000000.0 + 0.5) AS BIGINT) AS db_max_u
         |FROM pr ORDER BY cluster_id""".stripMargin,

    // bisecting twin: the full pinned schedule (stats → pick → seeds →
    // 2 Lloyd rounds → relabel, × 3 splits) unrolled by the operator's
    // own generator — one source of truth for the step algebra
    "kmeans_bisect" -> BisectingKMeans.oracleSqlFor(
      s"""lab0 AS MATERIALIZED (SELECT
         |  CAST(floor(x + 0.5) AS BIGINT) AS xi,
         |  CAST(floor(y + 0.5) AS BIGINT) AS yi,
         |  CAST(floor(x + 0.5) AS BIGINT) * ${BisectingKMeans.PackBase}
         |    + CAST(floor(y + 0.5) AS BIGINT) AS pack,
         |  0 AS cluster
         |  FROM (SELECT l_extendedprice AS x, l_quantity AS y FROM lineitem))""".stripMargin),

    "kmeans_step" -> s"${lloydCtes2d(Centroids.k2d)}\n$stepStatsSql",

    "kmeans_sse" ->
      s"""${lloydCtes2d(Centroids.k2d)}
         |SELECT count(*) AS n_points, ${rndSql("sum(dmin) / 1e9", 2)} AS sse_e9
         |FROM a""".stripMargin,

    "kmeans_repair_keepold" ->
      s"""${lloydCtes2d(Centroids.k2dWithEmpty)},
         |c AS (SELECT * FROM ${Centroids.sql2d(Centroids.k2dWithEmpty)}),
         |g AS (SELECT cluster_id, count(*) AS cnt,
         |        ${rndSql("avg(x)", 4)} AS mx, ${rndSql("avg(y)", 4)} AS my
         |      FROM a GROUP BY cluster_id)
         |SELECT c.cid AS cluster_id, coalesce(g.cnt, 0) AS cnt,
         |       coalesce(g.mx, c.cx) AS new_x, coalesce(g.my, c.cy) AS new_y
         |FROM c LEFT JOIN g ON g.cluster_id = c.cid ORDER BY cluster_id""".stripMargin,

    "kmeans_fit_unrolled" ->
      s"""${lloydCtes("SELECT l_extendedprice AS x, l_quantity AS y FROM lineitem",
           Seq("x", "y"), Seq("x", "y"), Centroids.k2d.map(c => c.cid -> Array(c.cx, c.cy)), iters = 2)}
         |$stepStatsSql""".stripMargin,

    "kmeans_fit_nd_unrolled" ->
      s"""${lloydCtes("SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings",
           Seq("v"), (1 to NdDim).map(j => s"v[$j]"), ndInit.map(c => c.cid -> c.vec), NdIters)}
         |SELECT cluster_id, count(*) AS cnt,
         |       ${rndSql("avg(v[1])", 4)} AS new_c0,
         |       ${rndSql("avg(v[2])", 4)} AS new_c1,
         |       ${rndSql("sum(dmin) / 1e3", 2)} AS sse_e3
         |FROM a GROUP BY cluster_id ORDER BY cluster_id""".stripMargin,

    "kmeans_repair_rerandomize" -> {
      val r = new java.util.Random(RerandSeed)
      val u1 = Centroids.sqlDouble(r.nextDouble())
      val u2 = Centroids.sqlDouble(r.nextDouble())
      s"""${lloydCtes2d(Centroids.k2dWithEmpty)},
         |bb AS (SELECT min(x) AS xlo, max(x) AS xhi, min(y) AS ylo, max(y) AS yhi FROM p),
         |c AS (SELECT * FROM ${Centroids.sql2d(Centroids.k2dWithEmpty)}),
         |g AS (SELECT cluster_id, avg(x) AS mx, avg(y) AS my FROM a GROUP BY cluster_id)
         |SELECT c.cid AS cluster_id,
         |       ${rndSql("coalesce(g.mx, bb.xlo + " + u1 + " * (bb.xhi - bb.xlo))", 4)} AS new_x,
         |       ${rndSql("coalesce(g.my, bb.ylo + " + u2 + " * (bb.yhi - bb.ylo))", 4)} AS new_y
         |FROM c CROSS JOIN bb LEFT JOIN g ON g.cluster_id = c.cid
         |ORDER BY cluster_id""".stripMargin
    },

    "kmeans_1d" ->
      s"""${lloydCtes("SELECT l_quantity AS x FROM lineitem", Seq("x"), Seq("x"),
           Centroids.k1d.map(c => c.cid -> Array(c.c)), iters = 0)}
         |SELECT cluster_id, count(*) AS cnt, ${rndSql("avg(x)", 4)} AS new_x
         |FROM a GROUP BY cluster_id ORDER BY cluster_id""".stripMargin)
}
