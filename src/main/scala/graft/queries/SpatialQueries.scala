package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.operators.SpatialGrid

/** Oracle-checked spatial queries over the engine's 2-D point table
  * (`Tables.points2d`, the reference `points.txt` shape).
  *
  * `spatial_knn_grid` is the load-bearing gate: the Spark side prunes
  * candidates through the 3x3 grid neighborhood (SpatialGrid scaladoc)
  * while the DuckDB oracle brute-forces the full probes x points
  * distance ranking — a hash match PROVES the grid prune is lossless
  * for this data/cell choice rather than assuming it. The brute oracle
  * is O(nProbes x N) = 10 x N, linear in volume, so it stays runnable
  * at the sampled derived scale.
  */
object SpatialQueries {

  // 5th-NN max: 65.5 at sf0.001, 14.9 at sf0.01 — cell = 100 clears the
  // prune-losslessness bound (kth-NN < cell) at EVERY fixture scale, and
  // the margin only widens as density grows with volume
  private val Cell = 100.0
  // histogram granularity: y = l_quantity spans [1, 50], so a 25-wide
  // cell keeps the grid genuinely 2-D (cy in {0, 1, 2})
  private val StatsCell = 25.0
  private val NProbes = 10
  private val K = 5

  // DBSCAN parameters (Dbscan scaladoc): eps = 0.03 in embedding
  // space → 30000 micro-units; minPts = 12 weighted. Measured on the
  // gate fixtures: all three roles populated and ≥ 2 clusters at
  // sf0.001/0.01/0.1 (5/2/2 clusters), 12/24 clusters at the derived
  // scales (border empty there — every near-core point is core at 10×
  // multiplicity, the expected density limit); plain hash-min depth
  // ≤ 27 everywhere → 32 unrolled oracle rounds.
  private val DbEps = 30000L
  private val DbMinPts = 12L
  private val DbCcRounds = 32

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // grid-bucketed DBSCAN over the first two embedding dims (Dbscan
    // scaladoc: eps-grid candidate pruning + CC over the core graph;
    // weighted multiplicities, deterministic border attachment, exact
    // integer micro-unit geometry end to end)
    "spatial_dbscan" -> ((s, dir) =>
      graft.operators.Dbscan.run(Tables.embeddings(s, dir),
        eps = DbEps, minPts = DbMinPts, maxIters = DbCcRounds)),

    "spatial_knn_grid" -> ((s, dir) =>
      SpatialGrid.knnGrid(Tables.points2d(s, dir), Cell, NProbes, K)
        .orderBy("probe_id", "rk")),

    // per-cell spatial histogram; cell ids bounded by the coordinate
    // domain; exact integer sums (x in cents, y integer-valued) — the
    // rounded-double form hit a 4dp boundary at the sampled scale
    "spatial_cell_stats" -> ((s, dir) =>
      SpatialGrid.cellStats(Tables.points2d(s, dir), StatsCell)
        .select(col("cx"), col("cy"), col("n"),
          col("sx_cents"), col("sy").as("sum_y"))
        .orderBy("cx", "cy"))
  )

  /** SQL twin of Dbscan.run: the identical grid join / weighted count /
    * core test, then PLAIN unrolled hash-min rounds over the core graph
    * (valid because the CC fixpoint is schedule-free — the graph_cc
    * argument; DbCcRounds = 32 covers the measured ≤ 27 depth with
    * margin and a deeper fixture fails loudly as a hash mismatch).
    * Every multiply-referenced CTE is MATERIALIZED (DuckDB re-executes
    * otherwise — the round-7/8 lesson).
    */
  private def dbscanOracleSql: String = {
    val E = DbEps; val PB = graft.operators.Dbscan.PackBase
    val rounds = (1 to DbCcRounds).map { i =>
      s"""l$i AS MATERIALIZED (SELECT d, min(lbl) AS lbl FROM (
         |  SELECT d, lbl FROM l${i - 1}
         |  UNION ALL
         |  SELECT e.src AS d, l.lbl FROM ce e JOIN l${i - 1} l ON l.d = e.dst
         |) GROUP BY d)""".stripMargin
    }.mkString(",\n")
    val lN = s"l$DbCcRounds"
    s"""WITH pts AS MATERIALIZED (
       |  SELECT CAST(floor((CAST(embedding[1] AS DOUBLE)+1.0)*1000000 + 0.5) AS BIGINT) AS xi,
       |         CAST(floor((CAST(embedding[2] AS DOUBLE)+1.0)*1000000 + 0.5) AS BIGINT) AS yi,
       |         count(*) AS w
       |  FROM embeddings GROUP BY 1, 2
       |), gx AS (
       |  SELECT xi, yi, w, xi // $E AS cx, yi // $E AS cy FROM pts
       |), nbx AS (
       |  SELECT xi AS axi, yi AS ayi, cx + dx.d AS ncx, cy + dy.d AS ncy
       |  FROM gx, (VALUES (-1),(0),(1)) dx(d), (VALUES (-1),(0),(1)) dy(d)
       |), cp AS MATERIALIZED (
       |  SELECT axi, ayi, b.xi AS bxi, b.yi AS byi, b.w AS bw
       |  FROM nbx JOIN gx b ON nbx.ncx = b.cx AND nbx.ncy = b.cy
       |  WHERE (axi-b.xi)*(axi-b.xi) + (ayi-b.yi)*(ayi-b.yi) <= ${E * E}
       |), nbw AS MATERIALIZED (
       |  SELECT axi AS xi, ayi AS yi, CAST(sum(bw) AS BIGINT) AS nbw
       |  FROM cp GROUP BY 1, 2
       |), core AS MATERIALIZED (
       |  SELECT xi, yi FROM nbw WHERE nbw >= $DbMinPts
       |), ce AS MATERIALIZED (
       |  SELECT cp.axi*$PB + cp.ayi AS src, cp.bxi*$PB + cp.byi AS dst
       |  FROM cp JOIN core a ON cp.axi = a.xi AND cp.ayi = a.yi
       |          JOIN core b ON cp.bxi = b.xi AND cp.byi = b.yi
       |), l0 AS MATERIALIZED (
       |  SELECT DISTINCT src AS d, src AS lbl FROM ce
       |),
       |$rounds,
       |base AS MATERIALIZED (
       |  SELECT p.xi, p.yi, p.w, n.nbw FROM pts p JOIN nbw n USING (xi, yi)
       |), corel AS (
       |  SELECT b.xi, b.yi, b.w, b.nbw, 'core' AS role, l.lbl AS cluster
       |  FROM base b JOIN core c USING (xi, yi)
       |  JOIN $lN l ON l.d = b.xi*$PB + b.yi
       |), bord AS (
       |  SELECT b.xi, b.yi, b.w, b.nbw, 'border' AS role,
       |         min(l.lbl) AS cluster
       |  FROM base b
       |  JOIN cp ON cp.axi = b.xi AND cp.ayi = b.yi
       |  JOIN core cb ON cp.bxi = cb.xi AND cp.byi = cb.yi
       |  JOIN $lN l ON l.d = cp.bxi*$PB + cp.byi
       |  WHERE NOT EXISTS (SELECT 1 FROM core ca
       |                    WHERE ca.xi = b.xi AND ca.yi = b.yi)
       |  GROUP BY 1, 2, 3, 4
       |), lab AS MATERIALIZED (
       |  SELECT * FROM corel UNION ALL SELECT * FROM bord
       |), noi AS (
       |  SELECT b.xi, b.yi, b.w, b.nbw, 'noise' AS role,
       |         CAST(-1 AS BIGINT) AS cluster
       |  FROM base b
       |  WHERE NOT EXISTS (SELECT 1 FROM lab
       |                    WHERE lab.xi = b.xi AND lab.yi = b.yi)
       |)
       |SELECT xi, yi, w, nbw, role, cluster
       |FROM (SELECT * FROM lab UNION ALL SELECT * FROM noi)
       |ORDER BY xi, yi""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "spatial_dbscan" -> dbscanOracleSql,

    "spatial_knn_grid" ->
      s"""WITH pts AS (
         |  SELECT l_orderkey AS ok, l_linenumber AS ln,
         |         l_extendedprice AS x, l_quantity AS y
         |  FROM lineitem
         |), dpts AS (
         |  SELECT DISTINCT ok, ln, x, y FROM pts
         |), probes AS (
         |  SELECT CAST(row_number() OVER (ORDER BY ok, ln, x, y) AS INT)
         |           AS probe_id,
         |         ok AS pok, ln AS pln, x AS px, y AS py
         |  FROM (SELECT * FROM dpts ORDER BY ok, ln, x, y LIMIT $NProbes)
         |), cand AS (
         |  SELECT p.probe_id, p.pok, p.pln, q.ok, q.ln, q.x, q.y,
         |    (q.x - p.px) * (q.x - p.px) + (q.y - p.py) * (q.y - p.py) AS d2
         |  FROM probes p JOIN pts q
         |    ON NOT (q.ok = p.pok AND q.ln = p.pln
         |            AND q.x = p.px AND q.y = p.py)
         |), r AS (
         |  SELECT *, CAST(row_number() OVER (
         |      PARTITION BY probe_id ORDER BY d2, ok, ln, x, y) AS INT) AS rk
         |  FROM cand
         |)
         |SELECT probe_id, CAST(pok AS BIGINT) AS pok,
         |  CAST(pln AS BIGINT) AS pln, rk,
         |  CAST(ok AS BIGINT) AS n_ok, CAST(ln AS BIGINT) AS n_ln, d2
         |FROM r WHERE rk <= $K
         |ORDER BY probe_id, rk""".stripMargin,

    "spatial_cell_stats" ->
      s"""SELECT
         |  CAST(floor(l_extendedprice / $StatsCell) AS BIGINT) AS cx,
         |  CAST(floor(l_quantity / $StatsCell) AS BIGINT) AS cy,
         |  count(*) AS n,
         |  CAST(sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))
         |       AS BIGINT) AS sx_cents,
         |  CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_y
         |FROM lineitem
         |GROUP BY 1, 2
         |ORDER BY cx, cy""".stripMargin
  )
}
