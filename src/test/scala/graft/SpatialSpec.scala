package graft

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.SpatialGrid

/** Grid-bucketed spatial operators (SpatialGrid).
  *
  * The load-bearing check is prune losslessness: the grid-pruned kNN
  * must EQUAL the brute-force ranking — verified here in-Spark at
  * sf0.001 (the one fixture scale the driver's oracle gate does not
  * cover; cell = 100 was sized so the 5th-NN bound holds even at this
  * sparsest scale) and by the DuckDB brute oracle at sf0.01+.
  */
class SpatialSpec extends SparkSpec {

  private val cell = 100.0
  private val k = 5
  private val nProbes = 10

  private def pts = Tables.points2d(spark, sf)

  test("grid kNN equals in-Spark brute force at the sparsest fixture scale") {
    val grid = SpatialGrid.knnGrid(pts, cell, nProbes, k)
      .select("probe_id", "rk", "n_ok", "n_ln", "d2")

    // brute force: same probe selection, full cross join, same ranking
    val ord = Seq(col("l_orderkey"), col("l_linenumber"), col("x"), col("y"))
    val probes = pts.distinct().orderBy(ord: _*).limit(nProbes)
      .select(row_number().over(Window.orderBy(ord: _*)).as("probe_id"),
        col("l_orderkey").as("pok"), col("l_linenumber").as("pln"),
        col("x").as("px"), col("y").as("py"))
    val brute = pts.crossJoin(broadcast(probes))
      .where(!(col("l_orderkey") === col("pok") &&
               col("l_linenumber") === col("pln") &&
               col("x") === col("px") && col("y") === col("py")))
      .withColumn("d2",
        (col("x") - col("px")) * (col("x") - col("px")) +
          (col("y") - col("py")) * (col("y") - col("py")))
      .withColumn("rk", row_number().over(Window.partitionBy(col("probe_id"))
        .orderBy(col("d2"), col("l_orderkey"), col("l_linenumber"),
          col("x"), col("y"))))
      .where(col("rk") <= k)
      .select(col("probe_id"), col("rk"),
        col("l_orderkey").cast("long").as("n_ok"),
        col("l_linenumber").cast("long").as("n_ln"), col("d2"))

    assert(grid.count() === nProbes.toLong * k)
    // duplicate neighbor tuples can swap ranks across engines-of-record;
    // compare as value sets (the driver's hash gate is order-normalized
    // the same way)
    assert(grid.exceptAll(brute).count() === 0)
    assert(brute.exceptAll(grid).count() === 0)
  }

  test("kth-NN distance clears the cell bound (prune-losslessness margin)") {
    val maxKth = SpatialGrid.knnGrid(pts, cell, nProbes, k)
      .agg(max(sqrt(col("d2")))).head().getDouble(0)
    assert(maxKth < cell,
      s"5th-NN $maxKth must stay under cell=$cell or the 3x3 prune can drop a true neighbor")
  }

  test("kNN plan broadcasts the probe cells and never goes cartesian") {
    val p = plan(SpatialGrid.knnGrid(pts, cell, nProbes, k))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("CartesianProduct"), "grid kNN must not cross join")
  }

  test("cell stats partition the point count exactly") {
    val stats = SpatialGrid.cellStats(pts, 25.0)
    val total = stats.agg(sum(col("n"))).head().getLong(0)
    assert(total === pts.count())
    // every point's cell is present
    val missing = pts
      .select(floor(col("x") / 25.0).cast("long").as("cx"),
        floor(col("y") / 25.0).cast("long").as("cy"))
      .distinct()
      .join(stats, Seq("cx", "cy"), "left_anti")
    assert(missing.count() === 0)
  }

  test("DBSCAN: exact naive driver replay of roles and cluster labels") {
    // naive O(n²) DBSCAN over the scaled embedding points — no grid, no
    // Spark machinery — pinning the registered query's every row
    val eps = 30000L; val minPts = 12L; val pb = graft.operators.Dbscan.PackBase
    val raw = Tables.embeddings(spark, sf)
      .select(col("embedding").getItem(0).cast("double"),
        col("embedding").getItem(1).cast("double"))
      .collect()
      .map(r => (math.floor((r.getDouble(0) + 1.0) * 1000000 + 0.5).toLong,
        math.floor((r.getDouble(1) + 1.0) * 1000000 + 0.5).toLong))
    val ptsW = raw.groupBy(identity).map { case (p, os) =>
      (p._1, p._2, os.length.toLong) }.toSeq
    def d2(a: (Long, Long), b: (Long, Long)): Long =
      (a._1 - b._1) * (a._1 - b._1) + (a._2 - b._2) * (a._2 - b._2)
    def neigh(p: (Long, Long)) =
      ptsW.filter(q => d2(p, (q._1, q._2)) <= eps * eps)
    val nbw = ptsW.map(p => (p._1, p._2) -> neigh((p._1, p._2)).map(_._3).sum).toMap
    val core = nbw.filter(_._2 >= minPts).keySet
    // components of the core graph via driver union-find-free BFS
    var lbl = core.map(c => c -> (c._1 * pb + c._2)).toMap
    var changed = true
    while (changed) {
      changed = false
      core.foreach { c =>
        val m = (Seq(lbl(c)) ++ neigh(c).map(q => (q._1, q._2))
          .filter(core.contains).map(lbl)).min
        if (m < lbl(c)) { lbl += c -> m; changed = true }
      }
    }
    val expect = ptsW.map { case (x, y, w) =>
      val p = (x, y)
      if (core(p)) (x, y, w, nbw(p), "core", lbl(p))
      else {
        val coreNb = neigh(p).map(q => (q._1, q._2)).filter(core.contains)
        if (coreNb.nonEmpty) (x, y, w, nbw(p), "border", coreNb.map(lbl).min)
        else (x, y, w, nbw(p), "noise", -1L)
      }
    }.sortBy(r => (r._1, r._2))
    val got = graft.queries.SpatialQueries.queries("spatial_dbscan")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getString(4), r.getLong(5))).toSeq
    assert(got == expect,
      s"DBSCAN replay mismatch (first got=${got.take(3)}, want=${expect.take(3)})")
    // non-vacuity: all three roles populated, more than one cluster
    val roles = got.map(_._5).toSet
    assert(roles == Set("core", "border", "noise"),
      s"degenerate fixture roles: $roles")
    assert(got.filter(_._5 == "core").map(_._6).distinct.size > 1,
      "single-cluster fixture — the CC stage is vacuous")
  }
}
