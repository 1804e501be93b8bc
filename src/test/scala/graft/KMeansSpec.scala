package graft

import org.apache.spark.sql.functions._
import graft.operators._

/** Unit + property coverage for the k-means operator family
  * (SURVEY §5.2-5.4).
  */
class KMeansSpec extends SparkSpec {
  import Recenter.RepairPolicy

  test("distance kernels: 1-D, 2-D, n-dim agree with plain Scala") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(50)((rnd.nextDouble() * 100, rnd.nextDouble() * 100,
      Array.fill(16)(rnd.nextDouble())))
    val df = rows.toDF("x", "y", "v")
    val c = Array.fill(16)(0.25)
    val got = df.select(
      graft.functions.VecFunctions.distSq2(col("x"), col("y"), lit(3.0), lit(4.0)),
      graft.functions.VecFunctions.distSq1(col("x"), lit(5.0)),
      graft.functions.VecFunctions.distSqN(col("v"), array(c.toSeq.map(lit(_)): _*)))
      .collect()
    rows.zip(got).foreach { case ((x, y, v), r) =>
      val d2 = (x - 3.0) * (x - 3.0) + (y - 4.0) * (y - 4.0)
      val d1 = (x - 5.0) * (x - 5.0)
      val dn = v.zip(c).map { case (a, b) => (a - b) * (a - b) }.foldLeft(0.0)(_ + _)
      assert(math.abs(r.getDouble(0) - d2) < 1e-12)
      assert(math.abs(r.getDouble(1) - d1) < 1e-12)
      assert(math.abs(r.getDouble(2) - dn) < 1e-12)
    }
  }

  test("argmin ties break toward the lowest cid (mapper.py:43 strict <)") {
    import spark.implicits._
    // point exactly equidistant to centroids 1 and 2 (FIXTURES.md
    // points_tie case)
    val cs = Seq(Centroid2D(0, 0.0, 0.0), Centroid2D(1, 10.0, 0.0), Centroid2D(2, 20.0, 0.0))
    val df = Seq((15.0, 0.0)).toDF("x", "y")
    val cid = Assign.withNearest(df, cs).select("cluster_id").head().getInt(0)
    assert(cid == 1)
    // 1-D tie
    val cs1 = Seq(Centroid1D(0, 5.0), Centroid1D(1, 15.0))
    val df1 = Seq(10.0).toDF("x")
    val cid1 = Assign.withNearest1(df1, col("x"), cs1).select("cluster_id").head().getInt(0)
    assert(cid1 == 0)
    // n-dim, with and without the winning distance kept
    val csN = cs.map(c => CentroidND(c.cid, Array(c.cx, c.cy)))
    val vecs = Seq(Tuple1(Array(15.0, 0.0))).toDF("v")
    val nd = Assign.withNearestND(vecs, col("v"), csN, "cell").head()
    assert(nd.getAs[Int]("cell") == 1 && nd.schema.fieldNames.toSeq == Seq("v", "cell"))
    val ndD = Assign.withNearestND(vecs, col("v"), csN, "cell", d2Col = Some("d")).head()
    assert(ndD.getAs[Int]("cell") == 1 && ndD.getAs[Double]("d") == 25.0)
    // one PQ subspace code: subspace 1 = (15, 0) ties entries 1 and 2
    val book = Seq(csN, csN)
    val pq = Similarity.withPqCodes(Seq(Tuple1(Array(0.0, 0.0, 15.0, 0.0))).toDF("v"),
      "v", book, subDim = 2, outPrefix = "code").head()
    assert(pq.getAs[Int]("code0") == 0 && pq.getAs[Int]("code1") == 1)
    // a null input matches no centroid: -1 (and a null distance)
    val nulls = Seq((Some(15.0), 0.0), (None, 0.0)).toDF("x", "y")
    assert(Assign.withNearest(nulls, cs).orderBy(col("x").asc_nulls_last)
      .select("cluster_id").collect().map(_.getInt(0)).toSeq == Seq(1, -1))
    // (one centroid: `least` is skipped)
    assert(Assign.withNearest1(nulls, col("x"), Seq(Centroid1D(0, 0.0)))
      .where(col("x").isNull).select("cluster_id").head().getInt(0) == -1)
    val nullVecs = Seq(Tuple1(Some(Array(15.0, 0.0))), Tuple1(None)).toDF("v")
    val ndNull = Assign.withNearestND(nullVecs, col("v"), csN, "cell", d2Col = Some("d"))
      .where(col("v").isNull).head()
    assert(ndNull.getAs[Int]("cell") == -1 && ndNull.isNullAt(ndNull.fieldIndex("d")))
    // an input column named like a temp column fails loudly
    Seq("_cell_d1", "_cell_min").foreach { taken =>
      val e = intercept[IllegalArgumentException](
        Assign.withNearestND(vecs.withColumn(taken, lit(0)), col("v"), csN, "cell"))
      assert(e.getMessage.contains("temp column collision"), e.getMessage)
    }
    intercept[IllegalArgumentException](Assign.withNearest(df.withColumn("d2", lit(0.0)), cs))
  }

  test("one argmin rule: no CASE chain or literal-centroid distance outside Assign.scala") {
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val literalDist = """distSqFast\([^\n]*,\s*array\(""".r
    val hits: Seq[Path] = scala.util.Using.resource(Files.walk(Paths.get("src/main/scala")))(
      _.iterator.asScala.filter { p =>
        p.toString.endsWith(".scala") && p.getFileName.toString != "Assign.scala" && {
          val src = Files.readString(p)
          src.contains("foldRight(lit(-1)") || literalDist.findFirstIn(src).nonEmpty
        }
      }.toList)
    assert(hits.isEmpty, s"argmin copies outside Assign.scala: ${hits.mkString(", ")}")
  }

  test("one SQL argmin: no least()-as-dmin or CASE chain outside KMeansQueries.argmin") {
    import java.nio.file.{Files, Paths}
    val src = Files.readString(Paths.get("src/main/scala/graft/queries/KMeansQueries.scala"))
    val start = src.indexOf("  private def argmin(")
    val rest = if (start < 0) src else src.take(start) + src.drop(src.indexOf("\n  }\n", start))
    val leastAsDmin = """least\(.*\) AS dmin""".r
    val hits = rest.linesIterator
      .filter(l => l.contains("WHEN dd") || leastAsDmin.findFirstIn(l).nonEmpty).toList
    assert(hits.isEmpty, s"argmin copies outside KMeansQueries.argmin:\n${hits.mkString("\n")}")
    assert(start >= 0, "KMeansQueries.argmin is gone")
  }

  test("expression form == relational form on fixture data (J1 cross-check)") {
    val pts = Tables.points2d(spark, sf)
    val exprForm = Assign.withNearest(pts, Centroids.k2d)
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val relForm = Assign.nearestRelational(
      pts, Centroids.toDF(spark, Centroids.k2d),
      Seq("l_orderkey", "l_linenumber", "x", "y"))
      .groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(exprForm == relForm)
  }

  test("every point is assigned to its true nearest centroid (property)") {
    val sample = Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d)
      .limit(500).collect()
    sample.foreach { r =>
      val x = r.getDouble(r.fieldIndex("x")); val y = r.getDouble(r.fieldIndex("y"))
      val best = Centroids.k2d.minBy(c => (x - c.cx) * (x - c.cx) + (y - c.cy) * (y - c.cy))
      assert(r.getInt(r.fieldIndex("cluster_id")) == best.cid)
    }
  }

  test("recenter means are the arithmetic mean of members (property)") {
    val assigned = Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d)
    val means = Recenter.means(assigned).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    val manual = assigned.collect().groupBy(_.getInt(4)) // cluster_id idx 4
    manual.foreach { case (cid, rows) =>
      val (n, mx, my) = means(cid)
      assert(n == rows.length)
      val ex = rows.map(_.getDouble(2)).sum / rows.length
      val ey = rows.map(_.getDouble(3)).sum / rows.length
      assert(math.abs(mx - ex) < 1e-6 && math.abs(my - ey) < 1e-6)
    }
  }

  test("empty-cluster repair: KeepOld keeps, Rerandomize stays in bbox") {
    val cs = Centroids.k2dWithEmpty
    val assigned = Assign.withNearest(Tables.points2d(spark, sf), cs)
    val kept = Recenter.recenter(assigned, cs, RepairPolicy.KeepOld)
    assert(kept.find(_.cid == 8).get == Centroid2D(8, 1.0e9, 1.0e9))
    val rer = Recenter.recenter(assigned, cs, RepairPolicy.Rerandomize(1L))
    val c8 = rer.find(_.cid == 8).get
    assert(c8.cx >= 914.0 && c8.cx <= 105000.0 && c8.cy >= 1.0 && c8.cy <= 50.0)
    // non-empty clusters unaffected by policy choice
    assert(kept.filter(_.cid != 8) == rer.filter(_.cid != 8))
  }

  test("SSE is monotone non-increasing across Lloyd iterations (KeepOld)") {
    val res = KMeansLoop.fit(spark, Tables.points2d(spark, sf),
      Centroids.k2d, maxIter = 8, delta = 0.0) // delta 0: never early-stop
    res.sseHistory.sliding(2).foreach {
      case Seq(a, b) => assert(b <= a + 1e-6, s"SSE increased: $a -> $b")
      case _ =>
    }
  }

  test("fit converges with delta=0.5 like master.py:365") {
    val res = KMeansLoop.fit(spark, Tables.points2d(spark, sf),
      Centroids.k2d, maxIter = 50, delta = 0.5)
    assert(res.converged && res.iterations < 50)
  }

  test("stop rule: |ΔSSE| < delta after the first pass, in both fits, bit-identical") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val raw = Seq.tabulate(400) { i =>
      val (bx, by) = Seq((10.0, 10.0), (60.0, 15.0), (30.0, 70.0), (80.0, 80.0))(i % 4)
      (bx + rnd.nextGaussian() * 12, by + rnd.nextGaussian() * 12)
    }
    // one partition: the kernel's partial sums are the replay's sums
    val pts = spark.sparkContext.parallelize(raw, 1).toDF("x", "y")
    val vecs = pts.select(array(col("x"), col("y")).as("vec"))
    val init = Seq(Centroid2D(0, 0.0, 0.0), Centroid2D(1, 5.0, 0.0),
      Centroid2D(2, 0.0, 5.0), Centroid2D(3, 5.0, 5.0))
    val maxIter = 30
    // plain-Scala Lloyd replay (strict-< argmin, KeepOld): SSE per pass
    val sses = {
      var cs = init.map(c => (c.cx, c.cy))
      (0 until maxIter).map { _ =>
        val acc = Array.fill(cs.length)(Array(0.0, 0.0, 0.0, 0.0)) // n, sx, sy, sse
        raw.foreach { case (x, y) =>
          val d = cs.map { case (cx, cy) => 0.0 + (x - cx) * (x - cx) + (y - cy) * (y - cy) }
          val j = d.indices.foldLeft(0)((b, i) => if (d(i) < d(b)) i else b)
          acc(j)(0) += 1.0; acc(j)(1) += x; acc(j)(2) += y; acc(j)(3) += d(j)
        }
        cs = cs.indices.map(j =>
          if (acc(j)(0) > 0) (acc(j)(1) / acc(j)(0), acc(j)(2) / acc(j)(0)) else cs(j))
        acc.filter(_(0) > 0).foldLeft(0.0)(_ + _(3))
      }
    }
    // ds(i) = |ΔSSE| at pass i + 1 (1-based), for passes 2 .. maxIter
    val ds = sses.sliding(2).map { case Seq(a, b) => math.abs(a - b) }.toIndexedSeq
    def stopAt(delta: Double) = ds.indexWhere(_ < delta) match {
      case -1 => (maxIter, false)
      case i => (i + 2, true)
    }
    // the first pass ≥ 3 whose |ΔSSE| is below every earlier one
    val t = (1 until ds.length).find(i => ds(i) < ds.take(i).min).get
    def fits(delta: Double, n: Int = maxIter) = {
      val a = KMeansLoop.fit(spark, pts, init, maxIter = n, delta = delta)
      val b = KMeansND.fit(spark, vecs,
        init.map(c => CentroidND(c.cid, Array(c.cx, c.cy))), maxIter = n, delta = delta)
      assert(a.iterations == b.iterations && a.converged == b.converged)
      assert(a.sse.equals(b.sse), s"sse ${a.sse} vs ${b.sse}")
      assert(a.centroids.map(c => (c.cid, c.cx, c.cy)) ==
        b.centroids.map(c => (c.cid, c.vec(0), c.vec(1))))
      a
    }
    val full = fits(0.0)
    assert(full.sseHistory == sses && !full.converged && full.iterations == maxIter)
    // a delta between two known |ΔSSE| values stops at exactly pass t + 2
    val between = fits((ds(t) + ds.take(t).min) / 2)
    assert((between.iterations, between.converged) == (t + 2, true))
    assert(between.sse == sses(t + 1) && between.sseHistory == sses.take(t + 2))
    // |ΔSSE| equal to delta does not stop: the comparison is strict
    val equal = fits(ds(t))
    assert((equal.iterations, equal.converged) == stopAt(ds(t)) && equal.iterations != t + 2)
    // the first pass has no previous SSE: even an infinite delta runs two
    val inf = fits(Double.PositiveInfinity)
    assert((inf.iterations, inf.converged) == (2, true))
    // no pass: 0 iterations, NaN sse, the init centroids
    val none = fits(0.5, n = 0)
    assert(none.iterations == 0 && none.sse.isNaN && !none.converged && none.centroids == init)
  }

  test("result invariant under row order (property: repartition+shuffle)") {
    val pts = Tables.points2d(spark, sf)
    val shuffled = pts.repartition(7, col("y"))
    val a = Assign.withNearest(pts, Centroids.k2d)
      .groupBy("cluster_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    val b = Assign.withNearest(shuffled, Centroids.k2d)
      .groupBy("cluster_id").count().collect()
      .map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(a == b)
  }

  test("Lloyd kernel == expression form: tie point, empty cluster, 2-D and n-dim") {
    import spark.implicits._
    import org.apache.spark.sql.{DataFrame, Row}
    val cs = Centroids.k2dWithEmpty // cid 8 lies outside the data: empty
    // (15000, 27.5) is exactly equidistant from cids 0 and 5 and nearer
    // to them than to any other centroid: the lowest cid must win
    val tie = (15000.0, 27.5)
    val tieD = cs.map(c => (tie._1 - c.cx) * (tie._1 - c.cx) + (tie._2 - c.cy) * (tie._2 - c.cy))
    assert(tieD(0) == tieD(5) && tieD.count(_ == tieD.min) == 2)
    val pts = Tables.points2d(spark, sf).select(col("x"), col("y"))
      .union(Seq(tie).toDF("x", "y"))
    val centers = cs.map(c => c.cid -> Array(c.cx, c.cy))
    def kernel(vecs: DataFrame, centers: Seq[(Int, Array[Double])]) =
      LloydKernel.pack(vecs, col("vec"), centers.head._2.length)(LloydKernel.step(_, centers))
    def close(a: Double, b: Double) = math.abs(a - b) <= 1e-9 * math.max(1.0, math.abs(b))
    // want rows: (cluster_id, cnt, mean_0 .. mean_{dim-1}, sse)
    def check(got: LloydKernel.Step, want: Array[Row], dim: Int): Unit = {
      assert(got.clusters.keySet == want.map(_.getInt(0)).toSet)
      want.foreach { r =>
        val c = got.clusters(r.getInt(0))
        assert(c.count == r.getLong(1), s"cluster ${r.getInt(0)} count")
        (0 until dim).foreach(i => assert(close(c.mean(i), r.getDouble(2 + i)),
          s"cluster ${r.getInt(0)} mean $i: ${c.mean(i)} vs ${r.getDouble(2 + i)}"))
        assert(close(c.sse, r.getDouble(2 + dim)), s"cluster ${r.getInt(0)} sse")
      }
      assert(close(got.sse, want.map(_.getDouble(2 + dim)).sum))
    }
    assert(kernel(Seq(tie).toDF("x", "y").select(array(col("x"), col("y")).as("vec")), centers)
      .clusters.keySet == Set(0))

    // 2-D: Assign.withNearest + groupBy
    val vec2 = pts.select(array(col("x"), col("y")).as("vec"))
    val got2 = kernel(vec2, centers)
    val want2 = Assign.withNearest(pts, cs).groupBy(col("cluster_id"))
      .agg(count(lit(1)), avg(col("x")), avg(col("y")), sum(col("d2"))).collect()
    assert(!got2.clusters.contains(8))
    check(got2, want2, dim = 2)
    // and one fit iteration moves each centroid to that pass's mean,
    // keeping the empty cid
    val fit1 = KMeansLoop.fit(spark, pts, cs, maxIter = 1, delta = 0.0)
    assert(fit1.centroids.find(_.cid == 8).get == cs.last)
    fit1.centroids.filter(_.cid != 8).foreach { c =>
      val m = got2.clusters(c.cid).mean
      assert(close(c.cx, m(0)) && close(c.cy, m(1)))
    }

    // n-dim: Assign.withNearestND + groupBy, on the same 2-dim points
    // (tie + empty cluster) and on the 64-dim embeddings
    def wantND(vecs: DataFrame, ccs: Seq[CentroidND], dim: Int) =
      Assign.withNearestND(vecs, col("vec"), ccs, "cluster_id", Some("d2"))
        .groupBy(col("cluster_id"))
        .agg(count(lit(1)), (0 until dim).map(i => avg(col("vec")(i))) :+ sum(col("d2")): _*)
        .collect()
    check(kernel(vec2, centers), wantND(vec2, cs.map(c => CentroidND(c.cid, Array(c.cx, c.cy))), 2), 2)
    val emb = Tables.embeddings(spark, sf).select(
      graft.functions.VecFunctions.toDoubleArray(col("embedding")).as("vec"))
    val init64 = Centroids.randomInitND(k = 6, dim = 64, seed = 5L, -0.5, 0.5)
    check(kernel(emb, init64.map(c => c.cid -> c.vec)), wantND(emb, init64, 64), 64)
  }

  test("MLlib flagship runs and improves on random-init SSE (sanity)") {
    val df = operators.MLlibFlagship.run(spark, sf)
    assert(df.count() == 10)
  }

  test("SparkEntry.entry smoke: rows > 0 (the driver's exact check)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  // ---- k-means‖ scalable seeding (KMeansParallel) ----

  /** Driver replay of the u20 sampling hash (QueryHelpers.hashBucket
    * widened to 20 bits) — keep in exact sync with KMeansParallel.u20.
    */
  private def u20(xi: Long, yi: Long, r: Int): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(s"$xi:$yi:$r".getBytes("UTF-8"))
    java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) %
      1048576L
  }

  test("k-means|| oversampling: exact driver replay of rounds, phi, weights, centers") {
    val raw = Tables.points2d(spark, sf).select("x", "y").collect()
      .map(r => (math.floor(r.getDouble(0) * 100 + 0.5).toLong,
        math.floor(r.getDouble(1) * 100 + 0.5).toLong))
    val pts = raw.groupBy(identity).map { case (p, os) => (p._1, p._2, os.length.toLong) }.toSeq
    def d2(p: (Long, Long), c: (Long, Long)): Long =
      (p._1 - c._1) * (p._1 - c._1) + (p._2 - c._2) * (p._2 - c._2)
    val c0 = pts.map(p => (p._1, p._2))
      .minBy(p => (u20(p._1, p._2, 0), p._1, p._2))
    var cands = Seq(c0)
    val phis = scala.collection.mutable.ArrayBuffer[BigInt]()
    (1 to 3).foreach { r =>
      val dm = pts.map(p => (p, cands.map(c => d2((p._1, p._2), c)).min)).toMap
      val phi = pts.map(p => BigInt(p._3) * dm(p)).sum
      phis += phi
      val sampled = pts.filter(p =>
        BigInt(u20(p._1, p._2, r)) * phi <
          BigInt(16L * p._3 * dm(p)) * 1048576L)
        .map(p => (p._1, p._2))
      cands = cands ++ sampled
    }
    val weighted = pts
      .groupBy(p => cands.minBy(c => (d2((p._1, p._2), c), c._1, c._2)))
      .map { case (c, ps) => KMeansParallel.CandW(c._1, c._2, ps.map(_._3).sum) }
      .toSet
    val got = KMeansParallel.initScalable(
      Tables.points2d(spark, sf).select(col("x"), col("y")),
      k = 8, ell = 16, rounds = 3, lloydRounds = 2)
    assert(got.phiHistory.map(_.toBigInt) == phis.toSeq,
      s"phi ladder diverged: ${got.phiHistory} vs $phis")
    assert(got.candidates.toSet == weighted,
      "weighted candidate set diverged from the driver replay")
    assert(got.centers == KMeansParallel.recluster(weighted.toSeq, 8, 2))
    // genuinely an oversample: more candidates than k, all weights > 0
    assert(weighted.size > 8 && weighted.forall(_.w > 0))
  }

  test("k-means|| init beats the uniform bbox init on post-fit SSE; centers in bbox") {
    val ptsDf = Tables.points2d(spark, sf)
    val res = KMeansParallel.initScalable(
      ptsDf.select(col("x"), col("y")),
      k = 8, ell = 16, rounds = 3, lloydRounds = 2)
    val scalable = res.centers.map { case (cid, cx, cy) =>
      Centroid2D(cid, cx / 100.0, cy / 100.0) }
    val bb = ptsDf.agg(min(col("x")), max(col("x")), min(col("y")),
      max(col("y"))).collect()(0)
    // every k-means|| center is a weighted mean of data points — inside
    // the bounding box by construction (the uniform init only samples it)
    scalable.foreach { c =>
      assert(c.cx >= bb.getDouble(0) && c.cx <= bb.getDouble(1) &&
        c.cy >= bb.getDouble(2) && c.cy <= bb.getDouble(3),
        s"center $c escapes the data bbox")
    }
    val uniform = Centroids.randomInit(8, seed = 42L, bb.getDouble(0),
      bb.getDouble(1), bb.getDouble(2), bb.getDouble(3))
    val fitS = KMeansLoop.fit(spark, ptsDf, scalable, maxIter = 10, delta = 0.0)
    val fitU = KMeansLoop.fit(spark, ptsDf, uniform, maxIter = 10, delta = 0.0)
    assert(fitS.sse <= fitU.sse,
      s"scalable-init SSE ${fitS.sse} worse than uniform-init ${fitU.sse}")
  }

  test("k-means|| init cross-checks MLlib initMode=k-means|| on fitted cost") {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector
    val ptsDf = Tables.points2d(spark, sf)
    val res = KMeansParallel.initScalable(
      ptsDf.select(col("x"), col("y")),
      k = 8, ell = 16, rounds = 3, lloydRounds = 2)
    val scalable = res.centers.map { case (cid, cx, cy) =>
      Centroid2D(cid, cx / 100.0, cy / 100.0) }
    val fitS = KMeansLoop.fit(spark, ptsDf, scalable, maxIter = 10, delta = 0.0)
    val feats = ptsDf
      .select(array_to_vector(array(col("x"), col("y"))).as("features"))
    val model = new KMeans().setK(8).setInitMode("k-means||")
      .setMaxIter(10).setSeed(42L).setTol(0.0).fit(feats)
    val mlCost = model.summary.trainingCost
    // same init family + same Lloyd refinement => same cost regime;
    // local-minimum spread on the fixture stays well inside 2x
    assert(fitS.sse <= 2.0 * mlCost && mlCost <= 2.0 * fitS.sse,
      s"cost regimes diverged: ours ${fitS.sse} vs MLlib $mlCost")
  }

  test("silhouette: aggregate-identity report equals the naive O(n²) replay") {
    val got = graft.queries.KMeansQueries.queries("kmeans_silhouette")(
      spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pts = Silhouette.integerized(
      Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d))
      .select(col("cluster_id"), col("xi"), col("yi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val byC = pts.groupBy(_._1)
    def d2(p: (Int, Long, Long), o: (Int, Long, Long)): Long = {
      val dx = p._2 - o._2; val dy = p._3 - o._3; dx * dx + dy * dy
    }
    val sus = pts.map { p =>
      val own = byC(p._1)
      val a = if (own.length <= 1) 0.0
      else own.map(d2(p, _)).sum.toDouble / (own.length - 1).toDouble
      val b = byC.view.filterKeys(_ != p._1).values
        .map(os => os.map(d2(p, _)).sum.toDouble / os.length.toDouble).min
      val s = if (own.length <= 1 || math.max(a, b) == 0.0) 0.0
      else (b - a) / math.max(a, b)
      p._1 -> math.floor(s * 1000000.0 + 0.5).toLong
    }
    sus.groupBy(_._1).foreach { case (c, g) =>
      val (n, smu) = got(c)
      assert(n == g.length.toLong, s"cluster $c count")
      assert(smu == g.map(_._2).sum / g.length, s"cluster $c mean micros")
    }
    assert(got.keySet == byC.keySet)
    // a silhouette is a silhouette: every mean in [-1e6, 1e6]
    got.values.foreach { case (_, smu) =>
      assert(smu >= -1000000L && smu <= 1000000L)
    }
  }

  test("bisecting k-means: distributed schedule equals a full driver replay") {
    import BisectingKMeans.{PackBase, Splits, LloydIters}
    val got = graft.queries.KMeansQueries.queries("kmeans_bisect")(
      spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    val pts = BisectingKMeans.integerized(Tables.points2d(spark, sf))
      .select(col("xi"), col("yi")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // full driver replay of the pinned schedule
    var lab = pts.map(p => (p._1, p._2, 0))
    def stats(g: Array[(Long, Long, Int)]) = {
      val n = g.length.toLong
      val sx = g.map(_._1).sum; val sy = g.map(_._2).sum
      val mx = sx / n; val my = sy / n
      val sse = g.map(p => (p._1 - mx) * (p._1 - mx) +
        (p._2 - my) * (p._2 - my)).sum
      (n, mx, my, sse)
    }
    (1 to Splits).foreach { s =>
      val leaves = lab.groupBy(_._3)
      val splittable = leaves.filter(_._2.map(p => (p._1, p._2)).distinct.length > 1)
      assert(splittable.nonEmpty)
      val pick = splittable.map { case (id, g) => (id, stats(g)._4) }
        .toSeq.maxBy(l => (l._2, -l._1))._1
      val members = leaves(pick)
      val packs = members.map(p => p._1 * PackBase + p._2)
      var a = (packs.min / PackBase, packs.min % PackBase)
      var b = (packs.max / PackBase, packs.max % PackBase)
      def d2(p: (Long, Long, Int), c: (Long, Long)) =
        (p._1 - c._1) * (p._1 - c._1) + (p._2 - c._2) * (p._2 - c._2)
      (1 to LloydIters).foreach { _ =>
        val (as, bs) = members.partition(p => d2(p, a) <= d2(p, b))
        if (as.nonEmpty)
          a = (as.map(_._1).sum / as.length, as.map(_._2).sum / as.length)
        if (bs.nonEmpty)
          b = (bs.map(_._1).sum / bs.length, bs.map(_._2).sum / bs.length)
      }
      val nid = 2 * s - 1
      lab = lab.map { p =>
        if (p._3 == pick) (p._1, p._2, if (d2(p, a) <= d2(p, b)) nid else nid + 1)
        else p
      }
    }
    val want = lab.groupBy(_._3).map { case (id, g) =>
      val (n, mx, my, sse) = stats(g); (id, n, mx, my, sse)
    }.toSeq.sortBy(_._1)
    assert(got.toSeq == want, s"got ${got.toSeq}\nwant $want")
    assert(got.length == Splits + 1)
    assert(got.map(_._2).sum == pts.length.toLong)
    got.foreach { case (_, _, _, _, sse) => assert(sse >= 0L) }
  }

  test("davies-bouldin: the report reuses the collected stats, no second aggregate") {
    def run() = graft.queries.KMeansQueries
      .queries("kmeans_davies_bouldin")(spark, sf).collect()
    run() // warm: one-time jobs of a first run are not counted
    val (_, jobs) = countingJobs(run())
    // a second groupBy over the points, as before, ran 6
    assert(jobs == 5, s"$jobs jobs")
  }

  test("davies-bouldin: report equals a naive driver replay; nonnegative") {
    val got = graft.queries.KMeansQueries.queries("kmeans_davies_bouldin")(
      spark, sf).collect()
      .map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    val pts = Silhouette.integerized(
      Assign.withNearest(Tables.points2d(spark, sf), Centroids.k2d))
      .select(col("cluster_id"), col("xi"), col("yi"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    val leaves = pts.groupBy(_._1).map { case (c, g) =>
      val n = g.length.toLong
      val mx = g.map(_._2).sum / n; val my = g.map(_._3).sum / n
      val sse = g.map(p => (p._2 - mx) * (p._2 - mx) +
        (p._3 - my) * (p._3 - my)).sum
      (c, n, mx, my, sse)
    }.toSeq
    leaves.foreach { case (c, n, mx, my, sse) =>
      val rs = leaves.filter(_._1 != c).flatMap { o =>
        val m2 = (mx - o._3) * (mx - o._3) + (my - o._4) * (my - o._4)
        if (m2 == 0L) None
        else Some((sse.toDouble / n.toDouble +
          o._5.toDouble / o._2.toDouble) / m2.toDouble)
      }
      val rm = if (rs.isEmpty) 0.0 else rs.max
      val (gn, gu) = got(c)
      assert(gn == n, s"cluster $c count")
      assert(gu == math.floor(rm * 1000000.0 + 0.5).toLong,
        s"cluster $c R_max micros")
      assert(gu >= 0L)
    }
    assert(got.keySet == leaves.map(_._1).toSet)
  }
}
