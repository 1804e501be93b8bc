package graft

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators._

/** The plan-once Lloyd kernel behind `KMeansLoop.fit` and `KMeansND.fit`:
  * one job of one stage per iteration with no shuffle, partials merged in
  * partition order, null rows skipped, and loud input checks.
  */
class LloydKernelSpec extends SparkSpec {

  /** (stage count, task count, shuffle records written) of every job
    * `body` runs, in job order.
    */
  private def jobsOf(body: => Unit): Seq[(Int, Int, Long)] = {
    val stages = new ConcurrentHashMap[Int, Int]() // job -> stage count
    val tasks = new ConcurrentHashMap[Int, Int]() // job -> tasks ended
    val records = new ConcurrentHashMap[Int, Long]() // job -> records written
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    listening(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (!isMarker(e)) {
          stages.put(e.jobId, e.stageInfos.size)
          tasks.put(e.jobId, 0)
          records.put(e.jobId, 0L)
          e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(jobOfStage.get(e.stageInfo.stageId)).foreach { j =>
          tasks.merge(j, e.stageInfo.numTasks, (a: Int, b: Int) => a + b)
          records.merge(j, e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten,
            (a: Long, b: Long) => a + b)
        }
    })(body)
    stages.keySet.asScala.toSeq.sorted.map(j => (stages.get(j), tasks.get(j), records.get(j)))
  }

  private def points2d(n: Int, parts: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    spark.sparkContext.parallelize(
      Seq.fill(n)((rnd.nextDouble() * 100, rnd.nextDouble() * 100)), parts).toDF("x", "y")
  }

  private val cs2d = Seq(Centroid2D(0, 20.0, 20.0), Centroid2D(1, 80.0, 20.0),
    Centroid2D(2, 20.0, 80.0), Centroid2D(3, 80.0, 80.0))

  test("both fits plan once: N jobs of 1 stage, 0 shuffle records") {
    import spark.implicits._
    val parts = 3
    val pts = points2d(500, parts, seed = 11L)
    val iters = 4
    // one partial a task: the driver receives `parts` records a job
    val jobs2 = jobsOf(KMeansLoop.fit(spark, pts, cs2d, maxIter = iters, delta = 0.0))
    assert(jobs2.length == iters, s"2-D fit ran ${jobs2.length} jobs")
    jobs2.foreach { case (st, ts, rec) =>
      assert(st == 1 && ts == parts && rec == 0, s"2-D job: $st stages, $ts tasks, $rec records")
    }

    val rnd = new scala.util.Random(12L)
    val vecs = spark.sparkContext.parallelize(
      Seq.fill(400)(Tuple1(Array.fill(8)(rnd.nextDouble()))), parts).toDF("vec")
    val initNd = Centroids.randomInitND(k = 5, dim = 8, seed = 3L, 0.0, 1.0)
    val jobsNd = jobsOf(KMeansND.fit(spark, vecs, initNd, maxIter = iters, delta = 0.0))
    assert(jobsNd.length == iters, s"n-dim fit ran ${jobsNd.length} jobs")
    jobsNd.foreach { case (st, ts, rec) =>
      assert(st == 1 && ts == parts && rec == 0, s"n-dim job: $st stages, $ts tasks, $rec records")
    }
  }

  /** `KMeansLoop.fit`'s centroids and SSE (KeepOld, `iters` iterations)
    * replayed sequentially: each partition's partial with the kernel's
    * arithmetic, the partials summed from 0.0 in ascending partition index.
    */
  private def replay(parts: Seq[Seq[(Double, Double)]], init: Seq[Centroid2D],
      iters: Int): (Seq[Centroid2D], Double) = {
    var cs = init.sortBy(_.cid)
    var sse = Double.NaN
    for (_ <- 0 until iters) {
      val k = cs.length
      val sums = new Array[Double](k * 4)
      parts.foreach { part =>
        val acc = new Array[Double](k * 4)
        part.foreach { case (x, y) =>
          val ds = cs.map { c => val (dx, dy) = (x - c.cx, y - c.cy); dx * dx + dy * dy }
          val best = ds.indices.reduce((a, b) => if (ds(b) < ds(a)) b else a)
          acc(best * 4) += 1.0; acc(best * 4 + 1) += x; acc(best * 4 + 2) += y
          acc(best * 4 + 3) += ds(best)
        }
        for (i <- sums.indices) sums(i) += acc(i)
      }
      val live = (0 until k).filter(j => sums(j * 4) > 0.0)
      cs = cs.indices.map(j => if (sums(j * 4) > 0.0)
        Centroid2D(cs(j).cid, sums(j * 4 + 1) / sums(j * 4), sums(j * 4 + 2) / sums(j * 4)) else cs(j))
      sse = live.foldLeft(0.0)((s, j) => s + sums(j * 4 + 3))
    }
    (cs, sse)
  }

  private def bits(cs: Seq[Centroid2D], sse: Double): Seq[Long] =
    cs.sortBy(_.cid).flatMap(c => Seq(c.cid.toLong, java.lang.Double.doubleToRawLongBits(c.cx),
      java.lang.Double.doubleToRawLongBits(c.cy))) :+ java.lang.Double.doubleToRawLongBits(sse)

  test("partials merge in partition order: fits are bit-reproducible and bit-equal a replay") {
    import spark.implicits._
    val rnd = new scala.util.Random(21L)
    // the first point of each partition goes to cid 0: at |x| = 1e20 every
    // centroid is equally far, and the lowest cid wins ties. Cluster 0's x
    // sums then cancel only in partition order: (s + 1e20) − 1e20 is 0.0,
    // while the reverse order, (−1e20 + 1e20) + s, is s
    val parts = Seq(1.0, 1.0e20, -1.0e20).map(x0 =>
      (x0, 20.0) +: Seq.fill(99)((rnd.nextDouble() * 100, rnd.nextDouble() * 100)))
    val init = cs2d :+ Centroid2D(4, 20.0, 1.0e6) // wins no point: KeepOld
    val iters = 3
    def fit(p: Seq[Seq[(Double, Double)]]) = {
      val df = spark.sparkContext.parallelize(p.flatten, p.length).toDF("x", "y")
      assert(df.rdd.glom().collect().map(_.length).toSeq == p.map(_.length))
      val r = KMeansLoop.fit(spark, df, init, maxIter = iters, delta = 0.0)
      bits(r.centroids, r.sse)
    }
    val (wantCs, wantSse) = replay(parts, init, iters)
    val first = fit(parts)
    assert(first == fit(parts), "two 3-partition fits differ")
    assert(first == bits(wantCs, wantSse), "the 3-partition fit differs from its replay")

    val one = Seq(parts.flatten)
    val (seqCs, seqSse) = replay(one, init, iters)
    assert(fit(one) == bits(seqCs, seqSse), "the 1-partition fit differs from a sequential replay")
  }

  /** [[LloydKernel.merged]]'s sums by the point-at-a-time, row-major
    * loop: each point's distance to each centroid (in cid order) from 0.0
    * in ascending coordinate, strict `<` over ascending j, each
    * partition's partial in point order, and the partials summed from 0.0
    * in ascending partition index.
    */
  private def rowMajorSums(parts: Seq[Seq[Array[Double]]], centers: Seq[Array[Double]]): Array[Double] = {
    val (k, dim) = (centers.length, centers.head.length)
    val w = dim + 2
    val sums = new Array[Double](k * w)
    parts.foreach { part =>
      val acc = new Array[Double](k * w)
      part.foreach { x =>
        var best = 0
        var bestD = 0.0
        for (j <- 0 until k) {
          var d = 0.0
          for (i <- 0 until dim) { val t = x(i) - centers(j)(i); d += t * t }
          if (j == 0 || d < bestD) { best = j; bestD = d }
        }
        val a = best * w
        acc(a) += 1.0
        for (i <- 0 until dim) acc(a + 1 + i) += x(i)
        acc(a + dim + 1) += bestD
      }
      for (i <- sums.indices) sums(i) += acc(i)
    }
    sums
  }

  test("column blocks are bit-identical to the row-major loop: block edges, ties, ±Inf, NaN, 1e20") {
    import spark.implicits._
    val rows = LloydKernel.BlockRows
    // one empty partition, and partitions that end just before, on and
    // just after a block edge
    val sizes = Seq(0, rows - 1, rows, rows + 1, 2 * rows + 3)
    // every bit of every non-NaN value; a NaN's sign and payload are not
    // the kernel's to fix (the JIT may swap the operands of a commutative
    // add, x86 keeps the first NaN operand's bits, and a partial's trip
    // through serialization writes the canonical NaN), so NaN == NaN here
    val bits = (v: Double) => java.lang.Double.doubleToLongBits(v)
    val specials = Seq(Double.PositiveInfinity, Double.NegativeInfinity, Double.NaN)
    def check(dim: Int, k: Int, withSpecials: Boolean, seed: Long): Unit = {
      val rnd = new scala.util.Random(seed)
      val what = s"dim $dim, K $k, ±Inf/NaN $withSpecials"
      // grid points and centroids tie exactly and often; the last centroid
      // duplicates the first: in both, the lowest cid must win
      def grid() = Array.fill(dim)(rnd.nextInt(5).toDouble)
      val cs = Array.fill(k)(grid())
      if (k > 1) cs(k - 1) = cs(0).clone()
      // non-contiguous cids, out of order: the step sorts them
      val centers = rnd.shuffle(cs.indices.map(j => (3 * j + 1) -> cs(j)))
      val parts = sizes.zipWithIndex.map { case (n, q) =>
        Seq.tabulate(n) { p =>
          val x = if (rnd.nextBoolean()) grid() else Array.fill(dim)(rnd.nextDouble() * 6 - 1)
          // partitions 2–4 open on a point at |x| = 1e20, equally far from
          // every centroid, so it goes to the lowest cid: that cluster's
          // coordinate-0 sums then cancel only in partition order
          if (p == 0) x(0) = Seq(1.0, 1.0e20, -1.0e20, 1.0e20, -1.0e20)(q)
          if (withSpecials && rnd.nextInt(40) == 0)
            x(rnd.nextInt(dim)) = specials(rnd.nextInt(specials.length))
          x
        }
      }
      val df = spark.sparkContext.parallelize(parts, parts.length).flatMap(_.map(Tuple1(_))).toDF("vec")
      assert(df.rdd.glom().collect().map(_.length).toSeq == sizes, what)
      val (got, step) = LloydKernel.pack(df, col("vec"), dim) { blocks =>
        (LloydKernel.merged(blocks, cs.toSeq), LloydKernel.step(blocks, centers))
      }
      val want = rowMajorSums(parts, cs.toSeq)
      val w = dim + 2
      (0 until k).foreach { j =>
        (0 until w).foreach(s => assert(bits(got(j * w + s)) == bits(want(j * w + s)),
          s"$what: centroid $j slot $s: ${got(j * w + s)} vs ${want(j * w + s)}"))
      }
      val live = (0 until k).filter(j => want(j * w) > 0.0)
      assert(step.clusters.keySet == live.map(3 * _ + 1).toSet, what)
      live.foreach { j =>
        val c = step.clusters(3 * j + 1)
        assert(c.count == want(j * w).toLong && bits(c.sse) == bits(want(j * w + dim + 1)), what)
        (0 until dim).foreach(i => assert(bits(c.mean(i)) == bits(want(j * w + 1 + i) / want(j * w)), what))
      }
      val total = live.foldLeft(0.0)((t, j) => t + want(j * w + dim + 1))
      assert(bits(step.sse) == bits(total), s"$what: total SSE ${step.sse} vs $total")
    }
    var seed = 31L
    for (dim <- Seq(1, 2, 3, 64); k <- Seq(1, 2, 16, 17); withSpecials <- Seq(false, true)) {
      check(dim, k, withSpecials, seed)
      seed += 1
    }
  }

  test("Rerandomize repair in the fit runs one bbox per fit, not one per iteration") {
    val pts = points2d(300, 2, seed = 13L)
    val withEmpty = cs2d :+ Centroid2D(4, 1.0e6, 1.0e6) // never wins a point
    def run(iters: Int) = {
      var res: KMeansLoop.FitResult = null
      val jobs = jobsOf {
        res = KMeansLoop.fit(spark, pts, withEmpty, maxIter = iters, delta = 0.0,
          policy = Recenter.RepairPolicy.Rerandomize(7L))
      }
      (jobs.length, res)
    }
    val (jobs2, _) = run(2)
    val (jobs5, res5) = run(5)
    // three more iterations cost exactly three more jobs
    assert(jobs5 - jobs2 == 3, s"$jobs2 jobs at 2 iterations, $jobs5 at 5")
    res5.centroids.foreach(c =>
      assert(c.cx >= 0.0 && c.cx <= 100.0 && c.cy >= 0.0 && c.cy <= 100.0, s"$c escapes the box"))
  }

  test("a row with a null coordinate is skipped by both fits") {
    import spark.implicits._
    val clean = Seq((10.0, 10.0), (12.0, 14.0), (90.0, 85.0), (70.0, 95.0), (15.0, 75.0))
    val withNulls = clean.map { case (x, y) => (Option(x), Option(y)) } ++
      Seq((None, Some(50.0)), (Some(50.0), None), (None, None))
    val a = KMeansLoop.fit(spark, clean.toDF("x", "y"), cs2d, maxIter = 3, delta = 0.0)
    val b = KMeansLoop.fit(spark, withNulls.toDF("x", "y"), cs2d, maxIter = 3, delta = 0.0)
    assert(a.centroids == b.centroids && a.sse == b.sse)

    val csNd = cs2d.map(c => CentroidND(c.cid, Array(c.cx, c.cy)))
    val cleanNd = clean.map { case (x, y) => Option(Seq(Option(x), Option(y))) }
    val nullsNd = cleanNd ++ Seq(None, Some(Seq(None, Some(50.0))), Some(Seq(Some(50.0), None)))
    val c = KMeansND.fit(spark, cleanNd.toDF("vec"), csNd, maxIter = 3, delta = 0.0)
    val d = KMeansND.fit(spark, nullsNd.toDF("vec"), csNd, maxIter = 3, delta = 0.0)
    assert(c.centroids.map(_.vec.toSeq) == d.centroids.map(_.vec.toSeq) && c.sse == d.sse)
    assert(c.centroids.map(c => (c.vec(0), c.vec(1))) == a.centroids.map(c => (c.cx, c.cy)))
  }

  test("KMeansND.fit rejects an empty init, unequal centroids, and mis-sized points") {
    import spark.implicits._
    val pts = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(Array(3.0, 4.0))).toDF("vec")
    val two = Seq(CentroidND(0, Array(0.0, 0.0)), CentroidND(1, Array(5.0, 5.0)))
    val empty = intercept[IllegalArgumentException](
      KMeansND.fit(spark, pts, Seq.empty, maxIter = 1))
    assert(empty.getMessage.contains("init holds no centroid"))
    val unequal = intercept[IllegalArgumentException](KMeansND.fit(spark, pts,
      Seq(CentroidND(0, Array(0.0, 0.0)), CentroidND(1, Array(5.0, 5.0, 5.0))), maxIter = 1))
    assert(unequal.getMessage.contains("init centroids differ in length (2, 3)"))
    // a shorter and a longer point vector both fail the job loudly
    Seq(Array(1.0), Array(1.0, 2.0, 3.0)).foreach { bad =>
      val df = Seq(Tuple1(Array(1.0, 2.0)), Tuple1(bad)).toDF("vec")
      val e = intercept[org.apache.spark.SparkException](
        KMeansND.fit(spark, df, two, maxIter = 1))
      assert(e.getMessage.contains(s"a point vector has ${bad.length} coordinates, the centroids have 2"),
        e.getMessage)
    }
  }
}
