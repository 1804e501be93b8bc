package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.DataFrame
import graft.operators._

/** The plan-once Lloyd kernel behind `KMeansLoop.fit` and `KMeansND.fit`:
  * one job of two stages per iteration with a K × partitions shuffle,
  * null rows skipped, and loud input checks.
  */
class LloydKernelSpec extends SparkSpec {

  /** (stage count, shuffle records written) of every job `body` runs, in
    * job order. A marker job run after `body` flushes the listener: the
    * bus delivers events in order, so once the marker has ended every
    * event of `body` has been seen.
    */
  private def jobsOf(body: => Unit): Seq[(Int, Long)] = {
    val sc = spark.sparkContext
    val stages = new ConcurrentHashMap[Int, Int]() // job -> stage count
    val records = new ConcurrentHashMap[Int, Long]() // job -> records written
    val jobOfStage = new ConcurrentHashMap[Int, Int]()
    val markerEnded = new CountDownLatch(1)
    @volatile var marker = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker = e.jobId
        else {
          stages.put(e.jobId, e.stageInfos.size)
          records.put(e.jobId, 0L)
          e.stageIds.foreach(jobOfStage.put(_, e.jobId))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        Option(jobOfStage.get(e.stageInfo.stageId)).foreach(j =>
          records.merge(j, e.stageInfo.taskMetrics.shuffleWriteMetrics.recordsWritten,
            (a: Long, b: Long) => a + b))
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerEnded.await(60, TimeUnit.SECONDS), "listener did not drain")
    } finally sc.removeSparkListener(listener)
    stages.keySet.asScala.toSeq.sorted.map(j => (stages.get(j), records.get(j)))
  }

  private def points2d(n: Int, parts: Int, seed: Long): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    spark.sparkContext.parallelize(
      Seq.fill(n)((rnd.nextDouble() * 100, rnd.nextDouble() * 100)), parts).toDF("x", "y")
  }

  private val cs2d = Seq(Centroid2D(0, 20.0, 20.0), Centroid2D(1, 80.0, 20.0),
    Centroid2D(2, 20.0, 80.0), Centroid2D(3, 80.0, 80.0))

  test("both fits plan once: N jobs of 2 stages, <= K x partitions shuffle records") {
    import spark.implicits._
    val parts = 3
    val pts = points2d(500, parts, seed = 11L)
    val iters = 4
    val jobs2 = jobsOf(KMeansLoop.fit(spark, pts, cs2d, maxIter = iters, delta = 0.0))
    assert(jobs2.length == iters, s"2-D fit ran ${jobs2.length} jobs")
    jobs2.foreach { case (st, rec) =>
      assert(st == 2 && rec > 0 && rec <= cs2d.length * parts, s"2-D job: $st stages, $rec records")
    }

    val rnd = new scala.util.Random(12L)
    val vecs = spark.sparkContext.parallelize(
      Seq.fill(400)(Tuple1(Array.fill(8)(rnd.nextDouble()))), parts).toDF("vec")
    val initNd = Centroids.randomInitND(k = 5, dim = 8, seed = 3L, 0.0, 1.0)
    val jobsNd = jobsOf(KMeansND.fit(spark, vecs, initNd, maxIter = iters, delta = 0.0))
    assert(jobsNd.length == iters, s"n-dim fit ran ${jobsNd.length} jobs")
    jobsNd.foreach { case (st, rec) =>
      assert(st == 2 && rec > 0 && rec <= initNd.length * parts, s"n-dim job: $st stages, $rec records")
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
