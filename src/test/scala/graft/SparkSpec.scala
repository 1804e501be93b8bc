package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session: one per suite (lazy), [[Session]]'s configs with a
  * fixed local[4] whatever `SPARK_GRAFT_CPUS` says.
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Session.builder()
    .master("local[4,2]") // 2 task attempts: lets FaultSpec observe a retry
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.warehouse.dir",
      java.nio.file.Files.createTempDirectory("graft-warehouse").toString)
    .getOrCreate()

  val sf = "/root/testdata/sf0.001"

  /** The formatted physical plan of a DataFrame. */
  def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  /** Runs `body` with the driver regime switched off, so every
    * two-regime operator takes its distributed loop.
    */
  def withDistributed[T](body: => T): T = {
    spark.conf.set(graft.operators.DriverRegime.Switch, "false")
    try body finally spark.conf.unset(graft.operators.DriverRegime.Switch)
  }

  /** `body`'s result and the number of Spark jobs it started. A marker
    * job run after `body` flushes the listener: the bus delivers events
    * in order, so once the marker has ended every job of `body` has
    * been seen.
    */
  def countingJobs[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    val jobs = new java.util.concurrent.atomic.AtomicInteger()
    val markerEnded = new java.util.concurrent.CountDownLatch(1)
    @volatile var marker = -1
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.job.description") == "marker"))
          marker = e.jobId
        else jobs.incrementAndGet()
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        if (e.jobId == marker) markerEnded.countDown()
    }
    sc.addSparkListener(listener)
    try {
      val out = body
      sc.setJobDescription("marker")
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      assert(markerEnded.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "listener did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(listener)
  }
}
