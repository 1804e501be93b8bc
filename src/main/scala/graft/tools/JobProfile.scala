package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Job-level profiler for a single registered query: runs the query
  * cold + warm with a SparkListener recording every job's wall time,
  * stage/task counts, and call site, then prints the breakdown. The
  * iterative operators (SCC, MST, DBSCAN, k-means‖) spend their time in
  * dozens of sequential tiny jobs — this tool shows where the seconds
  * actually land (per-job scheduling floor vs real compute) so
  * optimization effort goes where the guide §1 says it should: at the
  * measured cost, not the assumed one.
  *
  * Usage: tools/run_main.sh graft.tools.JobProfile <query> [sfDir]
  */
object JobProfile {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: JobProfile <query> [sfDir]"))
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.1")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    final case class J(id: Int, var desc: String = "", var start: Long = 0L,
        var end: Long = 0L, var stages: Int = 0, var tasks: Int = 0)
    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
    val order = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val j = J(e.jobId)
        j.desc = Option(e.properties)
          .flatMap(p => Option(p.getProperty("callSite.short"))).getOrElse("")
        j.start = e.time
        jobs.put(e.jobId, j); order.add(e.jobId)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = {
        val j = jobs.get(e.jobId); if (j != null) j.end = e.time
      }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        // attribute the stage to the most recent unfinished job (local
        // mode runs bench jobs sequentially, so this is exact enough)
        val it = order.iterator()
        var last: J = null
        while (it.hasNext) {
          val j = jobs.get(it.next())
          if (j != null && j.end == 0L) last = j
        }
        if (last != null) {
          last.stages += 1
          last.tasks += e.stageInfo.numTasks
        }
      }
    })

    val fn = graft.SparkEntry.queries(name)
    def run(label: String): Unit = {
      jobs.clear(); order.clear()
      val t0 = System.nanoTime()
      fn(spark, sfDir).count()
      val total = (System.nanoTime() - t0) / 1e9
      Thread.sleep(300) // let listener events drain
      val js = {
        val it = order.iterator()
        val b = Seq.newBuilder[J]
        while (it.hasNext) { val j = jobs.get(it.next()); if (j != null) b += j }
        b.result()
      }
      val jobSum = js.map(j => (j.end - j.start) / 1e3).sum
      println(f"[$label] $name total=$total%.2f s, jobs=${js.size}, " +
        f"sum(job wall)=$jobSum%.2f s, gap(driver/planning)=${total - jobSum}%.2f s")
      js.foreach { j =>
        println(f"  job ${j.id}%4d ${(j.end - j.start) / 1e3}%7.3f s  " +
          f"stages=${j.stages}%3d tasks=${j.tasks}%5d  ${j.desc}")
      }
    }
    run("cold")
    run("warm")
    spark.stop()
  }
}
