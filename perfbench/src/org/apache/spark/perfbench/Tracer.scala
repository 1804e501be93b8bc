package org.apache.spark.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Span recorder for the traced run.
  *
  * Spans form a tree: an `op` span per unit of work, a `call` span per
  * public call into the program, `job` and `stage` spans parented to the
  * call that submitted them (the call's span id rides on the job as a
  * Spark local property), and a `qe` span per query execution carrying
  * its Catalyst phase times. Stage spans carry the summed task counters.
  * Everything stays in memory until [[write]].
  *
  * With `enabled = false` no listener is registered and [[op]]/[[call]]
  * only run their body, so untraced runs pay nothing.
  *
  * Lives in package `org.apache.spark` only to reach
  * `LiveListenerBus.waitUntilEmpty`: [[drain]] lets every event of an op
  * arrive before the next op starts, so no event is attributed to the
  * wrong op.
  */
final class Tracer(spark: SparkSession, enabled: Boolean) {
  private val sc = spark.sparkContext
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[String]()
  @volatile private var currentOp = -1
  @volatile private var currentSpan = "none"

  // every span time is epoch milliseconds: listener events carry
  // System.currentTimeMillis, so driver-side spans are put on the same
  // clock, with nanoTime's resolution
  private val epoch0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  private def nowMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private def record(id: String, parent: String, kind: String, name: String, op: Int,
      start: Double, end: Double, attrs: Seq[(String, Double)] = Nil): Unit = {
    val extra = attrs.map { case (k, v) => s""","$k":$v""" }.mkString
    spans.add(s"""{"id":"$id","parent":"$parent","kind":"$kind","name":"$name",""" +
      s""""op":$op,"start":$start,"end":$end$extra}""")
  }

  private final class Open(val span: String, val parent: String, val op: Int, val start: Long)
  private val jobs = new ConcurrentHashMap[Int, Open]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  // per stage: tasks, run ms, cpu ns, shuffle read, shuffle write, spill bytes
  private val stageCounters = new ConcurrentHashMap[Int, Array[Double]]()

  private object Listener extends SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val p = Option(e.properties)
      val op = p.flatMap(x => Option(x.getProperty("perfbench.op"))).map(_.toInt).getOrElse(-1)
      val parent = p.flatMap(x => Option(x.getProperty("perfbench.span"))).getOrElse("none")
      jobs.put(e.jobId, new Open(s"job${e.jobId}", parent, op, e.time))
      e.stageIds.foreach(s => stageJob.putIfAbsent(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val j = jobs.remove(e.jobId)
      if (j != null) record(j.span, j.parent, "job", s"job ${e.jobId}", j.op,
        j.start.toDouble, e.time.toDouble)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) {
        val c = stageCounters.computeIfAbsent(e.stageId, _ => new Array[Double](6))
        c.synchronized {
          c(0) += 1
          c(1) += m.executorRunTime
          c(2) += m.executorCpuTime
          c(3) += m.shuffleReadMetrics.totalBytesRead
          c(4) += m.shuffleWriteMetrics.bytesWritten
          c(5) += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val si = e.stageInfo
      val job = stageJob.getOrDefault(si.stageId, -1)
      val op = Option(jobs.get(job)).map(_.op).getOrElse(currentOp)
      val c = Option(stageCounters.remove(si.stageId)).getOrElse(new Array[Double](6))
      record(s"stage${si.stageId}.${si.attemptNumber()}", s"job$job", "stage",
        s"stage ${si.stageId}", op,
        si.submissionTime.getOrElse(0L).toDouble, si.completionTime.getOrElse(0L).toDouble,
        Seq("tasks" -> c(0), "run_ms" -> c(1), "cpu_ns" -> c(2),
          "shuffle_read_bytes" -> c(3), "shuffle_write_bytes" -> c(4), "spill_bytes" -> c(5)))
    }
  }

  private object QeListener extends QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val ph = qe.tracker.phases
      def ms(p: String): Double = ph.get(p).map(_.durationMs.toDouble).getOrElse(0.0)
      val starts = ph.values.map(_.startTimeMs)
      val ends = ph.values.map(_.endTimeMs)
      record(s"qe${ids.incrementAndGet()}", s"op$currentOp", "qe", funcName, currentOp,
        if (starts.isEmpty) 0.0 else starts.min.toDouble,
        if (ends.isEmpty) 0.0 else ends.max.toDouble,
        Seq("analysis_ms" -> ms("analysis"), "optimization_ms" -> ms("optimization"),
          "planning_ms" -> ms("planning")))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      onSuccess(funcName, qe, 0L)
  }

  if (enabled) {
    sc.addSparkListener(Listener)
    spark.listenerManager.register(QeListener)
  }

  /** Runs one op under an `op` span. */
  def op[T](op: Int)(body: => T): T =
    if (!enabled) body
    else {
      currentOp = op
      currentSpan = s"op$op"
      sc.setLocalProperty("perfbench.op", op.toString)
      sc.setLocalProperty("perfbench.span", currentSpan)
      val t0 = nowMs()
      try body
      finally record(s"op$op", "none", "op", "op", op, t0, nowMs())
    }

  /** Runs one public call into the program under a `call` span. */
  def call[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val parent = currentSpan
      val id = s"call${ids.incrementAndGet()}"
      currentSpan = id
      sc.setLocalProperty("perfbench.span", id)
      val t0 = nowMs()
      try body
      finally {
        record(id, parent, "call", name, currentOp, t0, nowMs())
        currentSpan = parent
        sc.setLocalProperty("perfbench.span", parent)
      }
    }

  /** Waits until the listener bus has delivered every event posted so far. */
  def drain(): Unit = if (enabled) sc.listenerBus.waitUntilEmpty()

  /** Writes the spans as JSON lines. */
  def write(path: java.nio.file.Path): Unit = {
    drain()
    java.nio.file.Files.write(path, spans.asScala.toSeq.asJava)
  }
}
