package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.perfbench.Tracer
import org.apache.spark.sql.SparkSession

import graft.operators.{Assign, Centroids, KMeansLoop, KMeansND, Recenter}
import graft.sources.TextFormats

/** One benchmark run in one JVM: build the session, generate the inputs,
  * replay the expected result, then run closed-loop ops (one client, one
  * op at a time): a cold op, `--warmup` warm-up ops, then `--measure`
  * measured ops. The window is a fixed range of op indices, so every run
  * samples the same stretch of the JIT's warm-up curve however fast the
  * host is. Each op is checked against the replay.
  *
  * Writes `ops.jsonl` (one line per op), `run.json` and, with
  * `--trace 1`, `spans.jsonl` into `--out`. Prints `READY` on stdout as
  * soon as the session is up, so the launcher can time set-up; with
  * `--probe` it stops there.
  *
  * Usage: perfbench.Harness --workload lloyd|lloyd_nd --seed N --warmup W
  *   --measure M --trace 0|1 --out DIR --work DIR --cores C --points N --k K
  *   --iters I [--dim D] [--probe 1]
  */
object Harness {

  def session(cores: Int, work: Path): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "localhost")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** One workload: inputs and replay in the constructor (untimed), the
    * timed op, and the check of an op's outputs.
    */
  trait Workload {
    /** Runs the op; returns the iteration count of its fit. */
    def op(t: Tracer, out: Path): Int
    /** None when the op's outputs match the replay, else why not. */
    def check(out: Path): Option[String]
  }

  /** Relative tolerance of the output checks: Spark and the replay sum in
    * different orders.
    */
  val Rel = 1e-9

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = Paths.get(a("work"))
    val spark = session(a("cores").toInt, work)
    println("READY")
    System.out.flush()
    if (a.get("probe").contains("1")) { spark.stop(); return }

    val out = Paths.get(a("out"))
    val seed = a("seed").toLong
    val (n, k, iters) = (a("points").toInt, a("k").toInt, a("iters").toInt)
    val trace = a("trace") == "1"
    val g0 = System.nanoTime()
    val w: Workload = a("workload") match {
      case "lloyd" => new Lloyd(spark, work, seed, n, k, iters)
      case "lloyd_nd" => new LloydNd(spark, work, seed, n, k, a("dim").toInt, iters)
      case other => sys.error(s"unknown workload $other")
    }
    val prepS = (System.nanoTime() - g0) / 1e9

    val tracer = new Tracer(spark, trace)
    val (warmup, measure) = (a("warmup").toInt, a("measure").toInt)
    val gcs = ManagementFactory.getGarbageCollectorMXBeans.asScala
    def gcMs(): Long = gcs.map(_.getCollectionTime).sum
    val ops = Seq.newBuilder[String]
    for (opIdx <- 0 to warmup + measure) {
      val phase = if (opIdx == 0) "cold" else if (opIdx <= warmup) "warmup" else "measured"
      System.gc()
      val steal0 = Host.stealTicks()
      val gc0 = gcMs()
      val t0 = System.nanoTime()
      val result =
        try Right(tracer.op(opIdx)(w.op(tracer, out)))
        catch { case e: Exception => Left(e.toString) }
      val wall = (System.nanoTime() - t0) / 1e9
      val gc = (gcMs() - gc0) / 1e3
      val steal = (Host.stealTicks() - steal0) / Host.UserHz
      tracer.drain()
      val failure = result.fold(Some(_), _ => w.check(out))
      failure.foreach(f => System.err.println(s"[perfbench] op $opIdx failed: $f"))
      ops += Json.obj("op" -> opIdx, "phase" -> phase, "wall_s" -> wall,
        "ok" -> failure.isEmpty, "iterations" -> result.getOrElse(0), "gc_s" -> gc,
        "steal_s" -> steal, "loadavg1" -> Host.loadavg1(),
        "why" -> failure.getOrElse(""))
    }
    if (trace) tracer.write(out.resolve("spans.jsonl"))
    Files.write(out.resolve("ops.jsonl"), ops.result().asJava)
    Files.writeString(out.resolve("run.json"),
      Json.obj("peak_rss_mb" -> Host.peakRssMb(), "prepare_s" -> prepS))
    spark.stop()
  }

  /** The reference workflow (ReferencePipeline): read points.txt → bbox →
    * seeded init → fixed-iteration Lloyd → centroids.txt → KV files.
    */
  final class Lloyd(spark: SparkSession, work: Path, seed: Long, n: Int, k: Int, iters: Int)
      extends Workload {
    private val (xs, ys) = Inputs.blobs2d(seed, n, k)
    private val pointsTxt = work.resolve("points.txt")
    Inputs.writePointsTxt(xs, ys, pointsTxt)
    private val expected = {
      val init = Centroids.randomInit(k, seed, xs.min, xs.max, ys.min, ys.max)
      val flat = new Array[Double](2 * n)
      for (i <- 0 until n) { flat(2 * i) = xs(i); flat(2 * i + 1) = ys(i) }
      Inputs.lloyd(flat, 2, init.map(c => Array(c.cx, c.cy)).toArray, iters)
    }
    private var fit: KMeansLoop.FitResult = _

    def op(t: Tracer, out: Path): Int = {
      val pts = t.call("TextFormats.readPointsCsv")(
        TextFormats.readPointsCsv(spark, pointsTxt.toString))
      val (xlo, xhi, ylo, yhi) = t.call("Recenter.bbox")(Recenter.bbox(pts))
      val init = t.call("Centroids.randomInit")(Centroids.randomInit(k, seed, xlo, xhi, ylo, yhi))
      fit = t.call("KMeansLoop.fit")(KMeansLoop.fit(spark, pts, init, maxIter = iters, delta = 0.0))
      t.call("TextFormats.writeCentroidsCsv")(
        TextFormats.writeCentroidsCsv(spark, fit.centroids, out.resolve("centroids").toString))
      t.call("TextFormats.writeKvText")(TextFormats.writeKvText(
        Assign.withNearest(pts, fit.centroids), reducerCount = 2, out.resolve("kv").toString))
      fit.iterations
    }

    def check(out: Path): Option[String] = {
      val written = partLines(out.resolve("centroids")).map(_.split(',').map(_.toDouble))
      val counts = new Array[Long](k)
      var misrouted = 0L
      listDir(out.resolve("kv")).filter(Files.isDirectory(_)).foreach { d =>
        val r = d.getFileName.toString.stripPrefix("r=").toInt
        partLines(d).foreach { l =>
          val cid = l.substring(0, l.indexOf(':')).toInt
          counts(cid) += 1
          if (cid % 2 != r) misrouted += 1
        }
      }
      val e = expected
      if (fit.iterations != iters) Some(s"iterations ${fit.iterations} != $iters")
      else if (!Inputs.close(fit.sse, e.sse, Rel)) Some(s"sse ${fit.sse} != ${e.sse}")
      else if (written.length != k || written.exists(_.length != 2) ||
        written.zip(e.centroids).exists { case (w, x) => !w.zip(x).forall { case (p, q) => Inputs.close(p, q, Rel) } })
        Some("centroids.txt differs from the replay")
      else if (misrouted > 0) Some(s"$misrouted KV lines in the wrong reducer file")
      else if (!counts.sameElements(e.counts))
        Some(s"KV cluster sizes ${counts.mkString(",")} != ${e.counts.mkString(",")}")
      else None
    }
  }

  /** KMeansND.fit on a parquet of `dim`-dim `vec array<double>` points. */
  final class LloydNd(spark: SparkSession, work: Path, seed: Long, n: Int, k: Int, dim: Int,
      iters: Int) extends Workload {
    private val chunks = spark.sparkContext.defaultParallelism
    private val parquet = work.resolve("points.parquet").toString
    Inputs.writeNdParquet(spark, parquet, seed, n, k, dim, chunks)
    private val expected = {
      val flat = (0 until chunks).iterator
        .flatMap(c => Inputs.blobsNdChunk(seed, n, k, dim, chunks, c)).flatten.toArray
      val init = Centroids.randomInitND(k, dim, seed, -1.0, 1.0)
      Inputs.lloyd(flat, dim, init.map(_.vec).toArray, iters)
    }
    private var fit: KMeansND.FitResult = _

    def op(t: Tracer, out: Path): Int = {
      val pts = spark.read.parquet(parquet)
      val init = t.call("Centroids.randomInitND")(Centroids.randomInitND(k, dim, seed, -1.0, 1.0))
      fit = t.call("KMeansND.fit")(KMeansND.fit(spark, pts, init, maxIter = iters, delta = 0.0))
      fit.iterations
    }

    def check(out: Path): Option[String] = {
      val e = expected
      val cs = fit.centroids.sortBy(_.cid)
      if (fit.iterations != iters) Some(s"iterations ${fit.iterations} != $iters")
      else if (!Inputs.close(fit.sse, e.sse, Rel)) Some(s"sse ${fit.sse} != ${e.sse}")
      else if (cs.length != k || cs.exists(_.vec.length != dim) || cs.zip(e.centroids).exists { case (c, x) =>
        !c.vec.zip(x).forall { case (p, q) => Inputs.close(p, q, Rel) } })
        Some("centroids differ from the replay")
      else None
    }
  }

  def listDir(dir: Path): Seq[Path] = Using.resource(Files.list(dir))(_.iterator().asScala.toList)

  /** Lines of the `part-*` files of a Spark output directory, in file order. */
  def partLines(dir: Path): Seq[String] =
    listDir(dir).filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)
      .flatMap(p => Files.readAllLines(p).asScala)
}

/** Host context read from /proc. */
object Host {
  val UserHz = 100.0

  /** Steal ticks summed over all CPUs (8th value of the `cpu` line). */
  def stealTicks(): Long =
    Files.readAllLines(Paths.get("/proc/stat")).asScala.find(_.startsWith("cpu "))
      .map(_.trim.split("\\s+")).filter(_.length > 8).map(_(8).toLong).getOrElse(0L)

  def loadavg1(): Double =
    Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble

  /** VmHWM, the resident-set high-water mark of this JVM, in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}

/** Flat JSON objects of numbers, booleans and plain strings. */
object Json {
  def obj(kv: (String, Any)*): String = kv.map { case (k, v) =>
    val s = v match {
      case s: String => "\"" + s.replaceAll("[\"\\\\\\p{Cntrl}]", " ") + "\""
      case other => other.toString
    }
    s""""$k":$s"""
  }.mkString("{", ",", "}")
}
