package graft.examples

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.TextFormats

/** End-to-end replay of the reference's workflow (readme.txt:30-32,
  * master.py:336-372) on Spark: read `points.txt`, iterate Lloyd's
  * k-means, write `centroids.txt`, emit the KV partition files — every
  * on-disk contract of the reference, produced by the Spark engine.
  *
  * Run: sbt "runMain graft.examples.ReferencePipeline <pointsCsv> <outDir> <K> <maxIter>"
  */
object ReferencePipeline {
  def main(args: Array[String]): Unit = {
    val pointsCsv = args.lift(0).getOrElse("src/test/resources/points_tiny.csv")
    val outDir = args.lift(1).getOrElse("/tmp/graft-pipeline")
    val k = args.lift(2).map(_.toInt).getOrElse(2)
    val maxIter = args.lift(3).map(_.toInt).getOrElse(10)

    val spark = graft.Session.builder()
      .appName("graft-reference-pipeline")
      // load the optimizer extension the way a cluster submit would
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // S1: scan points.txt
    val pts = TextFormats.readPointsCsv(spark, pointsCsv)
    val n = pts.count()

    // A4 + init (intended bounding-box semantics, SURVEY §3.1.4)
    val (xlo, xhi, ylo, yhi) = Recenter.bbox(pts)
    val init = Centroids.randomInit(k, seed = 42L, xlo, xhi, ylo, yhi)

    // iterate (SSE piggybacked, §3.1 lifecycle)
    val res = KMeansLoop.fit(spark, pts, init, maxIter = maxIter, delta = 0.5)

    // S4: centroids.txt sink
    TextFormats.writeCentroidsCsv(spark, res.centroids, s"$outDir/centroids")

    // S5: KV partition files (intended semantics: key = cluster id)
    val assigned = Assign.withNearest(pts, res.centroids)
    TextFormats.writeKvText(assigned, reducerCount = 2, s"$outDir/kv")

    // demonstrate the FoldSquaredSqrt rule is live in this session
    // alias: the auto-generated column name would itself contain "SQRT"
    val plan = pts.select(pow(sqrt(col("x")), 2.0).as("rt"))
      .queryExecution.optimizedPlan.toString
    val folded = !plan.toLowerCase.contains("sqrt")

    val readBack = TextFormats.readCentroidsCsv(spark, s"$outDir/centroids")
    println(f"[pipeline] n=$n k=$k iters=${res.iterations} converged=${res.converged} sse=${res.sse}%.4f")
    println(s"[pipeline] centroids=${readBack.map(c => f"(${c.cid}: ${c.cx}%.3f, ${c.cy}%.3f)").mkString(" ")}")
    println(s"[pipeline] sqrt-fold-active=$folded")
    spark.stop()
  }
}
