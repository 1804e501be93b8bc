package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types._

/** Seeded input generators and the sequential Lloyd replay the ops are
  * checked against. Everything here is a pure function of its arguments:
  * the same seed gives the same points, bit for bit.
  */
object Inputs {

  /** `n` 2-D points in `k` Gaussian blobs (σ = 40) whose centres are
    * uniform in [0, 1000)², as parallel x / y arrays.
    */
  def blobs2d(seed: Long, n: Int, k: Int): (Array[Double], Array[Double]) = {
    val rnd = new java.util.Random(seed)
    val cx = Array.fill(k)(rnd.nextDouble() * 1000)
    val cy = Array.fill(k)(rnd.nextDouble() * 1000)
    val xs = new Array[Double](n)
    val ys = new Array[Double](n)
    var i = 0
    while (i < n) {
      val b = rnd.nextInt(k)
      xs(i) = cx(b) + rnd.nextGaussian() * 40
      ys(i) = cy(b) + rnd.nextGaussian() * 40
      i += 1
    }
    (xs, ys)
  }

  /** The reference's `points.txt`: one `x,y` line per point. */
  def writePointsTxt(xs: Array[Double], ys: Array[Double], path: Path): Unit = {
    val w = Files.newBufferedWriter(path)
    try {
      var i = 0
      while (i < xs.length) {
        w.write(java.lang.Double.toString(xs(i))); w.write(','.toInt)
        w.write(java.lang.Double.toString(ys(i))); w.write('\n'.toInt)
        i += 1
      }
    } finally w.close()
  }

  /** Chunk `c` of `chunks` of an `n`-point, `dim`-dimensional blob set
    * (k blob centres uniform in [-1, 1)^dim, σ = 0.1). Chunks are
    * generated independently so Spark tasks and the driver replay produce
    * the same points.
    */
  def blobsNdChunk(seed: Long, n: Int, k: Int, dim: Int, chunks: Int, c: Int): Array[Array[Double]] = {
    val centres = {
      val rnd = new java.util.Random(seed)
      Array.fill(k, dim)(rnd.nextDouble() * 2 - 1)
    }
    val lo = (n.toLong * c / chunks).toInt
    val hi = (n.toLong * (c + 1) / chunks).toInt
    val rnd = new java.util.Random(seed * 1000003L + c)
    Array.fill(hi - lo) {
      val b = centres(rnd.nextInt(k))
      Array.tabulate(dim)(d => b(d) + rnd.nextGaussian() * 0.1)
    }
  }

  /** The chunks of [[blobsNdChunk]] as a parquet of `vec array<double>`,
    * one Spark task per chunk.
    */
  def writeNdParquet(spark: SparkSession, path: String, seed: Long, n: Int, k: Int, dim: Int,
      chunks: Int): Unit = {
    val rows = spark.sparkContext.parallelize(0 until chunks, chunks).flatMap(c =>
      blobsNdChunk(seed, n, k, dim, chunks, c).iterator.map(v => Row(v)))
    spark.createDataFrame(rows, StructType(Seq(StructField("vec",
      ArrayType(DoubleType, containsNull = false), nullable = false))))
      .write.mode("overwrite").parquet(path)
  }

  final case class Expected(centroids: Array[Array[Double]], sse: Double, counts: Array[Long])

  /** Plain sequential Lloyd over row-major points (`dim` values per
    * point): `iters` passes of assign (first centroid at the minimum
    * squared distance wins ties) → per-cluster mean, an empty cluster
    * keeping its old centroid. The SSE is that of the last pass's
    * assignment; `counts` are the members per centroid under the final
    * centroids.
    */
  def lloyd(points: Array[Double], dim: Int, init: Array[Array[Double]], iters: Int): Expected = {
    val n = points.length / dim
    val k = init.length
    val cs = init.map(_.clone)
    val assign = new Array[Int](n)
    def assignAll(): Double = {
      var sse = 0.0
      var i = 0
      while (i < n) {
        var best = -1; var bestD = Double.PositiveInfinity
        var j = 0
        while (j < k) {
          val c = cs(j); var d = 0.0; var t = 0
          while (t < dim) { val e = points(i * dim + t) - c(t); d += e * e; t += 1 }
          if (d < bestD) { bestD = d; best = j }
          j += 1
        }
        assign(i) = best; sse += bestD
        i += 1
      }
      sse
    }
    var sse = Double.NaN
    var it = 0
    while (it < iters) {
      sse = assignAll()
      val sums = Array.ofDim[Double](k, dim)
      val cnt = new Array[Long](k)
      var i = 0
      while (i < n) {
        val a = assign(i); cnt(a) += 1
        var t = 0
        while (t < dim) { sums(a)(t) += points(i * dim + t); t += 1 }
        i += 1
      }
      for (j <- 0 until k if cnt(j) > 0; t <- 0 until dim) cs(j)(t) = sums(j)(t) / cnt(j)
      it += 1
    }
    assignAll()
    val counts = new Array[Long](k)
    assign.foreach(a => counts(a) += 1)
    Expected(cs, sse, counts)
  }

  /** |a − b| within `rel` of |b| (and of 1 near zero). */
  def close(a: Double, b: Double, rel: Double): Boolean =
    math.abs(a - b) <= rel * math.max(1.0, math.abs(b))
}
