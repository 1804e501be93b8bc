package graft.operators

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.storage.StorageLevel

/** The plan-once Lloyd kernel and loop shared by [[KMeansLoop]] and
  * [[KMeansND]]: the reference's pass — broadcast K centroids
  * (master.py:184-188), map each point to its nearest one
  * (mapper.py:35-51), combine per mapper, reduce to new means
  * (reducer.py:30-44). MLlib's KMeans shuffles its
  * per-partition partials through `reduceByKey`; here they are so small
  * (K × (dim + 2) doubles a partition) that the driver merges them, in a
  * fixed order.
  *
  * [[pack]] plans the point projection ONCE per fit (through
  * `queryExecution.toRdd`) and caches each partition as row-major
  * `Array[Double]` blocks of [[BlockRows]] points. [[step]] is then one
  * job of one stage per iteration: a per-partition partial
  * (count, coordinate sums, SSE) per centroid, `collect`, and a driver
  * sum in ascending partition index. No Catalyst planning happens inside
  * the loop, and no shuffle. [[fit]] is the one Lloyd loop over them:
  * step, move the centroids, stop on the reference's rule.
  *
  * The arithmetic is that of the expression forms (`Assign.withNearest`
  * over `distSq2`, `Assign.withNearestND` over `SquaredDistance`):
  * the distance is Σ(aᵢ−cᵢ)² accumulated from 0.0 in ascending i (so it
  * is bit-equal to both), the argmin is strict `<` over ascending cid (the
  * lowest cid wins ties, mapper.py:43), and each mean is sum ÷ count.
  */
object LloydKernel {

  /** Points per packed block. */
  val BlockRows = 4096

  /** One cluster of a pass: member count, mean, and the members' summed
    * squared distance to the centroid they were assigned to.
    */
  final case class Cluster(count: Long, mean: Array[Double], sse: Double)

  /** One pass: the non-empty clusters by cid, and the total SSE. */
  final case class Step(clusters: Map[Int, Cluster], sse: Double)

  /** A fit: the last centroids, the SSE of the last pass (NaN if none
    * ran), the passes run, whether the stop rule fired, and each pass's
    * SSE in order.
    */
  final case class Fit[C](
      centroids: Seq[C],
      sse: Double,
      iterations: Int,
      converged: Boolean,
      sseHistory: Seq[Double])

  /** Lloyd's loop over the vectors `vec` of `points`, from `init`. Each
    * pass runs one [[step]] against the centroids' (cid, coordinates)
    * from `coords`, then `next(centroids, step, pass index)` gives the
    * new centroids (the caller's merge and empty-cluster policy). The
    * loop stops after `maxIter` passes, or once
    * `|SSE(previous pass) − SSE(this pass)| < delta` (master.py:365); the
    * first pass has no previous SSE, so it never stops the loop.
    */
  def fit[C](points: DataFrame, vec: Column, init: Seq[C], maxIter: Int, delta: Double)(
      coords: C => (Int, Array[Double]),
      next: (Seq[C], Step, Int) => Seq[C]): Fit[C] = {
    require(init.nonEmpty, "Lloyd fit: init holds no centroid")
    val dims = init.map(coords(_)._2.length).distinct
    require(dims.length == 1, s"Lloyd fit: init centroids differ in length (${dims.mkString(", ")})")
    pack(points, vec, dims.head) { blocks =>
      var cs = init
      var prevSse = Double.NaN
      var history = Vector.empty[Double]
      var it = 0
      var converged = false
      while (it < maxIter && !converged) {
        val st = step(blocks, cs.map(coords))
        cs = next(cs, st, it)
        history :+= st.sse
        if (!prevSse.isNaN && math.abs(prevSse - st.sse) < delta) converged = true
        prevSse = st.sse
        it += 1
      }
      Fit(cs, prevSse, it, converged, history)
    }
  }

  /** Packs the `dim`-coordinate vectors `vec` of `points` into cached
    * blocks, runs `fit` over them and unpersists them in `finally`. Rows
    * with a null vector or a null coordinate are skipped (the expression
    * forms put them in cid −1, which no centroid reads); a vector of any
    * other length fails the job.
    */
  def pack[T](points: DataFrame, vec: Column, dim: Int)(fit: RDD[Array[Double]] => T): T = {
    val blocks = points.select(vec.cast("array<double>")).queryExecution.toRdd
      .mapPartitions(rows => Iterator.continually(nextBlock(rows, dim)).takeWhile(_.nonEmpty))
      .persist(StorageLevel.MEMORY_ONLY)
    try fit(blocks) finally blocks.unpersist()
  }

  /** The next block of up to [[BlockRows]] valid points; empty only once
    * `rows` is exhausted.
    */
  private def nextBlock(rows: Iterator[InternalRow], dim: Int): Array[Double] = {
    val buf = new Array[Double](BlockRows * dim)
    var n = 0
    while (n < BlockRows && rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(0)) {
        val v = r.getArray(0)
        require(v.numElements() == dim,
          s"a point vector has ${v.numElements()} coordinates, the centroids have $dim")
        var i = 0
        while (i < dim && !v.isNullAt(i)) { buf(n * dim + i) = v.getDouble(i); i += 1 }
        if (i == dim) n += 1
      }
    }
    if (n == BlockRows) buf else java.util.Arrays.copyOf(buf, n * dim)
  }

  /** One assign + combine + reduce pass of `blocks` against `centers`
    * (cid, coordinates): one job of one stage. Each partition emits one
    * `k × (dim + 2)` partial; `collect` returns them in partition order
    * and the driver sums them in ascending partition index, so the sums
    * are the same from run to run (and, with one partition, the
    * partition's own partial, as 0.0 + x = x). The driver receives
    * partitions × K × (dim + 2) doubles — 34 KB for 4 partitions of
    * K = 16 at dim 64 — under `spark.driver.maxResultSize`'s guard.
    */
  def step(blocks: RDD[Array[Double]], centers: Seq[(Int, Array[Double])]): Step = {
    require(centers.nonEmpty, "a Lloyd step needs at least one centroid")
    val sorted = centers.sortBy(_._1)
    val k = sorted.length
    val dim = sorted.head._2.length
    val bc = blocks.sparkContext.broadcast(sorted.flatMap(_._2).toArray)
    // per centroid index j, a partial of dim + 2 doubles:
    // [count, coordinate sums…, sse]
    val w = dim + 2
    val partials = blocks.mapPartitions { it =>
      val c = bc.value
      val acc = new Array[Double](k * w)
      it.foreach { b =>
        var p = 0
        while (p < b.length) {
          var best = 0
          var bestD = 0.0
          var j = 0
          while (j < k) {
            val o = j * dim
            var d = 0.0
            var i = 0
            while (i < dim) { val t = b(p + i) - c(o + i); d += t * t; i += 1 }
            if (j == 0 || d < bestD) { best = j; bestD = d }
            j += 1
          }
          val a = best * w
          acc(a) += 1.0
          var q = 0
          while (q < dim) { acc(a + 1 + q) += b(p + q); q += 1 }
          acc(a + dim + 1) += bestD
          p += dim
        }
      }
      Iterator.single(acc)
    }
    val sums = new Array[Double](k * w)
    try partials.collect().foreach { acc =>
      var i = 0
      while (i < sums.length) { sums(i) += acc(i); i += 1 }
    } finally bc.destroy()
    val clusters = (0 until k).filter(j => sums(j * w) > 0.0).map { j =>
      val (o, n) = (j * w, sums(j * w))
      sorted(j)._1 -> Cluster(n.toLong, Array.tabulate(dim)(i => sums(o + 1 + i) / n),
        sums(o + dim + 1))
    }
    Step(clusters.toMap, clusters.foldLeft(0.0)(_ + _._2.sse))
  }
}
