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
  * `queryExecution.toRdd`) and caches each partition as column blocks:
  * one `Array[Double]` per coordinate, of up to [[BlockRows]] points
  * each. [[step]] is then one job of one stage per iteration: a
  * per-partition partial (count, coordinate sums, SSE) per centroid,
  * `collect`, and a driver sum in ascending partition index. No Catalyst
  * planning happens inside the loop, and no shuffle. [[fit]] is the one
  * Lloyd loop over them: step, move the centroids, stop on the
  * reference's rule.
  *
  * The arithmetic is that of the expression forms (`Assign.withNearest`
  * over `distSq2`, `Assign.withNearestND` over `SquaredDistance`):
  * the distance is Σ(aᵢ−cᵢ)² accumulated from 0.0 in ascending i (so it
  * is bit-equal to both), the argmin is strict `<` over ascending cid (the
  * lowest cid wins ties, mapper.py:43), and each mean is sum ÷ count.
  *
  * The columns exist so that the distance loop runs on SIMD lanes. [[step]]
  * takes a block one centroid at a time, and its hot loop is
  * `d(p) += t * t` with `t = col_i(p) − c_i` over the block's points p: the
  * column and the distance scratch share the index p, a form the JIT
  * auto-vectorizes. Each lane still adds one point's terms from 0.0 in
  * ascending i, so vectorizing changes no bit. (In a standalone
  * microbenchmark, one flat coordinate-major array read as `x(i * n + p)`
  * against `d(p)` was not vectorized, and ran 4–6× slower a term.)
  */
object LloydKernel {

  /** Points per packed block, chosen by measurement on the 200k × 64,
    * K = 16 fit (4 cores, 2 MB of L2 a core): an iteration took about
    * 80 ms of CPU from 256 to 2048 rows and 110–120 ms at 4096, whose
    * 2 MB block no longer stays in L2, while packing costs more as blocks
    * shrink (more arrays to allocate and to size for the cache).
    */
  val BlockRows = 1024

  /** A packed block: `cols(i)(p)` is coordinate i of point p. Every column
    * holds the block's n points.
    */
  type Block = Array[Array[Double]]

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
    * column blocks, runs `fit` over them and unpersists them in `finally`.
    * Rows with a null vector or a null coordinate are skipped (the
    * expression forms put them in cid −1, which no centroid reads); a
    * vector of any other length fails the job.
    */
  def pack[T](points: DataFrame, vec: Column, dim: Int)(fit: RDD[Block] => T): T = {
    val blocks = points.select(vec.cast("array<double>")).queryExecution.toRdd
      .mapPartitions(rows =>
        Iterator.continually(nextBlock(rows, dim)).takeWhile(b => b.nonEmpty && b(0).nonEmpty))
      .persist(StorageLevel.MEMORY_ONLY)
    try fit(blocks) finally blocks.unpersist()
  }

  /** The next block of up to [[BlockRows]] valid points; empty only once
    * `rows` is exhausted.
    */
  private def nextBlock(rows: Iterator[InternalRow], dim: Int): Block = {
    val cols = Array.fill(dim)(new Array[Double](BlockRows))
    var n = 0
    while (n < BlockRows && rows.hasNext) {
      val r = rows.next()
      if (!r.isNullAt(0)) {
        val v = r.getArray(0)
        require(v.numElements() == dim,
          s"a point vector has ${v.numElements()} coordinates, the centroids have $dim")
        var i = 0
        while (i < dim && !v.isNullAt(i)) { cols(i)(n) = v.getDouble(i); i += 1 }
        if (i == dim) n += 1
      }
    }
    if (n == BlockRows) cols else cols.map(java.util.Arrays.copyOf(_, n))
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
  def step(blocks: RDD[Block], centers: Seq[(Int, Array[Double])]): Step = {
    require(centers.nonEmpty, "a Lloyd step needs at least one centroid")
    val sorted = centers.sortBy(_._1)
    val k = sorted.length
    val dim = sorted.head._2.length
    val w = dim + 2
    val sums = merged(blocks, sorted.map(_._2))
    val clusters = (0 until k).filter(j => sums(j * w) > 0.0).map { j =>
      val (o, n) = (j * w, sums(j * w))
      sorted(j)._1 -> Cluster(n.toLong, Array.tabulate(dim)(i => sums(o + 1 + i) / n),
        sums(o + dim + 1))
    }
    Step(clusters.toMap, clusters.foldLeft(0.0)(_ + _._2.sse))
  }

  /** [[step]]'s merged sums against `centers` in cid order: per centroid
    * index j, `dim + 2` doubles [count, coordinate sums…, sse].
    *
    * A block is taken one centroid j at a time, in ascending j: the
    * distance scratch `d` is zeroed, and each coordinate i, in ascending
    * order, adds its terms to all of the block's points. Then j = 0 sets
    * each point's best, and a later j replaces it only when `d(p)` is
    * strictly smaller (the row-at-a-time `j == 0 || d < bestD`, with the
    * same NaN and ±Inf outcome). Counts and SSEs are then added in
    * ascending p, and the coordinate sums one coordinate at a time, in
    * ascending p: each (cluster, slot) receives the same additions, in
    * the same order, as a point-at-a-time loop would give it.
    */
  private[graft] def merged(blocks: RDD[Block], centers: Seq[Array[Double]]): Array[Double] = {
    val k = centers.length
    val dim = centers.head.length
    val bc = blocks.sparkContext.broadcast(centers.flatten.toArray)
    val w = dim + 2
    val partials = blocks.mapPartitions { it =>
      val c = bc.value
      val acc = new Array[Double](k * w)
      val d = new Array[Double](BlockRows)
      val bestD = new Array[Double](BlockRows)
      val best = new Array[Int](BlockRows)
      it.foreach { cols =>
        val n = cols(0).length
        var j = 0
        while (j < k) {
          java.util.Arrays.fill(d, 0, n, 0.0)
          var i = 0
          while (i < dim) {
            // keep `x` and `d` on the one index p: this loop is the one
            // the JIT vectorizes
            val x = cols(i)
            val ci = c(j * dim + i)
            var p = 0
            while (p < n) { val t = x(p) - ci; d(p) += t * t; p += 1 }
            i += 1
          }
          var p = 0
          while (p < n) {
            if (j == 0 || d(p) < bestD(p)) { best(p) = j; bestD(p) = d(p) }
            p += 1
          }
          j += 1
        }
        var p = 0
        while (p < n) {
          val a = best(p) * w
          acc(a) += 1.0
          acc(a + dim + 1) += bestD(p)
          p += 1
        }
        var i = 0
        while (i < dim) {
          val x = cols(i)
          var p = 0
          while (p < n) { acc(best(p) * w + 1 + i) += x(p); p += 1 }
          i += 1
        }
      }
      Iterator.single(acc)
    }
    val sums = new Array[Double](k * w)
    try partials.collect().foreach { acc =>
      var i = 0
      while (i < sums.length) { sums(i) += acc(i); i += 1 }
    } finally bc.destroy()
    sums
  }
}
