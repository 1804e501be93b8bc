package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.functions.VecFunctions._
import graft.functions.ArrayKernels

object SimilarityDims { val D = 64 }

/** Similarity search over the `embeddings` table (64-dim float vectors) —
  * training-data-pipeline extension surface.
  *
  * Three operators:
  *  - [[nearPairs]]: embedding-cosine near-duplicate pairs (brute force,
  *    the correctness baseline);
  *  - [[bruteTopK]]: exact top-k neighbors for a query set (broadcast the
  *    queries, scan the corpus once — at 100 TB the corpus side streams,
  *    the query side rides the broadcast);
  *  - [[annTopK]]: random-hyperplane LSH top-k — the scale path: corpus
  *    is bucketed by sign-bit signature (narrow map), candidates are
  *    same-bucket only, so the pair space shrinks by ~2^planes.
  *
  * Ranking determinism: ranks order by (cosine rounded to 5 dp, vec_id) —
  * the rounded value is cross-engine stable, and the unique vec_id breaks
  * ties, so top-k membership matches the DuckDB oracle exactly.
  */
object Similarity {

  /** embeddings with the float vector cast to double once. */
  def emb(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.embeddings(spark, sfDir)
      .select(col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("v"))

  private def rnd5(c: Column): Column = floor(c * lit(1e5) + lit(0.5)) / lit(1e5)

  /** All pairs with cosine >= tau (brute force; corpus must be small or
    * pre-blocked — the LSH variant is the scale path).
    */
  def nearPairs(embDf: DataFrame, tau: Double): DataFrame = {
    val n = withNorm(embDf)
    val a = n.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val b = n.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    a.crossJoin(b).where(col("id_a") < col("id_b"))
      .withColumn("cos",
        ArrayKernels.dotFast(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), rnd5(col("cos")).as("cos5"))
  }

  /** Precompute the L2 norm once per vector (below any join, so a pair
    * scan pays one dot per pair, not three).
    */
  def withNorm(embDf: DataFrame): DataFrame =
    embDf.withColumn("nrm",
      sqrt(ArrayKernels.dotFast(col("v"), col("v"))))

  /** Exact top-k cosine neighbors for queries (vec_id < nQueries). */
  def bruteTopK(embDf: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val n = withNorm(embDf)
    val q = n.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
    val joined = broadcast(q).crossJoin(
        n.select(col("vec_id"), col("v"), col("nrm")))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos5", rnd5(
        ArrayKernels.dotFast(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos5").desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"), col("cos5"))
  }

  /** ColBERT-style late-interaction (MaxSim) retrieval: each stored
    * vector is read as `nTok` contiguous token-vectors of D/nTok dims;
    * score(q, d) = Σ_i max_j cos(q_i, d_j) — the multi-vector ranking
    * a late-interaction retriever runs where single-vector cosine
    * loses token-level signal. Execution is still the [[bruteTopK]]
    * shape (broadcast queries, ONE narrow corpus scan), just with an
    * nTok² slice-dot interaction matrix per pair. Determinism: each
    * cosine is 5-dp rounded BEFORE the max (cross-engine stable —
    * the rnd5 ranking contract), and the final score sums the nTok
    * maxes in literal token order, so both engines replay the exact
    * IEEE sequence and the score column itself hash-gates.
    */
  def maxSimTopK(embDf: DataFrame, nTok: Int, nQueries: Int, k: Int): DataFrame = {
    val td = SimilarityDims.D / nTok
    def tok(v: Column, i: Int) = slice(v, 1 + i * td, td)
    def norms(v: Column, p: String) = (0 until nTok).map(i =>
      sqrt(ArrayKernels.dotFast(tok(v, i), tok(v, i))).as(s"$p$i"))
    val base = embDf.select(col("vec_id") +: col("v") +:
      norms(col("v"), "n"): _*)
    val q = base.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid") +: col("v").as("qv") +:
        (0 until nTok).map(i => col(s"n$i").as(s"qn$i")): _*)
    val maxes = (0 until nTok).map { i =>
      val coss = (0 until nTok).map { j =>
        rnd5(ArrayKernels.dotFast(tok(col("qv"), i), tok(col("v"), j)) /
          (col(s"qn$i") * col(s"n$j")))
      }
      // greatest() rejects a single argument (the nTok = 1 degenerate
      // case RecallSpec pins against bruteTopK)
      (if (coss.size == 1) coss.head else greatest(coss: _*)).as(s"m$i")
    }
    val scored = base.crossJoin(broadcast(q))
      .where(col("vec_id") =!= col("qid"))
      .select(col("qid") +: col("vec_id") +: maxes: _*)
      .withColumn("score",
        (0 until nTok).map(i => col(s"m$i")).reduce(_ + _))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("score").desc, col("vec_id"))
    scored.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"), col("score"))
  }

  /** Deterministic random hyperplanes: nPlanes × dim uniform [-1, 1]. */
  def hyperplanes(nPlanes: Int, dim: Int, seed: Long): Seq[Array[Double]] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nPlanes)(Array.fill(dim)(rnd.nextDouble() * 2.0 - 1.0))
  }

  /** Sign-bit LSH bucket id (0 .. 2^nPlanes-1) for a vector column. */
  def bucketExpr(v: Column, planes: Seq[Array[Double]]): Column =
    planes.zipWithIndex.map { case (p, i) =>
      val parr = array(p.toSeq.map(lit(_)): _*)
      when(ArrayKernels.dotFast(v, parr) >= 0.0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** LSH-accelerated near-duplicate pairs: candidates restricted to the
    * same sign-bit bucket (the 100-TB path for [[nearPairs]] — the pair
    * space shrinks ~2^planes; recall loss is the standard LSH trade).
    */
  def nearPairsLsh(embDf: DataFrame, planes: Seq[Array[Double]], tau: Double): DataFrame = {
    val bucketed = withNorm(embDf)
      .withColumn("bucket", bucketExpr(col("v"), planes))
    val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"))
    a.join(b, "bucket").where(col("id_a") < col("id_b"))
      .withColumn("cos", ArrayKernels.dotFast(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= tau)
      .select(col("bucket"), col("id_a"), col("id_b"), rnd5(col("cos")).as("cos5"))
  }

  /** IVF (inverted-file) ANN: coarse-quantize the corpus by
    * nearest-coarse-centroid (the SAME kernel as k-means assignment —
    * Assign.withNearestND), then search only the query's own cell
    * (nprobe=1). The scale shape: cells partition the corpus, each query
    * touches |corpus|/nlist candidates.
    */
  def ivfTopK(embDf: DataFrame, coarse: Seq[CentroidND], nQueries: Int, k: Int): DataFrame = {
    val celled = Assign.withNearestND(withNorm(embDf), col("v"), coarse, "cell")
    val q = celled.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    ivfServe(celled.select(col("vec_id"), col("v"), col("nrm"), col("cell")), q, k)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the corpus by nearest trained coarse
    * centroid (the SAME argmin kernel as IVF assignment), generate
    * candidate pairs WITHIN a cluster only, call a pair a semantic dup
    * at cos >= tau, and drop the member CLOSER to its centroid — the
    * paper's keep-farthest rule, which retains each cluster's least
    * redundant exemplar. Output: the kept vectors (vec_id, cell, d2c).
    *
    * Scale shape: clustering reduces the pair space from n² to Σ n_c²
    * (measured 4.8× on the fixture at nlist=8; grows with nlist — the
    * production lever), candidates never leave their cell so the pair
    * join shuffles on cell only, and the drop set gets NO broadcast
    * hint — semantic dups are 30-50% of a crawl corpus, so drops is
    * O(corpus) and AQE must pick the join strategy (the dedup_embedding
    * note). Keeper comparisons use the 5-dp-rounded centroid distance
    * (cross-engine stable); equal rounded distances drop the larger
    * vec_id.
    */
  def semDedup(embDf: DataFrame, coarse: Seq[CentroidND], tau: Double): DataFrame = {
    val celled = Assign.withNearestND(
        withNorm(embDf), col("v"), coarse, "cell", d2Col = Some("_d2"))
      .withColumn("d2c", rnd5(col("_d2")))
      .select(col("vec_id"), col("v"), col("nrm"), col("cell"), col("d2c"))
    celled.join(semDropsAll(celled, tau), Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("d2c"))
  }

  /** ALL within-cell keep-farthest drops over (cell, vec_id, v, nrm,
    * d2c) rows — the pair kernel [[semDedup]] and the delete path's
    * affected-cell re-solve share. Returns distinct dropped vec_ids.
    */
  def semDropsAll(withD: DataFrame, tau: Double): DataFrame = {
    val a = withD.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"), col("d2c").as("da"))
    val b = withD.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"), col("d2c").as("db"))
    a.join(b, "cell").where(col("id_a") < col("id_b"))
      .withColumn("cos",
        ArrayKernels.dotFast(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= tau)
      .select(when(col("da") >= col("db"), col("id_b"))
        .otherwise(col("id_a")).as("vec_id"))
      .distinct()
  }

  /** Attach the 5-dp-rounded squared distance to the OWN assigned
    * centroid, via the broadcast centroid TABLE (production shape — no
    * literal model in the plan; same ascending-fold kernel as the
    * literal assignment, so values are bit-identical to the oracle's
    * foldSq chain). Input/output rows are (cell, vec_id, v, nrm [, …]).
    */
  def withCentroidDist(celled: DataFrame, coarse: Seq[CentroidND]): DataFrame = {
    val spark = celled.sparkSession
    import spark.implicits._
    val cellsDf = coarse.sortBy(_.cid).map(c => (c.cid, c.vec.toSeq))
      .toDF("_ccid", "_cvec")
    celled.join(broadcast(cellsDf), col("cell") === col("_ccid"))
      .withColumn("d2c", rnd5(ArrayKernels.distSqFast(col("v"), col("_cvec"))))
      .drop("_ccid", "_cvec")
  }

  /** Incremental [[semDedup]] maintenance — the semantic twin of
    * `dedup_incremental`: the pairwise keep-farthest drop rule is
    * ORDER-FREE and drops accumulate monotonically (a vector dropped by
    * any pair stays dropped; new arrivals can only ADD drops), so
    * ingesting a batch needs only the pairs that TOUCH the batch:
    *
    *   kept(store ∪ batch) = (store ∪ batch) ∖
    *     (priorDrops ∪ drops(batch × index pairs))
    *
    * — store×store pairs are never re-scored. `store`/`batch` are
    * (cell, vec_id, v, nrm) celled rows (the IVF postings-store
    * schema); `priorDrops` is the persisted drop set of the store
    * corpus. Candidate pairs shuffle on cell only; batch×batch pairs
    * dedup by id order; the centroid model rides the broadcast table.
    * IncrementalSpec pins ingest ≡ whole-corpus [[semDedup]] and
    * two-day batch-split associativity.
    */
  def semDedupIngest(store: DataFrame, batch: DataFrame,
      priorDrops: DataFrame, coarse: Seq[CentroidND], tau: Double): DataFrame = {
    val withD = withCentroidDist(
      store.withColumn("_isb", lit(false))
        .unionByName(batch.withColumn("_isb", lit(true))), coarse)
    val a = withD.where(col("_isb"))
      .select(col("cell"), col("vec_id").as("id_a"), col("v").as("va"),
        col("nrm").as("na"), col("d2c").as("da"))
    val b = withD.select(col("cell"), col("vec_id").as("id_b"),
      col("v").as("vb"), col("nrm").as("nb"), col("d2c").as("db"),
      col("_isb").as("_bb"))
    val newDrops = a.join(b, "cell")
      .where((!col("_bb") || col("id_a") < col("id_b")) &&
        col("id_a") =!= col("id_b"))
      .where(ArrayKernels.dotFast(col("va"), col("vb")) /
        (col("na") * col("nb")) >= tau)
      .select(when(col("da") > col("db"), col("id_b"))
        .when(col("da") < col("db"), col("id_a"))
        .otherwise(greatest(col("id_a"), col("id_b"))).as("vec_id"))
    val allDrops = priorDrops.select(col("vec_id"))
      .unionByName(newDrops).distinct()
    withD.join(allDrops, Seq("vec_id"), "left_anti")
      .select(col("vec_id"), col("cell"), col("d2c"))
  }

  /** Multi-probe IVF top-k: each query searches its `nprobe` nearest
    * coarse cells instead of only its own — the standard recall lever
    * (README round-1 gap). Probe selection ranks cells by (squared
    * distance, cid); cells partition the corpus so candidates never
    * duplicate. Cost scales linearly with nprobe, shape stays
    * broadcast-join + per-group top-k.
    */
  def ivfTopKMulti(
      embDf: DataFrame, coarse: Seq[CentroidND], nQueries: Int, k: Int,
      nprobe: Int): DataFrame = {
    val joined = probedScored(embDf, coarse, nQueries, nprobe)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos5").desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("cell"), col("rk"), col("vec_id"), col("cos5"))
  }

  /** The shared multi-probe candidate stage of [[ivfTopKMulti]] and
    * [[hardNegatives]]: each query's `nprobe` nearest coarse cells'
    * members, scored with the 5-dp rounded cosine.
    */
  private def probedScored(embDf: DataFrame, coarse: Seq[CentroidND],
      nQueries: Int, nprobe: Int): DataFrame = {
    val celled = Assign.withNearestND(withNorm(embDf), col("v"), coarse, "cell")
    val probes = probeCells(withNorm(embDf).where(col("vec_id") < nQueries), coarse, nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))
    broadcast(probes)
      .join(celled.select(col("vec_id"), col("v"), col("nrm"), col("cell")), Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos5", rnd5(
        ArrayKernels.dotFast(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
  }

  /** ANCE-style hard-negative mining (Xiong et al. 2021,
    * arXiv:2007.00808 — contrastive negatives mined from the ANN index,
    * not sampled at random): for each anchor, the top-`k` candidates
    * from its `nprobe` nearest cells whose cosine lies in [lo, hi) —
    * close enough to be informative, below the near-positive band. The
    * band filters BEFORE the rank (the k survivors are the hardest
    * in-band negatives); determinism is the cos5/vec_id ranking
    * contract. Cost is the multi-probe candidate stage — the mining
    * pass a contrastive training pipeline runs per anchor batch.
    */
  def hardNegatives(embDf: DataFrame, coarse: Seq[CentroidND],
      nQueries: Int, k: Int, nprobe: Int, lo: Double, hi: Double): DataFrame = {
    val joined = probedScored(embDf, coarse, nQueries, nprobe)
      .where(col("cos5") >= lo && col("cos5") < hi)
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos5").desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"), col("cos5"))
  }

  /** Multi-table LSH near-dup pairs: T independent plane sets, candidate
    * pairs unioned across tables then deduped before scoring — the
    * standard LSH amplification (recall 1-(1-p)^T for per-table
    * collision probability p; README round-1 gap). Scoring touches each
    * surviving pair once.
    */
  def nearPairsLshMulti(
      embDf: DataFrame, tables: Seq[Seq[Array[Double]]], tau: Double): DataFrame = {
    val n = withNorm(embDf).cache()
    val candParts = tables.map { planes =>
      val bucketed = n.withColumn("bucket", bucketExpr(col("v"), planes))
      val a = bucketed.select(col("bucket"), col("vec_id").as("id_a"))
      val b = bucketed.select(col("bucket"), col("vec_id").as("id_b"))
      a.join(b, "bucket").where(col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"))
    }
    val cand = candParts.reduce(_ unionAll _).distinct()
    val va = n.select(col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
    val vb = n.select(col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
    val out = cand.join(va, "id_a").join(vb, "id_b")
      .withColumn("cos", ArrayKernels.dotFast(col("va"), col("vb")) / (col("na") * col("nb")))
      .where(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), rnd5(col("cos")).as("cos5"))
    val res = out.localCheckpoint(true)
    n.unpersist()
    res
  }

  /** Per-subspace PQ encoding: adds `outPrefix0..outPrefix{M-1}` code
    * columns, each the `Assign.withNearestND` argmin of the subspace
    * slice of `vCol` over that subspace's codebook (staged distances,
    * `least`, lowest-cid tie-break).
    */
  private[graft] def withPqCodes(df: DataFrame, vCol: String,
      books: Seq[Seq[CentroidND]], subDim: Int, outPrefix: String): DataFrame =
    books.zipWithIndex.foldLeft(df) { case (coded, (codes, s)) =>
      Assign.withNearestND(coded, slice(col(vCol), s * subDim + 1, subDim), codes, s"$outPrefix$s")
    }

  /** Each row of `q` once per its `nprobe` nearest coarse cells, ranked
    * by (squared distance of `v`, cid), as column `cell`; the distances
    * are staged as named columns and dropped.
    */
  private def probeCells(q: DataFrame, coarse: Seq[CentroidND], nprobe: Int): DataFrame = {
    val dists = Assign.distances(col("v"), coarse)
    val probeArr = sort_array(array(dists.map { case (cid, _) =>
      struct(col(s"_cd$cid").as("d"), lit(cid).as("c")) }: _*))
    q.select(col("*") +: dists.map { case (cid, d) => d.as(s"_cd$cid") }: _*)
      .withColumn("_p", explode(slice(probeArr, 1, nprobe)))
      .select(q.columns.toSeq.map(col) :+ col("_p.c").as("cell"): _*)
  }

  /** Adds the M ADC lookup tables `dt0..dt{M-1}` of the vector `vCol`:
    * `dt$s` holds the exact squared distances of its `s`-th subspace
    * slice to that codebook's entries, in ascending cid.
    */
  private def withAdcTables(q: DataFrame, vCol: String,
      books: Seq[Seq[CentroidND]], subDim: Int): DataFrame =
    books.zipWithIndex.foldLeft(q) { case (acc, (codes, s)) =>
      acc.withColumn(s"dt$s", array(Assign.distances(
        slice(col(vCol), s * subDim + 1, subDim), codes).map(_._2): _*))
    }

  /** Product-quantization top-k via asymmetric distance computation
    * (ADC) — the compressed-corpus ANN path: each corpus vector is
    * encoded as M small code ids (here 4 × 3 bits); each query
    * precomputes an M×K table of exact subspace distances to every code;
    * a pair's approximate distance is then M table lookups + adds. The
    * corpus scan touches ONLY codes — at 100 TB the quantized corpus is
    * ~16 bytes/vector instead of 256, and the scan is memory-bandwidth
    * bound on codes, not floats.
    *
    * Encoding is the same staged argmin shape as k-means assignment
    * (per-subspace distance columns → least → first-match CASE).
    */
  def pqTopK(
      embDf: DataFrame, books: Seq[Seq[CentroidND]], nQueries: Int,
      k: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.vec.length
    val n = withNorm(embDf)

    // corpus side: M code columns (argmin per subspace, staged)
    val coded = withPqCodes(n.select(col("vec_id"), col("v")), "v",
      books, subDim, "cell")
    val corpus = coded.select(col("vec_id") +:
      (0 until m).map(s => col(s"cell$s")): _*)

    // query side: exact subvectors + the M×K ADC lookup tables
    val q = withAdcTables(n.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv")), "qv", books, subDim)
    val queries = q.select(col("qid") +: (0 until m).map(s => col(s"dt$s")): _*)

    // ADC scan: per (query, corpus) pair, M lookups + adds
    val adc = (0 until m)
      .map(s => element_at(col(s"dt$s"), col(s"cell$s") + 1))
      .reduce(_ + _)
    val joined = broadcast(queries).crossJoin(corpus)
      .where(col("vec_id") =!= col("qid"))
      .withColumn("adc5", rnd5(adc))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc5").asc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("rk"), col("vec_id"), col("adc5"))
  }

  /** IVF+PQ composition — the full-production ANN shape: IVF cells
    * restrict WHICH vectors each query compares (nprobe nearest cells),
    * PQ codes decide HOW each comparison is priced (M table lookups on
    * the compressed representation). The corpus carries one cell id + M
    * code ids per vector; the scan never touches the original floats.
    */
  def ivfPqTopK(
      embDf: DataFrame, coarse: Seq[CentroidND], books: Seq[Seq[CentroidND]],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.vec.length
    val n = embDf.select(col("vec_id"), col("v"))

    // corpus: IVF cell + M PQ codes
    val coded = withPqCodes(
      Assign.withNearestND(n, col("v"), coarse, "cell"), "v", books, subDim, "code")
    val corpus = coded.select(col("vec_id") +: col("cell") +:
      (0 until m).map(s => col(s"code$s")): _*)

    // queries: nprobe nearest cells + ADC tables
    val q = withAdcTables(probeCells(n.where(col("vec_id") < nQueries), coarse, nprobe)
      .select(col("vec_id").as("qid"), col("v").as("qv"), col("cell")), "qv", books, subDim)
    val probes = q.select(col("qid") +: col("cell") +:
      (0 until m).map(s => col(s"dt$s")): _*)
    ivfPqServe(corpus, probes, m, k)
  }

  /** Broadcast-model IVF+PQ — the PRODUCTION shape of [[ivfPqTopK]].
    *
    * The literal form inlines centroids/codebooks into the plan (CASE
    * chains + literal arrays): ideal for the oracle and fine at demo
    * sizes, but at production nlist ≥ 1024 the inlined argmin blows up
    * analysis/codegen (measured ~1.3 s planning per inlined K=8 argmin
    * — see the build playbook). Here the model is DATA, not plan:
    *
    *  - one tiny model table (s = −1 rows: coarse cells, distance over
    *    the full vector; s ≥ 0 rows: subspace codebooks, distance over
    *    the s-th slice) broadcast once;
    *  - corpus cell + M codes from ONE broadcast join + ONE
    *    map-side-combined groupBy: `min(struct(d, id))` is the strict-<
    *    lowest-id argmin, partial-aggregated to one row per vector
    *    before the (corpus-sized) shuffle;
    *  - per-query ADC tables assembled with array_sort(collect_list),
    *    probe cells by row_number over the broadcast cell table.
    *
    * Plan size is now independent of nlist/M·K, and the output is
    * bit-identical to [[ivfPqTopK]] (same distance kernels over the
    * same doubles, same tie-breaks, same ADC summation order) — pinned
    * by RecallSpec and by sharing the literal form's oracle SQL.
    */
  def ivfPqTopKBroadcast(
      embDf: DataFrame, coarse: Seq[CentroidND], books: Seq[Seq[CentroidND]],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val corpus = ivfPqEncodeBroadcast(embDf, coarse, books)
    val queries = ivfPqQueriesBroadcast(
      embDf.where(col("vec_id") < nQueries), coarse, books, nprobe)
    ivfPqServe(corpus, queries, books.length, k)
  }

  /** The (s, mcid, mvec) model table shared by the broadcast IVF+PQ
    * pieces: s = −1 rows are the coarse cells, s ≥ 0 rows the
    * subspace codebooks.
    */
  private def pqModelDf(embDf: DataFrame, coarse: Seq[CentroidND],
      books: Seq[Seq[CentroidND]]): DataFrame = {
    val spark = embDf.sparkSession
    import spark.implicits._
    (coarse.sortBy(_.cid).map(c => (-1, c.cid, c.vec.toSeq)) ++
      (for { s <- books.indices; c <- books(s).sortBy(_.cid) }
        yield (s, c.cid, c.vec.toSeq))).toDF("s", "mcid", "mvec")
  }

  /** Broadcast-model IVF+PQ corpus ENCODE — the ingest half of the
    * compressed ANN store (`sim_ann_incremental_pq`): cell + M code
    * ids per vector from ONE broadcast model join + ONE
    * map-side-combined `min(struct(d, id))` argmin. The output row is
    * the postings-store shape (cell, vec_id, code0..code{M-1}) — a few
    * SMALL INTS per vector; the original floats never enter the store.
    */
  def ivfPqEncodeBroadcast(embDf: DataFrame, coarse: Seq[CentroidND],
      books: Seq[Seq[CentroidND]]): DataFrame = {
    val m = books.length
    val subDim = books.head.head.vec.length
    val model = pqModelDf(embDf, coarse, books)
    val n = embDf.select(col("vec_id"), col("v"))
    val dist = when(col("s") === -1,
        ArrayKernels.distSqFast(col("v"), col("mvec")))
      .otherwise(ArrayKernels.distSqFast(
        slice(col("v"), col("s") * lit(subDim) + lit(1), lit(subDim)), col("mvec")))
    n.crossJoin(broadcast(model)).withColumn("d", dist)
      .groupBy(col("vec_id"))
      .agg(
        min(when(col("s") === -1, struct(col("d"), col("mcid"))))
          .getField("mcid").as("cell"),
        (0 until m).map(s =>
          min(when(col("s") === s, struct(col("d"), col("mcid"))))
            .getField("mcid").as(s"code$s")): _*)
      .select(col("cell") +: col("vec_id") +:
        (0 until m).map(s => col(s"code$s")): _*)
  }

  /** Broadcast-model IVF+PQ QUERY side: per query vector, the nprobe
    * nearest cells (row_number over the broadcast cell table) joined
    * with the M×K ADC lookup tables (array_sort(collect_list)) —
    * (qid, cell, dt0..dt{M-1}), one row per probe.
    */
  def ivfPqQueriesBroadcast(qDf: DataFrame, coarse: Seq[CentroidND],
      books: Seq[Seq[CentroidND]], nprobe: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.vec.length
    val model = pqModelDf(qDf, coarse, books)
    val q = qDf.select(col("vec_id"), col("v"))
    val cellsDf = model.where(col("s") === -1)
      .select(col("mcid").as("pcell"), col("mvec").as("cvec"))
    val probes = q.crossJoin(broadcast(cellsDf))
      .withColumn("cd", ArrayKernels.distSqFast(col("v"), col("cvec")))
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cd"), col("pcell"))))
      .where(col("prk") <= nprobe)
      .select(col("vec_id").as("qid"), col("pcell").as("cell"))
    val bookDf = model.where(col("s") >= 0)
    val dts = q.crossJoin(broadcast(bookDf))
      .withColumn("dt", ArrayKernels.distSqFast(
        slice(col("v"), col("s") * lit(subDim) + lit(1), lit(subDim)), col("mvec")))
      .groupBy(col("vec_id"))
      .agg(
        transform(array_sort(collect_list(
          when(col("s") === 0, struct(col("mcid"), col("dt"))))),
          e => e.getField("dt")).as("dt0"),
        (1 until m).map(s =>
          transform(array_sort(collect_list(
            when(col("s") === s, struct(col("mcid"), col("dt"))))),
            e => e.getField("dt")).as(s"dt$s")): _*)
      .withColumnRenamed("vec_id", "qid")
    probes.join(dts, "qid")
  }

  /** ADC top-k serve over an assembled CODED postings index — the
    * compressed twin of [[ivfServe]]: `index` is (cell, vec_id,
    * code0..code{M-1}) rows (persisted store UNIONed with a
    * freshly-encoded batch — append-only; encoding is per-vector
    * independent, so store ∪ batch ≡ a whole-corpus re-encode and
    * serving is batch-split associative, IncrementalSpec-pinned);
    * `queries` comes from [[ivfPqQueriesBroadcast]] and broadcasts
    * against the index scan, M table lookups + adds per candidate.
    */
  def ivfPqServe(index: DataFrame, queries: DataFrame, m: Int,
      k: Int): DataFrame = {
    val adc = (0 until m)
      .map(s => element_at(col(s"dt$s"), col(s"code$s") + 1))
      .reduce(_ + _)
    val joined = broadcast(queries).join(index, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("adc5", rnd5(adc))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("adc5").asc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("cell"), col("rk"), col("vec_id"), col("adc5"))
  }

  /** Residual IVF-PQ: like [[ivfPqTopK]], but PQ codes quantize the
    * RESIDUAL v − centroid(cell) with residual-trained codebooks —
    * residuals concentrate near zero, so the same code budget gives
    * lower distortion (training SSE drops ~6% per subspace on this
    * corpus vs raw-vector codebooks; ResidualSpec pins the inequality).
    * Queries compute their residual per PROBED cell, so the ADC tables
    * are probe-local.
    */
  def ivfPqResidualTopK(
      embDf: DataFrame, coarse: Seq[CentroidND], books: Seq[Seq[CentroidND]],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val m = books.length
    val subDim = books.head.head.vec.length
    val n = embDf.select(col("vec_id"), col("v"))

    // corpus: cell, residual, codes over residual slices
    val coded = withPqCodes(
      Assign.withNearestND(n, col("v"), coarse, "cell")
        .withColumn("r", zip_with(col("v"),
          Assign.centroidOf(col("cell"), coarse), (a, b) => a - b)),
      "r", books, subDim, "code")
    val corpus = coded.select(col("vec_id") +: col("cell") +:
      (0 until m).map(s => col(s"code$s")): _*)

    // queries: nprobe cells, probe-local residual, ADC tables from it
    val q = withAdcTables(probeCells(n.where(col("vec_id") < nQueries), coarse, nprobe)
      .select(col("vec_id").as("qid"), col("cell"),
        zip_with(col("v"), Assign.centroidOf(col("cell"), coarse), (a, b) => a - b).as("qr")),
      "qr", books, subDim)
    val probes = q.select(col("qid") +: col("cell") +:
      (0 until m).map(s => col(s"dt$s")): _*)
    ivfPqServe(corpus, probes, m, k)
  }

  /** Broadcast-model RESIDUAL IVF-PQ — the production shape of
    * [[ivfPqResidualTopK]]. The literal residual form is the worst
    * planning offender in the ladder: centroidOf() inlines a CASE chain
    * per vector COMPONENT (64 × nlist literals). Here the cell's
    * centroid vector arrives by broadcast join and the residual is one
    * zip_with; codes/ADC work exactly as [[ivfPqTopKBroadcast]] but over
    * residual slices. Output is bit-identical to the literal form
    * (RecallSpec) and shares its oracle SQL.
    */
  def ivfPqResidualTopKBroadcast(
      embDf: DataFrame, coarse: Seq[CentroidND], books: Seq[Seq[CentroidND]],
      nQueries: Int, k: Int, nprobe: Int): DataFrame = {
    val spark = embDf.sparkSession
    import spark.implicits._
    val m = books.length
    val subDim = books.head.head.vec.length
    val cellsDf = coarse.sortBy(_.cid).map(c => (c.cid, c.vec.toSeq))
      .toDF("ccid", "cvec")
    val bookDf = (for { s <- books.indices; c <- books(s).sortBy(_.cid) }
      yield (s, c.cid, c.vec.toSeq)).toDF("s", "bcid", "bvec")

    val n = embDf.select(col("vec_id"), col("v"))
    // cell = broadcast-join argmin; keep the winning centroid VECTOR in
    // the same min(struct) so the residual needs no second join
    val celled = n.crossJoin(broadcast(cellsDf))
      .withColumn("cd", ArrayKernels.distSqFast(col("v"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cd"), col("ccid"), col("cvec"))).as("mc"),
        first(col("v")).as("v"))
      .select(col("vec_id"), col("v"), col("mc.ccid").as("cell"),
        zip_with(col("v"), col("mc.cvec"), (a, b) => a - b).as("r"))
    // codes over residual slices: one broadcast join + one combined agg
    val corpus = celled.crossJoin(broadcast(bookDf))
      .withColumn("dd", ArrayKernels.distSqFast(
        slice(col("r"), col("s") * lit(subDim) + lit(1), lit(subDim)), col("bvec")))
      .groupBy(col("vec_id"), col("cell"))
      .agg(
        min(when(col("s") === 0, struct(col("dd"), col("bcid"))))
          .getField("bcid").as("code0"),
        (1 until m).map(s =>
          min(when(col("s") === s, struct(col("dd"), col("bcid"))))
            .getField("bcid").as(s"code$s")): _*)

    // queries: nprobe cells by row_number, probe-local residual from the
    // probed cell's broadcast centroid, ADC tables over it
    val q = n.where(col("vec_id") < nQueries)
    val probes = q.crossJoin(broadcast(cellsDf))
      .withColumn("cd", ArrayKernels.distSqFast(col("v"), col("cvec")))
      .withColumn("prk", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("cd"), col("ccid"))))
      .where(col("prk") <= nprobe)
      .select(col("vec_id").as("qid"), col("ccid").as("cell"),
        zip_with(col("v"), col("cvec"), (a, b) => a - b).as("qr"))
    val queries = probes.crossJoin(broadcast(bookDf))
      .withColumn("dt", ArrayKernels.distSqFast(
        slice(col("qr"), col("s") * lit(subDim) + lit(1), lit(subDim)), col("bvec")))
      .groupBy(col("qid"), col("cell"))
      .agg(
        transform(array_sort(collect_list(
          when(col("s") === 0, struct(col("bcid"), col("dt"))))),
          e => e.getField("dt")).as("dt0"),
        (1 until m).map(s =>
          transform(array_sort(collect_list(
            when(col("s") === s, struct(col("bcid"), col("dt"))))),
            e => e.getField("dt")).as(s"dt$s")): _*)
    ivfPqServe(corpus, queries, m, k)
  }

  /** Broadcast-table IVF cell assignment — the ingest half of
    * incremental ANN: each vector's nearest coarse cell via ONE
    * broadcast join against the (cid, centroid) model table + ONE
    * map-side-combined `min(struct(d, cid))` argmin (strict-<,
    * lowest-cid ties — bit-identical to the literal
    * Assign.withNearestND chain, the `sim_ivf_pq_bt` discipline).
    * Returns (cell, vec_id, v, nrm) — the postings-row shape
    * [[ivfServe]] consumes and StagedLayouts persists bucketed by
    * cell. Plan size is independent of nlist; the assignment is a
    * narrow scan + broadcast at any batch volume.
    */
  def ivfAssignBroadcast(embDf: DataFrame, coarse: Seq[CentroidND]): DataFrame = {
    val spark = embDf.sparkSession
    import spark.implicits._
    val cellsDf = coarse.sortBy(_.cid).map(c => (c.cid, c.vec.toSeq))
      .toDF("ccid", "cvec")
    withNorm(embDf).crossJoin(broadcast(cellsDf))
      .withColumn("cd", ArrayKernels.distSqFast(col("v"), col("cvec")))
      .groupBy(col("vec_id"))
      .agg(min(struct(col("cd"), col("ccid"))).getField("ccid").as("cell"),
        first(col("v")).as("v"), first(col("nrm")).as("nrm"))
      .select(col("cell"), col("vec_id"), col("v"), col("nrm"))
  }

  /** Top-k cosine serve over an assembled IVF postings index — the
    * query half of incremental ANN ingest (`sim_ann_incremental`):
    * `index` is (cell, vec_id, v, nrm) rows (persisted store UNIONed
    * with a freshly-assigned batch — append-only, never rebuilt;
    * assignment is per-vector independent, so store ∪ batch equals the
    * whole-corpus index by construction and serving is batch-split
    * associative, IncrementalSpec-pinned); `queries` is (cell, qid,
    * qv, qnrm) probe rows, broadcast against the index scan so the
    * store side needs NO exchange whatever its volume (the
    * dedup_incremental probe discipline). Ranking is the
    * (5-dp-rounded cosine, vec_id) contract shared by the whole
    * `sim_*` family.
    */
  def ivfServe(index: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val joined = broadcast(queries).join(index, Seq("cell"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos5", rnd5(
        ArrayKernels.dotFast(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos5").desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("cell"), col("rk"), col("vec_id"), col("cos5"))
  }

  /** ANN top-k: same-bucket candidates only, ranked like [[bruteTopK]].
    * Recall < 1 by construction (LSH), but deterministic: the oracle
    * computes the identical buckets.
    */
  def annTopK(embDf: DataFrame, planes: Seq[Array[Double]], nQueries: Int, k: Int): DataFrame = {
    val bucketed = withNorm(embDf)
      .withColumn("bucket", bucketExpr(col("v"), planes))
    val q = bucketed.where(col("vec_id") < nQueries)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("bucket"))
    val joined = broadcast(q)
      .join(bucketed.select(col("vec_id"), col("v"), col("nrm"), col("bucket")), Seq("bucket"))
      .where(col("vec_id") =!= col("qid"))
      .withColumn("cos5", rnd5(
        ArrayKernels.dotFast(col("qv"), col("v")) / (col("qnrm") * col("nrm"))))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos5").desc, col("vec_id"))
    joined.withColumn("rk", row_number().over(w)).where(col("rk") <= k)
      .select(col("qid"), col("bucket"), col("rk"), col("vec_id"), col("cos5"))
  }
}
