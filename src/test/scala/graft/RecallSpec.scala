package graft

import org.apache.spark.sql.functions._
import graft.operators.Similarity
import graft.queries.SimilarityQueries

/** Recall properties of the ANN recall levers added in round 2:
  * multi-probe IVF candidates strictly contain the nprobe=1 candidates
  * (same quantizer), so its top-k can only improve; multi-table LSH is
  * sound (every emitted pair really clears tau) and its recall against
  * the brute-force truth is at least the single-table recall.
  */
class RecallSpec extends SparkSpec {

  private def q(name: String) = SimilarityQueries.queries(name)(spark, sf)

  test("prototype pruning: exactly floor(n_c/5) per cell, and only the most prototypical") {
    val rows = q("pipeline_prune_prototypes").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2), r.getBoolean(3)))
    assert(rows.nonEmpty)
    assert(rows.exists(_._4), "fixture must prune something")
    rows.groupBy(_._2).foreach { case (cell, ms) =>
      val (pruned, kept) = ms.partition(_._4)
      assert(pruned.length == ms.length / 5,
        s"cell $cell prunes ${pruned.length} of ${ms.length}")
      // rank order: every pruned member is at least as prototypical as
      // every kept one (equality only on rounded-cos ties)
      if (pruned.nonEmpty && kept.nonEmpty)
        assert(pruned.map(_._3).min >= kept.map(_._3).max,
          s"cell $cell pruned a less-prototypical member than one it kept")
    }
  }

  test("hard negatives: in-band, contiguous ranks, and the hardest of the probed band") {
    val got = q("pipeline_hard_negatives").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty, "fixture must yield in-band negatives")
    got.foreach { case (_, _, _, c) =>
      assert(c >= 0.1 && c < 0.5, s"out-of-band negative at cos5=$c") }
    got.groupBy(_._1).foreach { case (qid, ms) =>
      assert(ms.length <= 5)
      assert(ms.map(_._2).sorted.toSeq == (1 to ms.length),
        s"anchor $qid ranks not contiguous")
      // hardness: ranked descending by cos5 (ties ascend by vec_id)
      val byRk = ms.sortBy(_._2).map(m => (m._4, m._3))
      byRk.zip(byRk.tail).foreach { case ((c1, v1), (c2, v2)) =>
        assert(c1 > c2 || (c1 == c2 && v1 < v2)) }
    }
    // the negatives sit strictly below the near-positive region the
    // SemDeDup pass removes (tau = 0.4 < hi is deliberate overlap; the
    // band cap is what separates them from positives at hi = 0.5)
    assert(got.forall(_._4 < 0.5))
  }

  test("multi-probe IVF recall >= single-probe recall against brute-force top-3") {
    val truth = q("sim_topk").where(col("rk") <= 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(name: String): Int =
      q(name).select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(truth).size
    val single = hits("sim_ann_ivf")
    val multi = hits("sim_ann_ivf_mp")
    assert(multi >= single, s"nprobe=2 recall $multi < nprobe=1 recall $single")
    assert(multi > 0)
  }

  test("graph-ANN beam search: recall >= the IVF nprobe=2 rung; bounded candidate budget") {
    val truth = q("sim_topk").where(col("rk") <= 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    def hits(name: String): Int =
      q(name).select("qid", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet.intersect(truth).size
    val graph = hits("sim_ann_graph")
    val ivf2 = hits("sim_ann_ivf_mp")
    assert(graph >= ivf2,
      s"graph-ANN recall $graph below the IVF nprobe=2 rung $ivf2")
    assert(graph > 0)
    // full k rows per query and exactly the bruteTopK output shape
    val rows = q("sim_ann_graph").collect()
    assert(rows.length == 30 && rows.map(_.getLong(0)).distinct.length == 10)
  }

  test("multi-table LSH: sound, and recall >= single-table against brute pairs") {
    val truth = q("sim_near_pairs").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val st = q("sim_near_pairs_lsh").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val mt = q("sim_near_pairs_lsh_mt").select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // soundness: LSH only prunes candidates, never invents pairs
    assert(mt.subsetOf(truth))
    assert((mt & truth).size >= (st & truth).size,
      s"multi-table recall ${(mt & truth).size} < single ${(st & truth).size}")
  }

  test("PQ/ADC: approximate distances track true distances (recall > 0, full k per query)") {
    val truth = q("sim_topk").where(col("rk") <= 3)
      .select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val pq = q("sim_pq_topk").select("qid", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // every query returns exactly k=3 candidates (the scan is exhaustive
    // over codes, so no query can come up short)
    assert(pq.groupBy(_._1).forall(_._2.length == 3))
    assert(pq.toSet.intersect(truth).nonEmpty,
      "PQ found none of the true top-3 - quantizer degenerate?")
  }

  test("PQ corpus encoding is narrow (codes computed without any exchange)") {
    import graft.operators.{Similarity, TrainedPqCodebooks}
    // re-create the corpus-encoding side only: argmin codes per subspace
    val emb = Similarity.emb(spark, sf)
    val coded = Similarity.pqTopK(emb, TrainedPqCodebooks.books, 10, 3)
    val p = plan(coded)
    // the only join is the broadcast of the 10-query table
    assert(p.contains("BroadcastNestedLoopJoin"), s"expected broadcast ADC scan:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"PQ scan must not shuffle the corpus for the join:\n$p")
  }

  test("broadcast-model IVF+PQ matches the literal form exactly, with no literal model in the plan") {
    import graft.operators.TrainedIvfCentroids
    val lit = q("sim_ivf_pq_topk").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    val bt = q("sim_ivf_pq_bt").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(lit.nonEmpty)
    assert(lit.toSeq == bt.toSeq, "broadcast-table IVF+PQ diverged from the literal form")
    // the model rides in a LocalRelation, not in expression literals: a
    // centroid component must appear in the literal plan but NOT in the
    // broadcast-table plan
    val marker = TrainedIvfCentroids.cells.head.vec.head.toString
    assert(plan(q("sim_ivf_pq_topk")).contains(marker))
    assert(!plan(q("sim_ivf_pq_bt")).contains(marker),
      "broadcast-table plan still inlines centroid literals")
  }

  test("broadcast-model residual IVF-PQ matches the literal residual form exactly") {
    val lit = q("sim_ivfpq_residual").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    val bt = q("sim_ivfpq_residual_bt").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getLong(3), r.getDouble(4)))
    assert(lit.nonEmpty && lit.toSeq == bt.toSeq)
    val marker = graft.operators.TrainedResidualPq.books.head.head.vec.head.toString
    assert(!plan(q("sim_ivfpq_residual_bt")).contains(marker),
      "broadcast-table residual plan still inlines codebook literals")
  }

  test("residual PQ quantizes with lower total distortion than raw PQ") {
    import graft.operators._
    import graft.functions.ArrayKernels
    val emb = Similarity.emb(spark, sf)
    val cells = TrainedIvfCentroids.cells.sortBy(_.cid)

    def distortion(vecCol: org.apache.spark.sql.DataFrame, books: Seq[Seq[CentroidND]]): Double = {
      val subDim = books.head.head.vec.length
      val total = books.zipWithIndex.map { case (codes, s) =>
        least(codes.map(c => ArrayKernels.distSqFast(
          slice(col("v"), s * subDim + 1, subDim),
          array(c.vec.toSeq.map(lit(_)): _*))): _*)
      }.reduce(_ + _)
      vecCol.agg(sum(total)).collect().head.getDouble(0)
    }

    val raw = distortion(emb.select(col("v")), TrainedPqCodebooks.books)
    val celled = Assign.withNearestND(emb.select(col("vec_id"), col("v").as("vec")),
      col("vec"), cells, "cluster_id")
    val resid = celled.withColumn("cent",
        cells.foldRight(lit(null).cast("array<double>"): org.apache.spark.sql.Column) {
          (c, rest) => when(col("cluster_id") === c.cid,
            array(c.vec.toSeq.map(lit(_)): _*)).otherwise(rest)
        })
      .select(zip_with(col("vec"), col("cent"), (a, b) => a - b).as("v"))
    val res = distortion(resid, TrainedResidualPq.books)
    assert(res < raw, s"residual distortion $res !< raw $raw")
  }

  test("fuzzy edit profile: min_dist consistent with a brute-force check") {
    val rows = graft.queries.DedupQueries.queries("dedup_fuzzy_edit")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getLong(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (_, nCand, minDist, nAtMin) =>
      assert(nCand >= nAtMin && nAtMin >= 1)
      assert(minDist >= 0 && minDist <= 32)
    }
  }

  test("maxsim with one token degenerates to single-vector brute top-k exactly") {
    import graft.operators.Similarity
    val e = Similarity.emb(spark, sf)
    // nTok = 1: the token IS the whole vector, so score = rnd5(cos) and
    // the ranking contract coincides with bruteTopK's — row-for-row
    val ms = Similarity.maxSimTopK(e, nTok = 1, nQueries = 10, k = 5)
      .select("qid", "rk", "vec_id", "score").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val bt = Similarity.bruteTopK(e, nQueries = 10, k = 5)
      .select("qid", "rk", "vec_id", "cos5").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(ms == bt, s"degenerate maxsim diverged: ${(ms -- bt).take(3)}")
  }

  test("maxsim at 4 tokens: full k per query, self excluded, scores in [-4, 4]") {
    import graft.operators.Similarity
    val got = Similarity.maxSimTopK(Similarity.emb(spark, sf),
      nTok = 4, nQueries = 10, k = 5).collect()
    assert(got.length == 50)
    got.foreach { r =>
      assert(r.getLong(2) != r.getLong(0), "self pair leaked")
      val s = r.getDouble(3)
      assert(s >= -4.0 && s <= 4.0, s"score $s outside [-4, 4]")
    }
  }

  test("semDedup: kept set is dup-free within cells, every dropped vec lost a real pair") {
    import graft.operators.TrainedIvfCentroids
    val emb = Similarity.emb(spark, sf)
    val kept = Similarity.semDedup(emb, TrainedIvfCentroids.cells, tau = 0.4)
    val keptIds = kept.select("vec_id").collect().map(_.getLong(0)).toSet
    val total = emb.count()
    assert(keptIds.nonEmpty && keptIds.size < total,
      s"expected a strict subset kept, got ${keptIds.size} of $total")
    // ground truth: all within-cell dup pairs on the full corpus
    val celled = graft.operators.Assign.withNearestND(
      Similarity.withNorm(emb), col("v"), TrainedIvfCentroids.cells, "cell")
    val a = celled.select(col("cell"), col("vec_id").as("id_a"),
      col("v").as("va"), col("nrm").as("na"))
    val pairs = a.join(celled.select(col("cell"), col("vec_id").as("id_b"),
        col("v").as("vb"), col("nrm").as("nb")), "cell")
      .where(col("id_a") < col("id_b"))
      .where(graft.functions.ArrayKernels.dotFast(col("va"), col("vb")) /
        (col("na") * col("nb")) >= 0.4)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty, "fixture has no within-cell dup pairs - tau degenerate")
    // 1. no dup pair survives with BOTH members kept (the whole point)
    pairs.foreach { case (x, y) =>
      assert(!(keptIds(x) && keptIds(y)),
        s"dup pair ($x, $y) both kept - drop rule failed")
    }
    // 2. every dropped vec really lost at least one pair
    val inPair = pairs.flatMap(p => Seq(p._1, p._2)).toSet
    val dropped = celled.select("vec_id").collect().map(_.getLong(0)).toSet -- keptIds
    assert(dropped.subsetOf(inPair),
      s"vecs dropped without any dup pair: ${(dropped -- inPair).take(5)}")
  }

  test("semDedup at tau above max cosine keeps the whole corpus") {
    import graft.operators.TrainedIvfCentroids
    val emb = Similarity.emb(spark, sf)
    val kept = Similarity.semDedup(emb, TrainedIvfCentroids.cells, tau = 1.01)
    assert(kept.count() == emb.count())
  }

  test("SQ8 quantizer: reconstruction bounded by half a step; report replays driver-side") {
    val got = q("sim_quant_recall").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty && got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    got.foreach { case (qid, nHit, rec, err) =>
      assert(nHit >= 0 && nHit <= 3 && err >= 0L, s"malformed row $qid")
      assert(math.abs(rec - nHit / 3.0) < 1e-6 + 1e-9, s"recall6 drifted at $qid")
    }
    // full driver replay: same quantizer, same asymmetric scoring, same
    // rankings (the ascending-fold dot is the established bit-equal
    // twin of dotFast)
    val vs = Similarity.emb(spark, sf).select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val dim = vs.head._2.length
    val mn = Array.tabulate(dim)(i => vs.map(_._2(i)).min)
    val mx = Array.tabulate(dim)(i => vs.map(_._2(i)).max)
    def dec(x: Array[Double]): Array[Double] = Array.tabulate(dim) { i =>
      val code = if (mx(i) > mn(i))
        math.floor((x(i) - mn(i)) * 255.0 / (mx(i) - mn(i)) + 0.5) else 0.0
      mn(i) + code * (mx(i) - mn(i)) / 255.0
    }
    // reconstruction error is bounded by half a quantization step/dim
    vs.foreach { case (id, v) =>
      val d = dec(v)
      (0 until dim).foreach { i =>
        val step = (mx(i) - mn(i)) / 255.0
        assert(math.abs(v(i) - d(i)) <= step / 2.0 + 1e-12,
          s"vec $id dim $i reconstructs outside half a step")
      }
    }
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until dim).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def r5(x: Double): Double = math.floor(x * 1e5 + 0.5) / 1e5
    val nrm = vs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val dnm = vs.map { case (id, v) => id -> math.sqrt(dot(dec(v), dec(v))) }.toMap
    val decs = vs.map { case (id, v) => id -> dec(v) }.toMap
    val qs = vs.filter(_._1 < 10)
    val expect = qs.map { case (qid, qv) =>
      def rank(score: Long => Double) = vs.map(_._1).filter(_ != qid)
        .map(id => (score(id), id)).sortBy { case (c, id) => (-c, id) }
        .take(3).map(_._2).toSet
      val truthS = vs.filter(_._1 != qid).map { case (id, v) =>
        id -> r5(dot(qv, v) / (nrm(qid) * nrm(id))) }.toMap
      val quantS = vs.filter(_._1 != qid).map { case (id, _) =>
        id -> r5(dot(qv, decs(id)) / (nrm(qid) * dnm(id))) }.toMap
      val tb = rank(truthS)
      val tq = rank(quantS)
      val err = tb.toSeq.map(id =>
        math.abs(math.floor(truthS(id) * 1e5 + 0.5).toLong -
          math.floor(quantS(id) * 1e5 + 0.5).toLong)).sum
      (qid, (tb & tq).size.toLong, err)
    }
    assert(got.map(g => (g._1, g._2, g._4)).toSeq == expect.toSeq,
      s"replay mismatch:\n got=${got.toSeq}\n exp=${expect.toSeq}")
  }

  test("binary quantizer: packed-code Hamming ranking replays driver-side; the 1-bit rung is coarse") {
    val got = q("sim_quant_binary").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(got.nonEmpty && got.map(_._1).toSeq == got.map(_._1).sorted.toSeq)
    got.foreach { case (qid, nHit, rec, h1) =>
      assert(nHit >= 0 && nHit <= 3 && h1 >= 0L && h1 <= 64L,
        s"malformed row $qid")
      assert(math.abs(rec - nHit / 3.0) < 1e-6 + 1e-9, s"recall6 drifted at $qid")
    }
    // full driver replay: same midrange thresholds, same packed long
    // (bit 64 = the sign bit — Long shift wraps to the identical
    // two's-complement value both engines pin), same Hamming ranking
    val vs = Similarity.emb(spark, sf).select("vec_id", "v").collect()
      .map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).sortBy(_._1)
    val dim = vs.head._2.length
    val thr = Array.tabulate(dim) { i =>
      (vs.map(_._2(i)).min + vs.map(_._2(i)).max) / 2.0 }
    def code(v: Array[Double]): Long =
      (0 until dim).foldLeft(0L)((acc, i) =>
        if (v(i) >= thr(i)) acc | (1L << i) else acc)
    val codes = vs.map { case (id, v) => id -> code(v) }.toMap
    def dot(a: Array[Double], b: Array[Double]): Double =
      (0 until dim).foldLeft(0.0)((acc, i) => acc + a(i) * b(i))
    def r5(x: Double): Double = math.floor(x * 1e5 + 0.5) / 1e5
    val nrm = vs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val expect = vs.filter(_._1 < 10).map { case (qid, qv) =>
      val hams = vs.map(_._1).filter(_ != qid)
        .map(id => (java.lang.Long.bitCount(codes(id) ^ codes(qid)).toLong, id))
        .sorted
      val tq = hams.take(3).map(_._2).toSet
      val tb = vs.filter(_._1 != qid)
        .map { case (id, v) => (r5(dot(qv, v) / (nrm(qid) * nrm(id))), id) }
        .sortBy { case (c, id) => (-c, id) }.take(3).map(_._2).toSet
      (qid, (tb & tq).size.toLong, hams.head._1)
    }
    assert(got.map(g => (g._1, g._2, g._4)).toSeq == expect.toSeq,
      s"replay mismatch:\n got=${got.toSeq}\n exp=${expect.toSeq}")
    // the rung genuinely separates from SQ8: one bit per dim flips
    // rankings (recall below 1 somewhere) yet carries signal (a hit
    // exists somewhere)
    assert(got.exists(_._2 < 3L), "binary quantization never flipped a ranking")
    assert(got.exists(_._2 > 0L), "binary quantization carries no signal at all")
  }

  test("recall curve: monotone nondecreasing in nprobe, exact 1.0 at nprobe = nlist") {
    val rows = graft.queries.SimilarityQueries
      .queries("sim_recall_curve")(spark, sf)
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.map(_._1).toSeq == Seq(1, 2, 4, 8))
    // probing more cells can only ADD candidates — recall is monotone
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b._2 >= a._2, s"recall dropped: $a -> $b")
    }
    // nprobe = nlist probes every cell: candidates == the brute set,
    // so the endpoint MUST be exact (the curve self-validates) — and
    // the denominator is the MEASURED truth size, so this holds on any
    // corpus, not just ones carrying all 10 query ids
    assert(rows.last._2 == rows.last._3 && rows.last._4 == 1.0,
      s"full-probe endpoint must equal brute: ${rows.last}")
    assert(rows.last._3 == 30L, "sf0.001 carries all 10 query ids")
  }
}
