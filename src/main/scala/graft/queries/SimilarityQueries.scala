package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.{Similarity, SimilarityDims}
import graft.functions.VecFunctions
import graft.queries.QueryHelpers._

/** Oracle-checked similarity-search queries over `embeddings`.
  *
  * The cosine kernel is the unrolled fixed-dim form whose SQL twin
  * executes the identical IEEE operations in the identical order, so
  * values are bit-exact across engines; outputs still round to 5 dp and
  * rank on (rounded cos, vec_id) for belt-and-braces determinism.
  */
object SimilarityQueries {

  private val D = SimilarityDims.D
  private val planes = Similarity.hyperplanes(nPlanes = 8, dim = D, seed = 13L)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // embedding-cosine near-duplicate pairs (brute-force baseline)
    "sim_near_pairs" -> ((s, dir) =>
      Similarity.nearPairs(Similarity.emb(s, dir), tau = 0.4)
        .orderBy("id_a", "id_b")),

    // exact top-5 neighbors for the 10 query vectors
    "sim_topk" -> ((s, dir) =>
      Similarity.bruteTopK(Similarity.emb(s, dir), nQueries = 10, k = 5)
        .orderBy("qid", "rk")),

    // ColBERT-style late-interaction top-5: 4 token-vectors of 16 dims
    // per stored vector, score = Σ_i max_j cos(q_i, d_j)
    // (Similarity.maxSimTopK scaladoc — the bruteTopK broadcast-scan
    // shape with an nTok² slice-dot interaction matrix)
    "sim_maxsim_topk" -> ((s, dir) =>
      Similarity.maxSimTopK(Similarity.emb(s, dir), nTok = 4,
        nQueries = 10, k = 5)
        .orderBy("qid", "rk")),

    // LSH-bucketed ANN top-3 (8 random hyperplanes, seed 13)
    "sim_ann_lsh" -> ((s, dir) =>
      Similarity.annTopK(Similarity.emb(s, dir), planes, nQueries = 10, k = 3)
        .orderBy("qid", "rk")),

    // near-dup pairs restricted to LSH buckets — the scale path for
    // sim_near_pairs
    "sim_near_pairs_lsh" -> ((s, dir) =>
      Similarity.nearPairsLsh(Similarity.emb(s, dir), planes, tau = 0.4)
        .orderBy("id_a", "id_b")),

    // IVF ANN top-3 (8 TRAINED coarse cells — KMeansND.fit output frozen
    // as literals, see TrainedIvfCentroids — nprobe=1; quantizer = the
    // k-means assignment kernel)
    "sim_ann_ivf" -> ((s, dir) =>
      Similarity.ivfTopK(Similarity.emb(s, dir), coarse, nQueries = 10, k = 3)
        .orderBy("qid", "rk")),

    // graph-based ANN serving (GraphAnn scaladoc: HNSW-lite — a staged
    // exact-kNN graph walked by fixed-round beam search from hash-
    // spread entry seeds, deterministic candidate cap). RecallSpec
    // pins recall ≥ the IVF nprobe=2 rung at matched k.
    "sim_ann_graph" -> ((s, dir) =>
      graft.operators.GraphAnn.beamSearch(Similarity.emb(s, dir),
        graft.sources.StagedLayouts.annGraphEdges(s, dir, g = AnnGraphG),
        nQueries = 10, beam = AnnGraphBeam, rounds = AnnGraphRounds, k = 3,
        entries = AnnGraphEntries)),

    // multi-probe IVF (nprobe=2): each query searches its 2 nearest
    // cells — the recall lever over sim_ann_ivf
    "sim_ann_ivf_mp" -> ((s, dir) =>
      Similarity.ivfTopKMulti(Similarity.emb(s, dir), coarse,
          nQueries = 10, k = 3, nprobe = 2)
        .orderBy("qid", "rk")),

    // multi-table LSH amplification (3 independent 6-plane tables,
    // candidates unioned then deduped) — the recall lever over
    // sim_near_pairs_lsh
    "sim_near_pairs_lsh_mt" -> ((s, dir) =>
      Similarity.nearPairsLshMulti(Similarity.emb(s, dir), mtPlanes, tau = 0.4)
        .orderBy("id_a", "id_b")),

    // product-quantization ADC top-3: corpus as 4×3-bit codes, per-query
    // distance lookup tables — the compressed-corpus ANN path
    "sim_pq_topk" -> ((s, dir) =>
      Similarity.pqTopK(Similarity.emb(s, dir),
          graft.operators.TrainedPqCodebooks.books, nQueries = 10, k = 3)
        .orderBy("qid", "rk")),

    // IVF+PQ composition: nprobe=2 cells select candidates, ADC prices
    // them — the full-production ANN stack
    "sim_ivf_pq_topk" -> ((s, dir) =>
      Similarity.ivfPqTopK(Similarity.emb(s, dir),
          graft.operators.TrainedIvfCentroids.cells,
          graft.operators.TrainedPqCodebooks.books,
          nQueries = 10, k = 3, nprobe = 2)
        .orderBy("qid", "rk")),

    // broadcast-model IVF+PQ: same answer as sim_ivf_pq_topk (shares its
    // oracle SQL) but the centroids/codebooks are a broadcast TABLE, not
    // plan literals — the shape that still plans at nlist >= 1024
    "sim_ivf_pq_bt" -> ((s, dir) =>
      Similarity.ivfPqTopKBroadcast(Similarity.emb(s, dir),
          graft.operators.TrainedIvfCentroids.cells,
          graft.operators.TrainedPqCodebooks.books,
          nQueries = 10, k = 3, nprobe = 2)
        .orderBy("qid", "rk")),

    // residual IVF-PQ: codes quantize v − centroid(cell) with
    // residual-trained codebooks (lower distortion at the same code
    // budget — the last step of the ANN ladder)
    "sim_ivfpq_residual" -> ((s, dir) =>
      Similarity.ivfPqResidualTopK(Similarity.emb(s, dir),
          graft.operators.TrainedIvfCentroids.cells,
          graft.operators.TrainedResidualPq.books,
          nQueries = 10, k = 3, nprobe = 2)
        .orderBy("qid", "rk")),

    // broadcast-model residual IVF-PQ: same answer as sim_ivfpq_residual
    // (shares its oracle), centroids/codebooks as broadcast tables and
    // the residual via zip_with against the joined centroid vector —
    // the literal form's worst planning cost (a CASE chain per vector
    // component) gone
    "sim_ivfpq_residual_bt" -> ((s, dir) =>
      Similarity.ivfPqResidualTopKBroadcast(Similarity.emb(s, dir),
          graft.operators.TrainedIvfCentroids.cells,
          graft.operators.TrainedResidualPq.books,
          nQueries = 10, k = 3, nprobe = 2)
        .orderBy("qid", "rk")),

    // incremental ANN ingest (Similarity.ivfServe scaladoc — the sim_*
    // twin of dedup_incremental): the embedding prefix (vec_id ≤
    // 4/5·max) is persisted ONCE as a cell-bucketed IVF postings store
    // (StagedLayouts.ivfPostingsStore); the new batch assigns itself
    // via the broadcast centroid table, appends (a union — the store
    // is never rebuilt), and the 10 smallest batch ids serve top-3
    // over store∪batch. Oracle = whole-corpus IVF recompute that
    // never sees the split (the dedup_incremental discipline);
    // IncrementalSpec pins batch-split associativity.
    "sim_ann_incremental" -> ((s, dir) => {
      val (tbl, thr) = graft.sources.StagedLayouts.ivfPostingsStore(s, dir)
      val batch = Similarity.ivfAssignBroadcast(
        Similarity.emb(s, dir).where(col("vec_id") > thr), coarse)
      val index = s.table(tbl).unionByName(batch)
      val q = batch.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cell"))
      Similarity.ivfServe(index, q, k = 3).orderBy("qid", "rk")
    }),

    // the COMPRESSED incremental ANN (Similarity.ivfPqServe scaladoc):
    // the postings store holds PQ codes, not floats
    // (StagedLayouts.ivfPqPostingsStore — a few small ints/vector at
    // any corpus size); the batch encodes itself via the broadcast
    // model and appends; serve is ADC over store∪batch with the query
    // tables broadcast. Oracle = whole-corpus IVF+PQ recompute with
    // the batch-head query set (never sees the split).
    "sim_ann_incremental_pq" -> ((s, dir) => {
      val (tbl, thr) = graft.sources.StagedLayouts.ivfPqPostingsStore(s, dir)
      val books = graft.operators.TrainedPqCodebooks.books
      val batchRaw = Similarity.emb(s, dir).where(col("vec_id") > thr)
      val index = s.table(tbl).unionByName(
        Similarity.ivfPqEncodeBroadcast(batchRaw, coarse, books))
      val queries = Similarity.ivfPqQueriesBroadcast(
        batchRaw.orderBy("vec_id").limit(10), coarse, books, nprobe = 2)
      Similarity.ivfPqServe(index, queries, books.length, k = 3)
        .orderBy("qid", "rk")
    }),

    // store-lifecycle DELETE for ANN serving (StoreLifecycle scaladoc):
    // taken-down vectors must vanish from the index. The tombstone
    // table (the deterministic ≡3 mod 7 prefix slice — denser than the
    // doc set, measured to actually flip top-3 lists) anti-joins the
    // postings store at serve time; the batch appends as usual. Oracle
    // = the whole-corpus IVF recompute where tombstoned vecs never
    // enter the candidate side (queries are batch-head, never
    // tombstoned) — logical deletion ≡ an index that never ingested
    // them.
    "sim_ann_delete" -> ((s, dir) => {
      val (tbl, thr) = graft.sources.StagedLayouts.ivfPostingsStore(s, dir)
      val embDf = Similarity.emb(s, dir)
      val tomb = embDf.where(
        graft.operators.StoreLifecycle.tombstonedVecs(col("vec_id"), thr))
      val batch = Similarity.ivfAssignBroadcast(
        embDf.where(col("vec_id") > thr), coarse)
      val index = graft.operators.StoreLifecycle
        .applyTombstones(s.table(tbl), tomb, "vec_id")
        .unionByName(batch)
      val q = batch.orderBy("vec_id").limit(10)
        .select(col("vec_id").as("qid"), col("v").as("qv"),
          col("nrm").as("qnrm"), col("cell"))
      Similarity.ivfServe(index, q, k = 3).orderBy("qid", "rk")
    }),

    // delete + COMPACTION on the compressed store — the PQ postings
    // store grows fastest per append in production (codes per vector,
    // many batches), so it gets the physical pass: tombstones folded
    // in copy-on-write, one file per cell bucket
    // (StagedLayouts.ivfPqStoreCompacted), ADC serve unchanged over
    // compacted-store ∪ batch. Oracle = the whole-corpus IVF+PQ
    // recompute minus tombstoned candidates — compaction must change
    // layout, never answers.
    "sim_ann_delete_pq" -> ((s, dir) => {
      val (ctbl, thr) = graft.sources.StagedLayouts.ivfPqStoreCompacted(s, dir)
      val books = graft.operators.TrainedPqCodebooks.books
      val batchRaw = Similarity.emb(s, dir).where(col("vec_id") > thr)
      val index = s.table(ctbl).unionByName(
        Similarity.ivfPqEncodeBroadcast(batchRaw, coarse, books))
      val queries = Similarity.ivfPqQueriesBroadcast(
        batchRaw.orderBy("vec_id").limit(10), coarse, books, nprobe = 2)
      Similarity.ivfPqServe(index, queries, books.length, k = 3)
        .orderBy("qid", "rk")
    }),

    // self-measuring ANN quality: recall@3 of the IVF path against the
    // brute-force truth, per query, in ONE plan — the recall dashboard
    // a production ANN deployment tracks continuously (RecallSpec pins
    // the same property test-side; this registers it as a QUERY so the
    // number itself is oracle-gated). n_hit is an exact integer; the
    // recall fraction is one deterministic division, 6-dp rounded.
    "sim_recall_report" -> ((s, dir) => {
      val e = Similarity.emb(s, dir)
      val truth = Similarity.bruteTopK(e, nQueries = 10, k = 3)
        .select(col("qid"), col("vec_id"))
      val ann = Similarity.ivfTopK(e, coarse, nQueries = 10, k = 3)
        .select(col("qid").as("aqid"), col("vec_id").as("avid"))
      truth.join(ann,
          truth("qid") === ann("aqid") && truth("vec_id") === ann("avid"),
          "left")
        .groupBy(col("qid"))
        .agg(count(col("avid")).as("n_hit"))
        .withColumn("recall6", rnd(col("n_hit") / lit(3.0), 6))
        .orderBy("qid")
    }),

    // SQ8 scalar quantization + recall/error report — the production
    // ANN memory lever (1 byte/dim vs 8: an 8× store cut, the standard
    // Faiss/Milvus SQ8 codec): per-dimension min/max trained on the
    // corpus (ONE posexplode aggregate, 64 groups), codes
    // floor((x−mn)·255/(mx−mn)+0.5), serving ASYMMETRIC (raw query ·
    // decoded store — the ADC convention). Output per query: recall@3
    // of the quantized ranking vs float truth + the exact INTEGER sum
    // of |cos₅ − cosq₅| over the truth pairs (both cosines 5-dp-rounded
    // to integer u5 first, so the error metric is order-free and
    // hash-exact — no float sum ever crosses engines). Brute scoring is
    // the codec-isolation baseline; at scale the codes ride the IVF
    // bucketed stores (sim_ann_*_pq family) — this query gates the
    // quantizer itself.
    // the 1-BIT rung of the quantization ladder (sim_quant_recall's
    // SQ8 → binary): per-dim MIDRANGE binarization — threshold
    // (mn+mx)/2, exact cross-engine because min/max are accumulation-
    // order-free where a mean is not — with the codes PACKED into one
    // BIGINT (64 dims = 64 bits, the 256×-compression serving layout
    // binary-embedding deployments run) and Hamming serving via
    // bit_count(xor), a single codegen'd integer op per candidate.
    // Output per query: recall@3 of the Hamming top-3 vs the exact
    // cosine truth + the top-1 Hamming distance (integer-exact).
    // Non-vacuity measured before pinning: binary quantization flips
    // rankings at the fixture (recall < 1 for some queries) while
    // others stay perfect — the gate separates the rungs.
    "sim_quant_binary" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // one packed BIGINT holds at most 64 bits: at i = 64 Spark's
      // shiftleft(1L, 63) lands the sign bit correctly, but any i >= 65
      // wraps silently (shift amount mod 64, aliasing onto low bits)
      // while the DuckDB twin's i = 64 special case stops firing — fail
      // loudly on a dimension change instead of desynchronizing engines
      require(D <= 64,
        s"sim_quant_binary packs D=$D dims into one BIGINT; D > 64 would " +
          "wrap shiftleft and silently diverge from the oracle")
      val e = Similarity.emb(s, dir)
      val dims = e.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val thr = dims.agg(expr(
        "transform(sort_array(collect_list(struct(i, (mn + mx) / 2.0 AS t))), s -> s.t)")
        .as("thr"))
      val coded = e.crossJoin(broadcast(thr))
        .withColumn("code", expr(
          s"""aggregate(sequence(1, $D), CAST(0 AS BIGINT), (acc, i) ->
             |  acc | (CASE WHEN element_at(v, i) >= element_at(thr, i)
             |    THEN shiftleft(CAST(1 AS BIGINT), i - 1)
             |    ELSE CAST(0 AS BIGINT) END))""".stripMargin))
        .select(col("vec_id"), col("code"))
        .localCheckpoint(true) // feeds the query side AND the candidates
      val q = coded.where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("code").as("qcode"))
      val jq = broadcast(q).crossJoin(coded)
        .where(col("vec_id") =!= col("qid"))
        .withColumn("ham", expr("CAST(bit_count(code ^ qcode) AS BIGINT)"))
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("ham"), col("vec_id"))
      val tq = jq.withColumn("rk", row_number().over(wq)).where(col("rk") <= 3)
        .select(col("qid").as("aqid"), col("vec_id").as("avid"),
          col("ham"), col("rk"))
        .localCheckpoint(true) // feeds the recall join AND the top-1 pick
      val truth = Similarity.bruteTopK(e, nQueries = 10, k = 3)
        .select(col("qid"), col("vec_id"))
      val hits = truth
        .join(tq, truth("qid") === tq("aqid") && truth("vec_id") === tq("avid"),
          "left")
        .groupBy(col("qid")).agg(count(col("avid")).as("n_hit"))
      hits
        .join(tq.where(col("rk") === 1)
          .select(col("aqid").as("qid"), col("ham").as("h1")), "qid")
        .withColumn("recall6", rnd(col("n_hit") / lit(3.0), 6))
        .select(col("qid"), col("n_hit"), col("recall6"), col("h1"))
        .orderBy("qid")
    }),

    "sim_quant_recall" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val e = Similarity.emb(s, dir)
      val dims = e.select(posexplode(col("v")).as(Seq("i", "x")))
        .groupBy(col("i")).agg(min(col("x")).as("mn"), max(col("x")).as("mx"))
      val qz = dims.agg(
        expr("transform(sort_array(collect_list(struct(i, mn))), s -> s.mn)")
          .as("mns"),
        expr("transform(sort_array(collect_list(struct(i, mx))), s -> s.mx)")
          .as("mxs"))
      val coded = e.crossJoin(broadcast(qz))
        .withColumn("dec", expr(
          s"""transform(sequence(1, $D), i ->
            |  element_at(mns, i) + (CASE
            |    WHEN element_at(mxs, i) > element_at(mns, i)
            |    THEN floor((element_at(v, i) - element_at(mns, i)) * 255.0
            |      / (element_at(mxs, i) - element_at(mns, i)) + 0.5)
            |    ELSE 0.0 END)
            |    * (element_at(mxs, i) - element_at(mns, i)) / 255.0)""".stripMargin))
        .withColumn("dnrm", sqrt(graft.functions.ArrayKernels
          .dotFast(col("dec"), col("dec"))))
        .select(col("vec_id"), col("dec"), col("dnrm"))
      val q = Similarity.withNorm(e).where(col("vec_id") < 10)
        .select(col("vec_id").as("qid"), col("v").as("qv"), col("nrm").as("qnrm"))
      val jq = broadcast(q).crossJoin(coded)
        .where(col("vec_id") =!= col("qid"))
        .withColumn("cosq5", rnd(graft.functions.ArrayKernels
          .dotFast(col("qv"), col("dec")) / (col("qnrm") * col("dnrm")), 5))
        .select(col("qid"), col("vec_id"), col("cosq5"))
        .localCheckpoint(true) // feeds the top-k AND the error join
      val wq = Window.partitionBy(col("qid"))
        .orderBy(col("cosq5").desc, col("vec_id"))
      val tq = jq.withColumn("rk", row_number().over(wq)).where(col("rk") <= 3)
        .select(col("qid").as("aqid"), col("vec_id").as("avid"))
      val truth = Similarity.bruteTopK(e, nQueries = 10, k = 3)
        .select(col("qid"), col("vec_id"),
          floor(col("cos5") * lit(1e5) + lit(0.5)).cast("long").as("c5u"))
      truth
        .join(tq, truth("qid") === tq("aqid") && truth("vec_id") === tq("avid"),
          "left")
        .join(jq.select(col("qid").as("jqid"), col("vec_id").as("jvid"),
            floor(col("cosq5") * lit(1e5) + lit(0.5)).cast("long").as("q5u")),
          truth("qid") === col("jqid") && truth("vec_id") === col("jvid"))
        .groupBy(col("qid"))
        .agg(count(col("avid")).as("n_hit"),
          sum(abs(col("c5u") - col("q5u"))).as("err_u5"))
        .withColumn("recall6", rnd(col("n_hit") / lit(3.0), 6))
        .select(col("qid"), col("n_hit"), col("recall6"), col("err_u5"))
        .orderBy("qid")
    }),

    // the recall-vs-nprobe TUNING CURVE — sim_recall_report generalized
    // from the single nprobe=1 point to the sweep a production ANN
    // deployment actually runs to pick its operating point: total
    // recall@3 over the 10 fixture queries at nprobe 1, 2, 4, 8. The
    // brute truth is computed ONCE (checkpointed) and shared by all
    // four curve points; each point is one multi-probe pass (at corpus
    // scale the celled table is the staged ivfPostingsStore, so the
    // marginal cost per point is probes × cell reads, not re-assignment
    // — here the fixture re-assigns, the dashboard shape is identical).
    // nprobe = nlist (8) probes every cell, so the last point MUST be
    // recall 1.0 — the curve self-validates (RecallSpec pins endpoint
    // and monotonicity).
    "sim_recall_curve" -> ((s, dir) => {
      val e = Similarity.emb(s, dir)
      val truth = Similarity.bruteTopK(e, nQueries = 10, k = 3)
        .select(col("qid"), col("vec_id")).localCheckpoint(true)
      // denominator = the MEASURED truth-set size, not 10·k: a corpus
      // holding fewer than 10 of the query ids (the sampled derived
      // dir keeps 4) must still read recall 1.0 at full probe
      val tcnt = truth.agg(count(lit(1)).as("n_truth"))
      Seq(1, 2, 4, 8).map { np =>
        val ann = Similarity
          .ivfTopKMulti(e, coarse, nQueries = 10, k = 3, nprobe = np)
          .select(col("qid").as("aqid"), col("vec_id").as("avid"))
        truth.join(ann,
            truth("qid") === ann("aqid") && truth("vec_id") === ann("avid"),
            "left")
          .agg(count(col("avid")).as("n_hit"))
          .crossJoin(broadcast(tcnt))
          .select(lit(np).as("nprobe"), col("n_hit"), col("n_truth"),
            rnd(col("n_hit") / col("n_truth"), 6).as("recall6"))
      }.reduce(_ unionByName _).orderBy("nprobe")
    }),

    // cross-extension integration: documents ⋈ embeddings on the shared
    // id space — per (lang, label) count + mean embedding norm (the
    // text↔vector linkage every multimodal corpus needs)
    "sim_doc_embedding_join" -> ((s, dir) => {
      val d = graft.Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      val e = Similarity.withNorm(Similarity.emb(s, dir))
        .select(col("vec_id"), col("label"), col("nrm"))
      d.join(e, d("doc_id") === e("vec_id"))
        .groupBy(col("lang"), col("label"))
        .agg(count(lit(1)).as("n"), rnd(avg(col("nrm")), 5).as("avg_norm"))
        .orderBy("lang", "label")
    }),

    // embedding-cosine near-duplicate DEDUP: LSH-bucketed candidate
    // pairs (cos >= tau), then the keep-lowest-id survivor rule — any
    // document whose embedding near-dups a smaller doc_id is dropped.
    // No broadcast hint on the drop set: on a crawl corpus 30-50% of
    // documents are near-dups, so drops is O(corpus) and a forced
    // broadcast would OOM the driver at scale. AQE picks broadcast when
    // the runtime cardinality is actually small, shuffle anti-join
    // (scale-safe) otherwise.
    "dedup_embedding" -> ((s, dir) => {
      val e = Similarity.emb(s, dir)
      val drops = Similarity.nearPairsLsh(e, planes, tau = 0.4)
        .select(col("id_b").as("vec_id")).distinct()
      val docs = graft.Tables.documents(s, dir).select(col("doc_id"), col("lang"))
      docs.join(e.select(col("vec_id")), docs("doc_id") === col("vec_id"))
        .join(drops, Seq("vec_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // SemDeDup semantic dedup (Similarity.semDedup scaladoc — Abbas et
    // al. 2023): cluster by the trained IVF centroids, near-dup pairs
    // within a cluster only (pair space Σ n_c², measured 4.8× under
    // brute at nlist=8), keep the member FARTHEST from its centroid.
    // The cluster-bucketed sibling of dedup_embedding's LSH bucketing —
    // same tau, different candidate geometry and survivor rule.
    "dedup_semantic" -> ((s, dir) =>
      Similarity.semDedup(Similarity.emb(s, dir), coarse, tau = 0.4)
        .orderBy("vec_id")),

    // SSL-prototypes data PRUNING (Sorscher et al. 2022, "Beyond neural
    // scaling laws", arXiv:2206.14486 — drop the most PROTOTYPICAL
    // examples of every cluster; SemDeDup's companion recipe for
    // "easy"-example removal): prototypicality = cosine to the OWN
    // trained IVF centroid, the top 20% of every cluster flagged.
    // Assignment + the centroid cosine both ride the broadcast
    // centroid TABLE (no literal model in the plan); the corpus
    // shuffles ONCE on cell for the per-cluster rank window; the 20%
    // boundary is the exact integer test 5·rk ≤ n_c with rounded-cos
    // ties broken on vec_id. At 100 TB: one scan, one broadcast join,
    // one keyed window — nlist is the parallelism knob.
    "pipeline_prune_prototypes" -> ((s, dir) => {
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      import graft.functions.ArrayKernels
      val celled = graft.operators.Assign.withNearestND(
        Similarity.withNorm(Similarity.emb(s, dir)), col("v"), coarse, "cell")
      val cellsDf = coarse.sortBy(_.cid).map(c => (c.cid, c.vec.toSeq))
        .toDF("_ccid", "_cvec")
        .select(col("_ccid"), col("_cvec"),
          sqrt(ArrayKernels.dotFast(col("_cvec"), col("_cvec"))).as("_cnrm"))
      val withP = celled.join(broadcast(cellsDf), col("cell") === col("_ccid"))
        .withColumn("proto5", rnd(ArrayKernels.dotFast(col("v"), col("_cvec"))
          / (col("nrm") * col("_cnrm")), 5))
      withP
        .withColumn("rk", row_number().over(Window.partitionBy(col("cell"))
          .orderBy(col("proto5").desc, col("vec_id"))))
        .withColumn("n_c",
          count(lit(1)).over(Window.partitionBy(col("cell"))))
        .select(col("vec_id"), col("cell"), col("proto5"),
          (col("rk") * lit(5L) <= col("n_c")).as("pruned"))
        .orderBy("vec_id")
    }),

    // ANCE-style HARD-NEGATIVE mining (Similarity.hardNegatives
    // scaladoc — Xiong et al. 2021: contrastive negatives come from the
    // ANN index, not random sampling): per anchor, the 5 hardest
    // candidates from its 4 nearest cells inside the semi-hard band
    // cos ∈ [0.1, 0.5) — band density measured BEFORE registration
    // (1101 in-band of 4990 anchor-candidate pairs at sf0.01; the band
    // sits below the 0.4+ near-dup region SemDeDup removes). Same
    // probe staging as sim_ann_ivf_mp; the band filters before the
    // rank.
    "pipeline_hard_negatives" -> ((s, dir) =>
      Similarity.hardNegatives(Similarity.emb(s, dir), coarse,
        nQueries = 10, k = 5, nprobe = 4, lo = 0.1, hi = 0.5)
        .orderBy("qid", "rk")),

    // incremental SemDeDup ingest (Similarity.semDedupIngest scaladoc):
    // the persisted cell-bucketed postings store + the persisted prefix
    // DROP set are yesterday's state; the batch assigns itself via the
    // broadcast centroid table and only pairs TOUCHING the batch are
    // scored (the drop rule is order-free and monotone, so store×store
    // never re-scores). Oracle = the whole-corpus semDedup recompute —
    // it never sees the store/batch split (shares dedup_semantic's SQL).
    "dedup_semantic_incremental" -> ((s, dir) => {
      val (dropsTbl, thr) = graft.sources.StagedLayouts.semDropStore(s, dir)
      val (storeTbl, _) = graft.sources.StagedLayouts.ivfPostingsStore(s, dir)
      val batch = Similarity.ivfAssignBroadcast(
        Similarity.emb(s, dir).where(col("vec_id") > thr), coarse)
      Similarity.semDedupIngest(s.table(storeTbl), batch,
          s.table(dropsTbl), coarse, tau = 0.4)
        .orderBy("vec_id")
    }),

    // DELETE for semantic dedup — the non-monotone one: removing a
    // dup-pair WINNER must RESURRECT its loser (measured on the
    // fixture: deleting vec 191 resurrects 431), so tombstone
    // anti-joins alone are wrong. Candidates never cross cells, so
    // deletes only invalidate decisions in the cells they touch:
    // affected cells re-solve from their live members (the
    // dedup_cluster_delete affected-components discipline — bounded
    // by corpus/nlist per cell), unaffected cells ride the unchanged
    // incremental path (store + prior drops + batch). Oracle = the
    // whole-corpus semDedup recompute that never ingested the
    // tombstoned vectors.
    "dedup_semantic_delete" -> ((s, dir) => {
      val (dropsTbl, thr) = graft.sources.StagedLayouts.semDropStore(s, dir)
      val (storeTbl, _) = graft.sources.StagedLayouts.ivfPostingsStore(s, dir)
      val store = s.table(storeTbl)
      val tombP = graft.operators.StoreLifecycle
        .semTombstonedVecs(col("vec_id"), thr)
      val affCells = store.where(tombP).select(col("cell")).distinct()
      val liveStore = store.where(!tombP)
      val batch = Similarity.ivfAssignBroadcast(
        Similarity.emb(s, dir).where(col("vec_id") > thr), coarse)
      // unaffected cells: the incremental path, decisions untouched
      val keptU = Similarity.semDedupIngest(
        liveStore.join(affCells, Seq("cell"), "left_anti"),
        batch.join(affCells, Seq("cell"), "left_anti"),
        s.table(dropsTbl)
          .join(store.select(col("vec_id"), col("cell")), "vec_id")
          .join(affCells, Seq("cell"), "left_anti")
          .select(col("vec_id")),
        coarse, tau = 0.4)
      // affected cells: re-solve from live members only
      val withDA = Similarity.withCentroidDist(
        liveStore.join(affCells, Seq("cell"), "left_semi")
          .unionByName(batch.join(affCells, Seq("cell"), "left_semi")),
        coarse)
      val keptA = withDA
        .join(Similarity.semDropsAll(withDA, tau = 0.4),
          Seq("vec_id"), "left_anti")
        .select(col("vec_id"), col("cell"), col("d2c"))
      keptU.unionByName(keptA).orderBy("vec_id")
    }),

    // COMPACTION for the semantic-dedup store pair (StagedLayouts
    // .semStoresCompacted scaladoc) — the lifecycle pass r15 missed:
    // tombstones and the resurrections they cause are folded INTO
    // rewritten postings + drop stores (affected cells re-solved from
    // live members, unaffected decisions copied verbatim, one file per
    // bucket restored), and serving becomes the PLAIN incremental
    // ingest again — no tombstone predicate, no affected-cell split
    // anywhere in this query's plan. Must equal the whole-corpus
    // recompute that never ingested the deleted vectors (the same
    // oracle as dedup_semantic_delete: compaction is serve-invisible).
    "dedup_semantic_compact" -> ((s, dir) => {
      val (postTbl, dropTbl, thr) =
        graft.sources.StagedLayouts.semStoresCompacted(s, dir)
      val batch = Similarity.ivfAssignBroadcast(
        Similarity.emb(s, dir).where(col("vec_id") > thr), coarse)
      Similarity.semDedupIngest(s.table(postTbl), batch,
          s.table(dropTbl), coarse, tau = 0.4)
        .orderBy("vec_id")
    }))

  private val coarse = graft.operators.TrainedIvfCentroids.cells

  /** Three independent 6-plane tables for LSH amplification. */
  private val mtPlanes: Seq[Seq[Array[Double]]] =
    Seq(13L, 17L, 19L).map(seed =>
      Similarity.hyperplanes(nPlanes = 6, dim = D, seed = seed))

  // graph-ANN parameters (GraphAnn scaladoc — the single-entry g=4
  // probe was REJECTED by measurement at 3/30 recall): g = 8 neighbors
  // per node, beam 16, 4 rounds, 4 hash-spread entry seeds — measured
  // 30/30 fixture recall at ≤ 233 candidates visited, clearing the IVF
  // nprobe=2 rung (14/30) that RecallSpec pins
  private val AnnGraphG = 8
  private val AnnGraphBeam = 16
  private val AnnGraphRounds = 4
  private val AnnGraphEntries = 4

  // ---- oracle SQL generation ----

  private val embCte =
    "e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),\n" +
      s"en AS MATERIALIZED (SELECT vec_id, v, sqrt(${VecFunctions.dotUnrolledSql("v", "v", SimilarityDims.D)}) AS nrm FROM e)"

  /** cosine with precomputed norms — mirrors Similarity.withNorm exactly */
  private def cosN(a: String, b: String, na: String, nb: String): String =
    s"(${VecFunctions.dotUnrolledSql(a, b, D)}) / ($na * $nb)"

  /** Inline literal-plane dot: v[1]*p1 + v[2]*p2 + … (constant-folded on
    * the Spark side the same way).
    */
  private def planeDotSql(v: String, p: Array[Double]): String =
    p.zipWithIndex.map { case (pv, i) => s"$v[${i + 1}]*${pv}" }.mkString(" + ")

  private def bucketSqlFor(v: String, ps: Seq[Array[Double]]): String =
    ps.zipWithIndex.map { case (p, i) =>
      s"(CASE WHEN (${planeDotSql(v, p)}) >= 0.0 THEN CAST(${1L << i} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  private def bucketSql(v: String): String = bucketSqlFor(v, planes)

  // ---- list-native distance helpers ----
  // The first-generation oracles expanded every per-cell / per-code
  // squared distance as its own wide scalar projection (one 139 KB SQL
  // string for the residual IVF-PQ), which DuckDB plans and buffers so
  // poorly that the PQ family alone cost minutes and, at default thread
  // counts, exhausted its allocator — the prime suspect for the
  // empty driver correctness artifacts of rounds 7-8. These builders
  // instead ship centroids/codebooks as DOUBLE[] VALUES tables and
  // compute each distance as `list_reduce(list_transform(range(...)))`
  // — the identical ascending left-associative IEEE fold (validated
  // bit-equal against the expression form on the fixtures), with a
  // constant-size expression tree.

  private def vecLit(a: Array[Double]): String =
    a.mkString("[", ", ", "]") + "::DOUBLE[]"

  /** `cent(cid INT, cv DOUBLE[])` — the trained coarse cells. */
  private def centCteSql: String =
    "cent AS (SELECT CAST(cid AS INT) AS cid, cv FROM (VALUES\n  " +
      coarse.sortBy(_.cid).map(c => s"(${c.cid}, ${vecLit(c.vec)})")
        .mkString(",\n  ") +
      ") AS t(cid, cv))"

  /** `cb(s INT, cid INT, bv DOUBLE[])` — one row per subspace codeword. */
  private def cbCteSql(books: Seq[Seq[graft.operators.CentroidND]]): String =
    "cb AS (SELECT CAST(s AS INT) AS s, CAST(cid AS INT) AS cid, bv FROM (VALUES\n  " +
      (for { s <- books.indices; c <- books(s).sortBy(_.cid) }
        yield s"($s, ${c.cid}, ${vecLit(c.vec)})").mkString(",\n  ") +
      ") AS t(s, cid, bv))"

  /** Ascending left-fold squared distance `Σ (v[off+i] − c[i])²` —
    * bit-identical to the unrolled `(v[1]-c1)*(v[1]-c1) + …` form.
    */
  private def foldSq(v: String, c: String, n: Int, off: String = "0"): String =
    s"list_reduce(list_transform(range(1, ${n + 1}), " +
      s"i -> ($v[$off + i] - $c[i])*($v[$off + i] - $c[i])), (a, b) -> a + b)"

  /** Ordered ADC total: fold the per-subspace lookup distances in
    * ascending subspace order — the same `dt0 + dt1 + …` float order as
    * the Spark kernel.
    */
  private def adcFold: String =
    "list_reduce(list(d ORDER BY s), (a, b) -> a + b)"

  /** The SemDeDup whole-corpus recompute: identical assignment chain as
    * [[ivfSql]]'s cc (foldSq + row_number over (d, cid)), 5-dp-rounded
    * centroid distance for the keep-farthest rule, ties drop the larger
    * vec_id. Shared verbatim by `dedup_semantic` AND
    * `dedup_semantic_incremental` — the oracle never sees the
    * store/batch split, so incremental equality proves ingest ≡ rebuild.
    */
  /** CTE chain ending in `semdrop(vid)` — the semantic-dedup dropped
    * vec ids — for cross-module composed oracles
    * (PipelineQueries.pipeline_select_e2e). Same assignment + pair +
    * keep-farthest algebra as [[semDedupSqlWith]].
    */
  private[queries] def semDropCtes: String =
    s"""$embCte,
       |$centCteSql,
       |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
       |      FROM en CROSS JOIN cent),
       |cc AS (SELECT vec_id, v, nrm, cid AS cell, ${rndSql("d", 5)} AS d2c FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |        FROM cd) WHERE crk = 1),
       |sp AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.d2c AS da, b.d2c AS db,
       |        a.v AS va, b.v AS vb, a.nrm AS na, b.nrm AS nb
       |      FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |semdrop AS (SELECT DISTINCT CASE WHEN da >= db THEN id_b ELSE id_a END AS vid
       |       FROM sp WHERE ${cosN("va", "vb", "na", "nb")} >= 0.4)""".stripMargin

  // private[queries]: StreamingQueries' stream_semdedup_sink gates the
  // CONTINUOUS ingest against this same whole-corpus recompute
  private[queries] def semDedupSql: String =
    semDedupSqlWith(excludeDeleted = false)

  /** `excludeDeleted` re-derives `dedup_semantic_delete`: tombstoned
    * vectors (≡6 mod 37 within the prefix — StoreLifecycle
    * .semTombstonedVecs) never enter assignment, pairs, or output; the
    * oracle never sees stores, affected cells, or the re-solve split.
    */
  private def semDedupSqlWith(excludeDeleted: Boolean): String = {
    val del = if (excludeDeleted)
      "\n      WHERE NOT (vec_id % 37 = 6 AND vec_id <= (SELECT t FROM sthr))"
    else ""
    val thrCte = if (excludeDeleted)
      "sthr AS (SELECT (max(vec_id) * 4) // 5 AS t FROM embeddings),\n" else ""
    s"""WITH $embCte,
       |$thrCte$centCteSql,
       |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
       |      FROM en CROSS JOIN cent$del),
       |cc AS (SELECT vec_id, v, nrm, cid AS cell, ${rndSql("d", 5)} AS d2c FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |        FROM cd) WHERE crk = 1),
       |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.d2c AS da, b.d2c AS db,
       |        a.v AS va, b.v AS vb, a.nrm AS na, b.nrm AS nb
       |      FROM cc a JOIN cc b ON a.cell = b.cell AND a.vec_id < b.vec_id),
       |dr AS (SELECT DISTINCT CASE WHEN da >= db THEN id_b ELSE id_a END AS vid
       |       FROM p WHERE ${cosN("va", "vb", "na", "nb")} >= 0.4)
       |SELECT vec_id, cell, d2c FROM cc
       |WHERE vec_id NOT IN (SELECT vid FROM dr)
       |ORDER BY vec_id""".stripMargin
  }

  private def ivfSql: String =
    s"""WITH $embCte,
       |$centCteSql,
       |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
       |      FROM en CROSS JOIN cent),
       |cc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |        FROM cd) WHERE crk = 1),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell FROM cc WHERE vec_id < 10),
       |j AS (SELECT q.qid, q.cell, b.vec_id, ${rndSql(cosN("q.qv", "b.v", "q.qnrm", "b.nrm"), 5)} AS cos5
       |      FROM q JOIN cc b USING (cell) WHERE b.vec_id <> q.qid),
       |r AS (SELECT qid, cell, vec_id, cos5,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS INT) AS rk
       |      FROM j)
       |SELECT qid, cell, rk, vec_id, cos5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** `sim_ann_incremental`'s oracle: the whole-corpus IVF recompute —
    * identical assignment/serve chain as [[ivfSql]], queries = the 10
    * smallest vec_ids above the ingest threshold (the batch's head).
    * The oracle never sees the store/batch split; equality proves
    * append-based ingest ≡ full index rebuild.
    */
  private def ivfIncrSql: String = ivfIncrSqlWith(excludeDeleted = false)

  /** `excludeDeleted` re-derives `sim_ann_delete`: tombstoned vecs
    * (≡3 mod 7 within the prefix — StoreLifecycle.tombstonedVecs)
    * never enter the candidate side; queries are the batch head
    * (> thr) so the query set is untouched by construction.
    */
  private def ivfIncrSqlWith(excludeDeleted: Boolean): String = {
    val del = if (excludeDeleted)
      " AND NOT (b.vec_id % 7 = 3 AND b.vec_id <= (SELECT t FROM thr))" else ""
    s"""WITH $embCte,
       |$centCteSql,
       |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
       |      FROM en CROSS JOIN cent),
       |cc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |        FROM cd) WHERE crk = 1),
       |thr AS (SELECT (max(vec_id) * 4) // 5 AS t FROM embeddings),
       |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell FROM cc
       |      WHERE vec_id > (SELECT t FROM thr) ORDER BY vec_id LIMIT 10),
       |j AS (SELECT q.qid, q.cell, b.vec_id, ${rndSql(cosN("q.qv", "b.v", "q.qnrm", "b.nrm"), 5)} AS cos5
       |      FROM q JOIN cc b USING (cell) WHERE b.vec_id <> q.qid$del),
       |r AS (SELECT qid, cell, vec_id, cos5,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS INT) AS rk
       |      FROM j)
       |SELECT qid, cell, rk, vec_id, cos5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
  }

  /** Multi-probe IVF oracle: probe ranking by (d, cid) — the same
    * (d, c) struct order the Spark sort_array uses; d is the identical
    * fold so values are bit-equal.
    */
  private def ivfMpSql: String =
    s"""WITH $embCte,
       |$centCteSql,
       |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
       |      FROM en CROSS JOIN cent),
       |cc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |        FROM cd) WHERE crk = 1),
       |pr AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS pcell,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prk
       |      FROM cd WHERE vec_id < 10),
       |p2 AS (SELECT qid, qv, qnrm, pcell FROM pr WHERE prk <= 2),
       |j AS (SELECT p2.qid, b.cell, b.vec_id,
       |        ${rndSql(cosN("p2.qv", "b.v", "p2.qnrm", "b.nrm"), 5)} AS cos5
       |      FROM p2 JOIN cc b ON b.cell = p2.pcell AND b.vec_id <> p2.qid),
       |r AS (SELECT qid, cell, vec_id, cos5,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS INT) AS rk
       |      FROM j)
       |SELECT qid, cell, rk, vec_id, cos5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin

  /** PQ/ADC oracle: per-subspace argmin encoding of the corpus, per-query
    * code-distance table, ordered ADC fold. Distance terms ascend within
    * each subspace and subspaces sum in order — the exact float order of
    * the Spark kernel.
    */
  private def pqSql: String = {
    val books = graft.operators.TrainedPqCodebooks.books
    val subDim = books.head.head.vec.length
    s"""WITH $embCte,
       |${cbCteSql(books)},
       |cd AS MATERIALIZED (SELECT vec_id, s, cid, ${foldSq("v", "bv", subDim, s"s*$subDim")} AS d
       |      FROM en CROSS JOIN cb),
       |cc AS (SELECT vec_id, s, cid AS code FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS crk
       |        FROM cd) WHERE crk = 1),
       |dt AS (SELECT vec_id AS qid, s, cid, d FROM cd WHERE vec_id < 10),
       |pair AS (SELECT dt.qid, cc.vec_id, dt.s, dt.d
       |      FROM cc JOIN dt ON dt.s = cc.s AND dt.cid = cc.code
       |      WHERE cc.vec_id <> dt.qid),
       |j AS (SELECT qid, vec_id, ${rndSql(adcFold, 5)} AS adc5
       |      FROM pair GROUP BY qid, vec_id),
       |r AS (SELECT qid, vec_id, adc5,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adc5 ASC, vec_id) AS INT) AS rk
       |      FROM j)
       |SELECT qid, rk, vec_id, adc5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
  }

  /** IVF+PQ oracle: coarse assignment + probe ranking (as in ivfMpSql)
    * composed with the PQ encode / query-table CTEs (as in pqSql);
    * candidates join on the probed cell and rank by the ordered ADC fold.
    */
  private def ivfPqSql: String = ivfPqSqlWith()

  /** `sim_ann_incremental_pq`'s oracle: the identical whole-corpus
    * IVF+PQ chain with the batch-head query set — never sees the
    * store/batch split; equality proves coded-append ingest ≡ full
    * re-encode.
    */
  private def ivfPqIncrSql: String = ivfPqSqlWith(
    """SELECT vec_id AS qid FROM en
      |      WHERE vec_id > (SELECT (max(vec_id) * 4) // 5 FROM en)
      |      ORDER BY vec_id LIMIT 10""".stripMargin)

  /** Shared IVF+PQ chain; `qidsCte` selects the query set (default:
    * the 10 smallest vec_ids; the incremental variant takes the batch
    * head above the ingest threshold).
    */
  private def ivfPqSqlWith(
      qidsCte: String = "SELECT vec_id AS qid FROM en WHERE vec_id < 10",
      indexFilter: String = ""): String = {
    val books = graft.operators.TrainedPqCodebooks.books
    val subDim = books.head.head.vec.length
    s"""WITH $embCte,
       |$centCteSql,
       |${cbCteSql(books)},
       |vd AS MATERIALIZED (SELECT vec_id, v, cid, ${foldSq("v", "cv", D)} AS d
       |      FROM en CROSS JOIN cent),
       |asg AS (SELECT vec_id, v, cid AS cell FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |        FROM vd) WHERE crk = 1),
       |code_d AS MATERIALIZED (SELECT vec_id, s, cid, ${foldSq("v", "bv", subDim, s"s*$subDim")} AS d
       |      FROM en CROSS JOIN cb),
       |cc AS (SELECT vec_id, s, cid AS code FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS crk
       |        FROM code_d) WHERE crk = 1),
       |qids AS MATERIALIZED ($qidsCte),
       |pr AS (SELECT vec_id AS qid, cid AS pcell,
       |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prk
       |      FROM vd WHERE vec_id IN (SELECT qid FROM qids)),
       |p2 AS (SELECT qid, pcell FROM pr WHERE prk <= 2),
       |dt AS (SELECT vec_id AS qid, s, cid, d FROM code_d
       |      WHERE vec_id IN (SELECT qid FROM qids)),
       |pair AS (SELECT p2.qid, a.cell, a.vec_id, cc.s, dt.d
       |      FROM p2 JOIN asg a ON a.cell = p2.pcell AND a.vec_id <> p2.qid$indexFilter
       |      JOIN cc ON cc.vec_id = a.vec_id
       |      JOIN dt ON dt.qid = p2.qid AND dt.s = cc.s AND dt.cid = cc.code),
       |j AS (SELECT qid, cell, vec_id, ${rndSql(adcFold, 5)} AS adc5
       |      FROM pair GROUP BY qid, cell, vec_id),
       |r AS (SELECT qid, cell, vec_id, adc5,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adc5 ASC, vec_id) AS INT) AS rk
       |      FROM j)
       |SELECT qid, cell, rk, vec_id, adc5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
  }

  /** Residual IVF-PQ oracle: residual vectors as `list_transform(v − cv)`
    * against the assigned (resp. probed) cell's centroid, PQ encode /
    * query tables over the residual slices, ordered ADC fold. Float order
    * mirrors the Spark kernel term-for-term: (v[k]−cent_k)−code_i inside
    * ascending-index sums.
    */
  private def ivfPqResidualSql: String = {
    val books = graft.operators.TrainedResidualPq.books
    val subDim = books.head.head.vec.length
    val dim = SimilarityDims.D
    s"""WITH $embCte,
       |$centCteSql,
       |${cbCteSql(books)},
       |vd AS MATERIALIZED (SELECT vec_id, v, cid, cv, ${foldSq("v", "cv", dim)} AS d
       |      FROM en CROSS JOIN cent),
       |asg AS (SELECT vec_id, cid AS cell,
       |        list_transform(range(1, ${dim + 1}), k -> v[k] - cv[k]) AS rv
       |      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
       |            FROM vd) WHERE crk = 1),
       |code_d AS MATERIALIZED (SELECT vec_id, cell, s, cid, ${foldSq("rv", "bv", subDim, s"s*$subDim")} AS d
       |      FROM asg CROSS JOIN cb),
       |cc AS (SELECT vec_id, cell, s, cid AS code FROM (
       |        SELECT *, row_number() OVER (PARTITION BY vec_id, s ORDER BY d, cid) AS crk
       |        FROM code_d) WHERE crk = 1),
       |pp AS (SELECT vec_id AS qid, cid AS pcell,
       |        list_transform(range(1, ${dim + 1}), k -> v[k] - cv[k]) AS qr
       |      FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prk
       |            FROM vd WHERE vec_id < 10) WHERE prk <= 2),
       |dt AS (SELECT qid, pcell, s, cid, ${foldSq("qr", "bv", subDim, s"s*$subDim")} AS d
       |      FROM pp CROSS JOIN cb),
       |pair AS (SELECT dt.qid, cc.cell, cc.vec_id, cc.s, dt.d
       |      FROM cc JOIN dt ON dt.pcell = cc.cell AND dt.s = cc.s AND dt.cid = cc.code
       |      WHERE cc.vec_id <> dt.qid),
       |j AS (SELECT qid, cell, vec_id, ${rndSql(adcFold, 5)} AS adc5
       |      FROM pair GROUP BY qid, cell, vec_id),
       |r AS (SELECT qid, cell, vec_id, adc5,
       |        CAST(row_number() OVER (PARTITION BY qid ORDER BY adc5 ASC, vec_id) AS INT) AS rk
       |      FROM j)
       |SELECT qid, cell, rk, vec_id, adc5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin
  }

  private def lshMtSql: String = {
    val bucketCtes = mtPlanes.zipWithIndex.map { case (ps, t) =>
      s"b$t AS (SELECT vec_id, ${bucketSqlFor("v", ps)} AS bucket FROM en)"
    }.mkString(",\n")
    val candUnion = mtPlanes.indices.map(t =>
      s"SELECT a.vec_id AS id_a, b.vec_id AS id_b FROM b$t a JOIN b$t b " +
        "ON a.bucket = b.bucket AND a.vec_id < b.vec_id")
      .mkString("\n  UNION ALL ")
    s"""WITH $embCte,
       |$bucketCtes,
       |cand AS (SELECT DISTINCT id_a, id_b FROM ($candUnion)),
       |sc AS (SELECT id_a, id_b,
       |        ${cosN("a.v", "b.v", "a.nrm", "b.nrm")} AS cos
       |      FROM cand JOIN en a ON a.vec_id = id_a JOIN en b ON b.vec_id = id_b)
       |SELECT id_a, id_b, ${rndSql("cos", 5)} AS cos5
       |FROM sc WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "sim_ann_ivf" -> ivfSql,

    // graph-ANN twin: the identical brute kNN-graph build, then the
    // unrolled fixed beam rounds (expand beam neighbors, union, exact
    // cosine re-rank, keep beam) and the final self-excluded top-k;
    // beam CTEs MATERIALIZED (each feeds the union AND the expansion)
    "sim_ann_graph" -> {
      val rounds = (1 to AnnGraphRounds).map { r =>
        s"""cd$r AS (SELECT DISTINCT qid, cand FROM (
           |  SELECT qid, cand FROM bm${r - 1}
           |  UNION ALL
           |  SELECT b.qid, g.nb AS cand FROM bm${r - 1} b
           |  JOIN gp g ON g.node = b.cand)
           |), sc$r AS (
           |  SELECT c.qid, c.cand,
           |    ${rndSql(cosN("qs.qv", "en.v", "qs.qnrm", "en.nrm"), 5)} AS cos5
           |  FROM cd$r c JOIN en ON en.vec_id = c.cand
           |  JOIN qs ON qs.qid = c.qid
           |), bm$r AS MATERIALIZED (
           |  SELECT qid, cand FROM (
           |    SELECT *, row_number() OVER (
           |      PARTITION BY qid ORDER BY cos5 DESC, cand) AS rk
           |    FROM sc$r) WHERE rk <= $AnnGraphBeam)""".stripMargin
      }.mkString(",\n")
      s"""WITH $embCte,
         |gp AS MATERIALIZED (SELECT node, nb FROM (
         |  SELECT a.vec_id AS node, b.vec_id AS nb,
         |    row_number() OVER (PARTITION BY a.vec_id ORDER BY
         |      ${rndSql(cosN("a.v", "b.v", "a.nrm", "b.nrm"), 5)} DESC,
         |      b.vec_id) AS rk
         |  FROM en a JOIN en b ON b.vec_id <> a.vec_id)
         |  WHERE rk <= $AnnGraphG),
         |qs AS MATERIALIZED (SELECT vec_id AS qid, v AS qv, nrm AS qnrm
         |  FROM en WHERE vec_id < 10),
         |ent AS (SELECT cand FROM (
         |  SELECT vec_id AS cand, md5(CAST(vec_id AS VARCHAR)) AS h
         |  FROM en ORDER BY h, cand LIMIT $AnnGraphEntries)),
         |bm0 AS MATERIALIZED (SELECT qid, cand FROM qs CROSS JOIN ent),
         |$rounds,
         |fin AS (SELECT b.qid, b.cand,
         |    ${rndSql(cosN("qs.qv", "en.v", "qs.qnrm", "en.nrm"), 5)} AS cos5
         |  FROM bm$AnnGraphRounds b JOIN en ON en.vec_id = b.cand
         |  JOIN qs ON qs.qid = b.qid
         |  WHERE b.cand <> b.qid)
         |SELECT qid, CAST(rk AS INT) AS rk, cand AS vec_id, cos5 FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY qid ORDER BY cos5 DESC, cand) AS rk
         |  FROM fin) WHERE rk <= 3
         |ORDER BY qid, rk""".stripMargin
    },
    "sim_ann_incremental" -> ivfIncrSql,
    "sim_ann_incremental_pq" -> ivfPqIncrSql,
    "sim_ann_delete" -> ivfIncrSqlWith(excludeDeleted = true),
    "sim_ann_delete_pq" -> ivfPqSqlWith(
      """SELECT vec_id AS qid FROM en
        |      WHERE vec_id > (SELECT (max(vec_id) * 4) // 5 FROM en)
        |      ORDER BY vec_id LIMIT 10""".stripMargin,
      indexFilter =
        " AND NOT (a.vec_id % 7 = 3 AND a.vec_id <= (SELECT (max(vec_id) * 4) // 5 FROM en))"),
    "sim_ann_ivf_mp" -> ivfMpSql,
    "sim_near_pairs_lsh_mt" -> lshMtSql,
    "sim_pq_topk" -> pqSql,
    "sim_ivf_pq_topk" -> ivfPqSql,
    // the broadcast-table form computes the identical result, so the
    // literal form's oracle pins it too
    "sim_ivf_pq_bt" -> ivfPqSql,
    "sim_ivfpq_residual" -> ivfPqResidualSql,
    "sim_ivfpq_residual_bt" -> ivfPqResidualSql,

    "sim_doc_embedding_join" ->
      s"""WITH $embCte
         |SELECT d.lang, e2.label, count(*) AS n,
         |  ${rndSql("avg(en.nrm)", 5)} AS avg_norm
         |FROM documents d
         |JOIN en ON d.doc_id = en.vec_id
         |JOIN embeddings e2 ON e2.vec_id = en.vec_id
         |GROUP BY d.lang, e2.label ORDER BY lang, label""".stripMargin,

    "dedup_embedding" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, nrm, ${bucketSql("v")} AS bucket FROM en),
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |        a.v AS va, b.v AS vb, a.nrm AS na, b.nrm AS nb
         |      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |d AS (SELECT DISTINCT id_b FROM p
         |      WHERE ${cosN("va", "vb", "na", "nb")} >= 0.4)
         |SELECT doc.doc_id, doc.lang
         |FROM documents doc JOIN en ON doc.doc_id = en.vec_id
         |WHERE en.vec_id NOT IN (SELECT id_b FROM d)
         |ORDER BY doc_id""".stripMargin,

    // the SemDeDup twin: identical assignment chain as ivfSql's cc
    // (foldSq + row_number over (d, cid)), 5-dp-rounded centroid
    // distance for the keep-farthest rule, ties drop the larger vec_id
    "dedup_semantic" -> semDedupSql,

    // hard-negatives twin: the multi-probe chain (prk ≤ 4) with the
    // band filter applied before the identical (cos5 DESC, vec_id) rank
    "pipeline_hard_negatives" ->
      s"""WITH $embCte,
         |$centCteSql,
         |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
         |      FROM en CROSS JOIN cent),
         |cc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
         |        FROM cd) WHERE crk = 1),
         |pr AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS pcell,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prk
         |      FROM cd WHERE vec_id < 10),
         |p2 AS (SELECT qid, qv, qnrm, pcell FROM pr WHERE prk <= 4),
         |j AS (SELECT p2.qid, b.vec_id,
         |        ${rndSql(cosN("p2.qv", "b.v", "p2.qnrm", "b.nrm"), 5)} AS cos5
         |      FROM p2 JOIN cc b ON b.cell = p2.pcell AND b.vec_id <> p2.qid),
         |f AS (SELECT * FROM j WHERE cos5 >= 0.1 AND cos5 < 0.5),
         |r AS (SELECT qid, vec_id, cos5,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS INT) AS rk
         |      FROM f)
         |SELECT qid, rk, vec_id, cos5 FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    // prototypes twin: ivfSql's assignment chain, centroid cosine via
    // the same unrolled dot with a folded centroid norm, identical
    // (proto5 DESC, vec_id) rank and exact 5·rk ≤ n_c boundary
    "pipeline_prune_prototypes" ->
      s"""WITH $embCte,
         |$centCteSql,
         |cn AS (SELECT cid, cv,
         |    sqrt(list_reduce(list_transform(range(1, ${D + 1}),
         |      i -> cv[i]*cv[i]), (a, b) -> a + b)) AS cnrm FROM cent),
         |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
         |      FROM en CROSS JOIN cent),
         |cc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
         |        FROM cd) WHERE crk = 1),
         |p AS (SELECT cc.vec_id, cc.cell,
         |    ${rndSql(s"(list_reduce(list_transform(range(1, ${D + 1}), " +
            "i -> cc.v[i]*cn.cv[i]), (a, b) -> a + b)) / (cc.nrm * cn.cnrm)", 5)} AS proto5
         |  FROM cc JOIN cn ON cc.cell = cn.cid),
         |r AS (SELECT vec_id, cell, proto5,
         |    row_number() OVER (PARTITION BY cell ORDER BY proto5 DESC, vec_id) AS rk,
         |    count(*) OVER (PARTITION BY cell) AS n_c
         |  FROM p)
         |SELECT vec_id, cell, proto5, (rk * 5 <= n_c) AS pruned
         |FROM r ORDER BY vec_id""".stripMargin,

    // the incremental form answers the same whole-corpus question —
    // equality proves store+prior-drops+batch ingest ≡ full recompute
    "dedup_semantic_incremental" -> semDedupSql,

    // the delete form's oracle: the same recompute over a corpus that
    // never ingested the tombstoned vectors — equality proves the
    // affected-cell re-solve + unaffected incremental reuse ≡ rebuild
    "dedup_semantic_delete" -> semDedupSqlWith(excludeDeleted = true),

    // compaction is serve-invisible: the rewritten store pair + plain
    // ingest must answer exactly what the post-delete corpus answers
    "dedup_semantic_compact" -> semDedupSqlWith(excludeDeleted = true),

    // recall report twin: the sim_topk and sim_ann_ivf chains composed,
    // left-joined per (qid, vec_id), integer hit counts
    "sim_recall_report" ->
      s"""WITH $embCte,
         |$centCteSql,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10),
         |jb AS (SELECT qid, vec_id, ${rndSql(cosN("qv", "v", "qnrm", "nrm"), 5)} AS cos5
         |      FROM q, en WHERE vec_id <> qid),
         |tb AS (SELECT qid, vec_id FROM (
         |        SELECT qid, vec_id,
         |          row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS rk
         |        FROM jb) WHERE rk <= 3),
         |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
         |      FROM en CROSS JOIN cent),
         |cc AS (SELECT vec_id, v, nrm, cid AS cell FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
         |        FROM cd) WHERE crk = 1),
         |qa AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cell FROM cc WHERE vec_id < 10),
         |ja AS (SELECT qa.qid, b.vec_id, ${rndSql(cosN("qa.qv", "b.v", "qa.qnrm", "b.nrm"), 5)} AS cos5
         |      FROM qa JOIN cc b USING (cell) WHERE b.vec_id <> qa.qid),
         |ta AS (SELECT qid, vec_id FROM (
         |        SELECT qid, vec_id,
         |          row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS rk
         |        FROM ja) WHERE rk <= 3)
         |SELECT tb.qid, CAST(count(ta.vec_id) AS BIGINT) AS n_hit,
         |  ${rndSql("count(ta.vec_id) / 3.0", 6)} AS recall6
         |FROM tb LEFT JOIN ta ON tb.qid = ta.qid AND tb.vec_id = ta.vec_id
         |GROUP BY tb.qid ORDER BY tb.qid""".stripMargin,

    // SQ8 twin: per-dim min/max from ordinality-unnest, the identical
    // floor-code/decode arithmetic in list form, asymmetric cosine on
    // the dotUnrolledSql fold, error as exact integer |u5| sums
    // binary twin: same midrange thresholds ((mn+mx)/2 off the exact
    // min/max), the identical packed-BIGINT code fold (OR is
    // associative — fold mechanics free), bit_count(xor) Hamming, and
    // the shared brute cosine truth chain
    "sim_quant_binary" ->
      s"""WITH $embCte,
         |dm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM (
         |    SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM en)
         |  GROUP BY i),
         |qz AS (SELECT list((mn + mx) / 2.0 ORDER BY i) AS thr FROM dm),
         |cdb AS MATERIALIZED (SELECT vec_id,
         |    list_reduce(list_transform(range(1, ${D + 1}), i ->
         |      CASE WHEN v[i] >= thr[i]
         |        THEN (CASE WHEN i = 64
         |          THEN CAST(-9223372036854775808 AS BIGINT)
         |          ELSE (CAST(1 AS BIGINT) << (i - 1)) END)
         |        ELSE CAST(0 AS BIGINT) END),
         |      (a, b) -> a | b) AS code
         |  FROM en CROSS JOIN qz),
         |q AS (SELECT vec_id AS qid, code AS qcode FROM cdb WHERE vec_id < 10),
         |jq AS MATERIALIZED (SELECT q.qid, b.vec_id,
         |    CAST(bit_count(xor(b.code, q.qcode)) AS BIGINT) AS ham
         |  FROM q, cdb b WHERE b.vec_id <> q.qid),
         |tq AS MATERIALIZED (SELECT qid, vec_id, ham, rk FROM (
         |    SELECT qid, vec_id, ham,
         |      row_number() OVER (PARTITION BY qid ORDER BY ham, vec_id) AS rk
         |    FROM jq) WHERE rk <= 3),
         |qv AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10),
         |jb AS (SELECT qid, vec_id, ${rndSql(cosN("qv", "v", "qnrm", "nrm"), 5)} AS cos5
         |  FROM qv, en WHERE vec_id <> qid),
         |tb AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS rk
         |    FROM jb) WHERE rk <= 3),
         |h1 AS (SELECT qid, ham AS h1 FROM tq WHERE rk = 1)
         |SELECT tb.qid, CAST(count(tq.vec_id) AS BIGINT) AS n_hit,
         |  ${rndSql("count(tq.vec_id) / 3.0", 6)} AS recall6,
         |  CAST(h1.h1 AS BIGINT) AS h1
         |FROM tb
         |LEFT JOIN tq ON tb.qid = tq.qid AND tb.vec_id = tq.vec_id
         |JOIN h1 ON h1.qid = tb.qid
         |GROUP BY tb.qid, h1.h1 ORDER BY tb.qid""".stripMargin,

    "sim_quant_recall" ->
      s"""WITH $embCte,
         |dm AS (SELECT i, min(x) AS mn, max(x) AS mx FROM (
         |    SELECT generate_subscripts(v, 1) AS i, unnest(v) AS x FROM en)
         |  GROUP BY i),
         |qz AS (SELECT list(mn ORDER BY i) AS mns, list(mx ORDER BY i) AS mxs
         |  FROM dm),
         |cdn AS MATERIALIZED (SELECT vec_id,
         |    list_transform(range(1, ${D + 1}), i ->
         |      mns[i] + (CASE WHEN mxs[i] > mns[i]
         |        THEN floor((v[i] - mns[i]) * 255.0 / (mxs[i] - mns[i]) + 0.5)
         |        ELSE 0.0 END) * (mxs[i] - mns[i]) / 255.0) AS dec
         |  FROM en CROSS JOIN qz),
         |cd2 AS MATERIALIZED (SELECT vec_id, dec,
         |    sqrt(${VecFunctions.dotUnrolledSql("dec", "dec", D)}) AS dnrm
         |  FROM cdn),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10),
         |jq AS MATERIALIZED (SELECT q.qid, b.vec_id,
         |    ${rndSql(s"(${VecFunctions.dotUnrolledSql("q.qv", "b.dec", D)}) / (q.qnrm * b.dnrm)", 5)} AS cosq5
         |  FROM q, cd2 b WHERE b.vec_id <> q.qid),
         |tq AS (SELECT qid, vec_id FROM (
         |    SELECT qid, vec_id,
         |      row_number() OVER (PARTITION BY qid ORDER BY cosq5 DESC, vec_id) AS rk
         |    FROM jq) WHERE rk <= 3),
         |jb AS (SELECT qid, vec_id, ${rndSql(cosN("qv", "v", "qnrm", "nrm"), 5)} AS cos5
         |  FROM q, en WHERE vec_id <> qid),
         |tb AS (SELECT qid, vec_id, cos5 FROM (
         |    SELECT qid, vec_id, cos5,
         |      row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS rk
         |    FROM jb) WHERE rk <= 3)
         |SELECT tb.qid, CAST(count(tq.vec_id) AS BIGINT) AS n_hit,
         |  ${rndSql("count(tq.vec_id) / 3.0", 6)} AS recall6,
         |  CAST(sum(abs(CAST(floor(tb.cos5 * 100000.0 + 0.5) AS BIGINT)
         |    - CAST(floor(j2.cosq5 * 100000.0 + 0.5) AS BIGINT))) AS BIGINT) AS err_u5
         |FROM tb
         |LEFT JOIN tq ON tb.qid = tq.qid AND tb.vec_id = tq.vec_id
         |JOIN jq j2 ON tb.qid = j2.qid AND tb.vec_id = j2.vec_id
         |GROUP BY tb.qid ORDER BY tb.qid""".stripMargin,

    // the curve's oracle: ONE brute-truth chain + ONE assignment chain,
    // then per nprobe the probe-ranked multi-cell candidate join
    // (ivfMpSql's pr/p2 shape generalized) and a total hit count
    "sim_recall_curve" -> {
      val points = Seq(1, 2, 4, 8)
      val perNp = points.map { np =>
        s"""p$np AS (SELECT qid, qv, qnrm, pcell FROM pr WHERE prk <= $np),
           |j$np AS (SELECT p.qid, b.vec_id,
           |      ${rndSql(cosN("p.qv", "b.v", "p.qnrm", "b.nrm"), 5)} AS cos5
           |    FROM p$np p JOIN cc b ON b.cell = p.pcell AND b.vec_id <> p.qid),
           |t$np AS (SELECT qid, vec_id FROM (
           |      SELECT qid, vec_id,
           |        row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS rk
           |      FROM j$np) WHERE rk <= 3),
           |h$np AS (SELECT CAST($np AS INT) AS nprobe,
           |      CAST(count(t.vec_id) AS BIGINT) AS n_hit,
           |      CAST((SELECT count(*) FROM tb) AS BIGINT) AS n_truth,
           |      ${rndSql("count(t.vec_id) / (SELECT count(*) FROM tb)", 6)} AS recall6
           |    FROM tb LEFT JOIN t$np t
           |      ON tb.qid = t.qid AND tb.vec_id = t.vec_id)""".stripMargin
      }.mkString(",\n")
      val un = points.map(np => s"SELECT * FROM h$np").mkString(" UNION ALL ")
      s"""WITH $embCte,
         |$centCteSql,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10),
         |jb AS (SELECT qid, vec_id, ${rndSql(cosN("qv", "v", "qnrm", "nrm"), 5)} AS cos5
         |      FROM q, en WHERE vec_id <> qid),
         |tb AS MATERIALIZED (SELECT qid, vec_id FROM (
         |        SELECT qid, vec_id,
         |          row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS rk
         |        FROM jb) WHERE rk <= 3),
         |cd AS MATERIALIZED (SELECT vec_id, v, nrm, cid, ${foldSq("v", "cv", D)} AS d
         |      FROM en CROSS JOIN cent),
         |cc AS MATERIALIZED (SELECT vec_id, v, nrm, cid AS cell FROM (
         |        SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS crk
         |        FROM cd) WHERE crk = 1),
         |pr AS MATERIALIZED (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, cid AS pcell,
         |        row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS prk
         |      FROM cd WHERE vec_id < 10),
         |$perNp
         |SELECT * FROM ($un) ORDER BY nprobe""".stripMargin
    },

    "sim_near_pairs_lsh" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, nrm, ${bucketSql("v")} AS bucket FROM en),
         |p AS (SELECT a.bucket, a.vec_id AS id_a, b.vec_id AS id_b,
         |        a.v AS va, b.v AS vb, a.nrm AS na, b.nrm AS nb
         |      FROM b a JOIN b b ON a.bucket = b.bucket AND a.vec_id < b.vec_id),
         |c AS (SELECT bucket, id_a, id_b, ${cosN("va", "vb", "na", "nb")} AS cos FROM p)
         |SELECT bucket, id_a, id_b, ${rndSql("cos", 5)} AS cos5
         |FROM c WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,
    "sim_near_pairs" ->
      s"""WITH $embCte,
         |p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, a.v AS va, b.v AS vb,
         |        a.nrm AS na, b.nrm AS nb
         |      FROM en a, en b WHERE a.vec_id < b.vec_id),
         |c AS (SELECT id_a, id_b, ${cosN("va", "vb", "na", "nb")} AS cos FROM p)
         |SELECT id_a, id_b, ${rndSql("cos", 5)} AS cos5
         |FROM c WHERE cos >= 0.4 ORDER BY id_a, id_b""".stripMargin,

    // same 16-dim slice dots (ascending left-assoc like the kernel),
    // same rnd5-before-max, same literal-order 4-term score sum
    "sim_maxsim_topk" -> {
      val nTok = 4; val td = SimilarityDims.D / nTok
      def sliceDot(a: String, b: String, i: Int, j: Int): String =
        (1 to td).map(t => s"$a[${i * td + t}]*$b[${j * td + t}]")
          .mkString(" + ")
      val tokNorms = (0 until nTok).map(i =>
        s"sqrt(${sliceDot("v", "v", i, i)}) AS n$i").mkString(", ")
      val qNorms = (0 until nTok).map(i => s"n$i AS qn$i").mkString(", ")
      val maxes = (0 until nTok).map { i =>
        val coss = (0 until nTok).map { j =>
          rndSql(s"(${sliceDot("qv", "v", i, j)}) / (qn$i * n$j)", 5)
        }
        s"greatest(${coss.mkString(", ")}) AS m$i"
      }.mkString(",\n    ")
      s"""WITH e AS (
         |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings
         |), et AS MATERIALIZED (
         |  SELECT vec_id, v, $tokNorms FROM e
         |), q AS (
         |  SELECT vec_id AS qid, v AS qv, $qNorms FROM et WHERE vec_id < 10
         |), j AS (
         |  SELECT qid, vec_id,
         |    $maxes
         |  FROM q, et WHERE vec_id <> qid
         |), sc AS (
         |  SELECT qid, vec_id, ((m0 + m1) + m2) + m3 AS score FROM j
         |), r AS (
         |  SELECT qid, vec_id, score,
         |    CAST(row_number() OVER (
         |      PARTITION BY qid ORDER BY score DESC, vec_id) AS INT) AS rk
         |  FROM sc
         |)
         |SELECT qid, rk, vec_id, score FROM r WHERE rk <= 5
         |ORDER BY qid, rk""".stripMargin
    },

    "sim_topk" ->
      s"""WITH $embCte,
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm FROM en WHERE vec_id < 10),
         |j AS (SELECT qid, vec_id, ${rndSql(cosN("qv", "v", "qnrm", "nrm"), 5)} AS cos5
         |      FROM q, en WHERE vec_id <> qid),
         |r AS (SELECT qid, vec_id, cos5,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS INT) AS rk
         |      FROM j)
         |SELECT qid, rk, vec_id, cos5 FROM r WHERE rk <= 5 ORDER BY qid, rk""".stripMargin,

    "sim_ann_lsh" ->
      s"""WITH $embCte,
         |b AS (SELECT vec_id, v, nrm, ${bucketSql("v")} AS bucket FROM en),
         |q AS (SELECT vec_id AS qid, v AS qv, nrm AS qnrm, bucket FROM b WHERE vec_id < 10),
         |j AS (SELECT q.qid, q.bucket, b.vec_id, ${rndSql(cosN("q.qv", "b.v", "q.qnrm", "b.nrm"), 5)} AS cos5
         |      FROM q JOIN b USING (bucket) WHERE b.vec_id <> q.qid),
         |r AS (SELECT qid, bucket, vec_id, cos5,
         |        CAST(row_number() OVER (PARTITION BY qid ORDER BY cos5 DESC, vec_id) AS INT) AS rk
         |      FROM j)
         |SELECT qid, bucket, rk, vec_id, cos5 FROM r WHERE rk <= 3 ORDER BY qid, rk""".stripMargin)
}
