package graft.tools

/** Dumps formatted physical plans of the flagship queries to PLANS.md —
  * the `.explain("formatted")` audit trail (builder contract: iterate on
  * plans, don't just ship the first one that passes).
  */
object PlanAudit {
  val audited: Seq[String] = Seq(
    "kmeans_assign", "kmeans_step", "q1_agg", "q_join_agg",
    "q_topk_custom", "sim_near_pairs", "q_sort_limit",
    "q_running_sum", "q_rollup",
    // round 2: temporal joins (as-of = 1 exchange / 0 joins; range =
    // hash join), sessionization (single user_id exchange reused),
    // window suite, hash split (shuffle-free narrow plan)
    "q_asof_join", "q_range_join", "q_sessionize", "q_window_suite",
    "q_split", "sim_pq_topk", "sim_ivfpq_residual",
    // round 3: anti-join df-cap (no window sort over the shingle
    // stream), broadcast-model ANN (no literal codebooks in the plan),
    // real media decode (narrow codegen'd map over binary), unrolled fit
    "sim_ivf_pq_bt", "sim_ivfpq_residual_bt", "kmeans_fit_unrolled",
    "q_skew_join", "q_tpch_q10", "q_tpch_q18", "q_window_frames",
    "pipeline_e2e",
    // round 5: the new TPC-H plan shapes — Q2 min-per-key equality join,
    // Q8 dual-role nation join, Q16 distinct-pair + anti filter, Q21
    // per-order aggregate replacing the double self-join
    "q_tpch_q2", "q_tpch_q8", "q_tpch_q16", "q_tpch_q21",
    "kmeans_fit_nd_unrolled",
    // round 7: hive-partitioned layout — the static bracket must show in
    // PartitionFilters, the dim-driven join a dynamicpruning subquery
    "q_part_prune_static", "q_part_prune_dpp",
    // round 7: warehouse maintenance — MERGE re-emit (SMJ full outer,
    // co-partitioned), SCD2 + funnel (one user_id exchange reused across
    // every window pass)
    "q_merge_upsert", "q_scd2", "q_funnel",
    // round 7: bucketed co-located fact-fact join — SMJ with NO Exchange
    // on either side (the layout paid for the shuffle at write time;
    // Bucketed: true on both scans)
    "q_bucket_join",
    // round 7: DQ expectation suite (one aggregate per table scan, anti-
    // join FK checks), sweep-line concurrency (two projections of the
    // session table + one global running sum), EWMA ordered-array fold
    // (single hash aggregate, no window, no per-user sort exchange)
    "q_dq_checks", "q_concurrency", "q_ewma",
    // round 7 continuation: two-phase heavy hitters (candidate
    // broadcast semi-join + recount), behavioral windows (one user_id
    // exchange each), narrow per-row entropy fold (zero shuffle)
    "q_heavy_hitters", "q_retention_cohort", "q_transition_matrix",
    "text_entropy",
    // round 9: signature-only estimate (band self-join + two signature
    // joins, NO shingle re-materialization), SQL lateral (decorrelated
    // to the same window shape as q_topk), HLL rolling actives (one
    // day-keyed aggregate + one tiny RANGE window over sketches, plus
    // the exact-side explode that feeds the within_5pct oracle pin)
    "dedup_minhash_est", "q_sql_lateral", "q_rolling_actives_hll",
    // round 7 continuation: deterministic mode via max(struct) — two
    // map-side-combined aggregates, no window sort; MAD outliers — two
    // exact-percentile passes + broadcast of the K-row center tables
    "q_mode", "q_anomaly_mad",
    // round 7 continuation: CDC diff (ONE co-partitioned full-outer
    // SMJ, changes-only output), IVM refresh (aggregate + |changes|
    // delta, no B rescan), gap fill (one daily aggregate; grid explode
    // narrow off a broadcast bound; window over grid-sized data),
    // BM25 (one 1-row corpus aggregate broadcast back, narrow scorer)
    "q_snapshot_diff", "q_incr_agg", "q_gap_fill", "text_bm25",
    // round 7 final batch: RFM (broadcast quantile boundaries, no
    // global ntile), rolling distinct (bounded window explode), streaks
    // (one user_id exchange), hopping windows (single Expand, no
    // self-join), unpivot (native Expand melt)
    "q_rfm", "q_rolling_actives", "q_streaks", "q_hopping_window",
    "q_unpivot",
    // round 10: the registered 100-TB sweep path — per-bucket
    // partitioned window + broadcast offsets, no global funnel
    "q_concurrency_sweep",
    // round 10 continuation: bloom prefilter (broadcast 1-row bits +
    // narrow probe BEFORE the join exchange), CMS (narrow explode into
    // map-side-combined grid, then broadcast grid joins), register
    // sketch (one map-side-combined max-aggregate), blocked
    // Jaro-Winkler linkage (block-keyed self-join, codegen'd kernel)
    "q_join_bloom_reduce", "q_heavy_hitters_cms", "q_distinct_sketch",
    "dedup_record_linkage",
    // round 10 continuation: KMV pair algebra (two scans of the tiny
    // sketch frame, k-length array ops only), KMV rolling actives
    // (bounded-heap per-day sketches + one RANGE window), sample
    // quantiles (bounded-heap sample + broadcast exact-percentile row)
    "q_kmv_overlap", "q_rolling_actives_kmv", "q_quantile_bysample",
    // round 10 continuation: association rules (basket self-join +
    // broadcast item counts — no |parts|² pair space)
    "q_market_basket",
    // round 11: mergeable quantile sketch (bounded-heap per-day pair
    // summaries + one RANGE window over 2048-struct arrays; the exact
    // arm's explode exists only to feed the within_10pct pin),
    // substring-ratio (span table + one doc-keyed left join)
    "q_quantile_sketch", "dedup_substring_ratio",
    // round 11 continuation: grid kNN (broadcast probe-cell join, no
    // cartesian), LM scoring (broadcast top-v model, narrow scoring
    // pass), incremental join view (three delta joins, no B-generation
    // rescan), CMS join-size (two grid builds + tiny grid-grid join)
    "spatial_knn_grid", "text_lm_score", "q_incr_join", "q_join_size_cms",
    // round 11 continuation: PPJoin prefix filter (rarity-ordered
    // prefix index join + per-candidate array_intersect verify, no
    // Σ_cand·n exploded join), table range diff (two map-side-combined
    // digest aggregates + full outer on the bucket id)
    "dedup_jaccard_prefix", "q_table_diff_ranges",
    // round 13: incremental ingest — bucketed store scan streamed with
    // NO exchange, batch block index broadcast, Hamming verify pushed
    // into the probe join condition
    "dedup_incremental",
    // round 14: incremental ANN — bucketed postings scan with NO
    // store-side exchange, batch assigned via the broadcast centroid
    // table, query probes broadcast against store ∪ batch
    "sim_ann_incremental",
    // round 14: broadcast-table unigram encode — the model travels as
    // data (broadcast join + map_from_entries), NOT as a typedLit map:
    // no vocab-sized literal anywhere in the plan
    "text_unigram_encode_bt",
    // round 14: coded incremental ANN — bucketed CODE-columns postings
    // scan (no floats, no exchange), ADC lookups against broadcast
    // query tables
    "sim_ann_incremental_pq",
    // round 14: modularity — two label joins streaming the edge list,
    // map-side-combined degree aggregate, 1-row edge count broadcast
    // back (no collect)
    "graph_modularity",
    // round 14: model-store tokenizer serving — weights computed
    // in-plan from the staged model scan + one 1-row aggregate; zero
    // driver collect anywhere
    "text_unigram_encode_store",
    // round 15: SemDeDup — within-cell pair join (one exchange on
    // cell), keep-farthest survivor rule, anti-join with NO broadcast
    // hint on the O(corpus) drop set
    "dedup_semantic",
    // round 15: Gopher gate — five doc-level rules entirely narrow
    // (zero Exchange; the nested max-frequency fold stays in the row)
    "text_gopher_rules",
    // round 15: incremental SemDeDup — bucketed postings-store scan,
    // batch assigned via the broadcast centroid table, pair join on
    // cell touching the batch only, prior drops unioned
    "dedup_semantic_incremental",
    // round 15: DSIR — fixed-64-bucket count aggregate, 1-row broadcast
    // weight map, narrow scoring fold, TakeOrderedAndProject selection
    "pipeline_dsir_select",
    // round 15: Louvain half-sweep — one edge scan for k_iC (map-side
    // combined), tiny community-table joins, 1-row M broadcast
    "graph_louvain_step",
    // round 16: the complete 2-level Louvain — level 1 dominates (the
    // edge-list passes), the contracted level-2 joins run on the
    // |C|²-bounded super-graph, map-back is one label join
    "graph_louvain_multi",
    // round 16: compacted-store SemDeDup serving — the PLAIN ingest
    // plan (bucketed postings scan, broadcast centroids, cell-only
    // pair join); no tombstone predicate or affected-cell split
    // anywhere — compaction moved that work to write time
    "dedup_semantic_compact",
    // round 16: wordpiece training round — pair + symbol counts are
    // two map-side-combined aggregates over the word DICT (never the
    // corpus), likelihood argmax is a 1-row TakeOrdered collect
    "text_wordpiece_train",
    // round 16: serving from the TRAINED vocab — same narrow fold per
    // distinct word against the 1-row broadcast piece map
    "text_wordpiece_encode_trained",
    // round 16 wave 2/3: the curation recipes — the mixture sampler's
    // rates must ride a broadcast join (the corpus itself never
    // shuffles), the NB classifier's scoring pass must be narrow
    // against the 1-row broadcast weight map (the DSIR shape), the
    // prototype pruning is one broadcast centroid join + one cell
    // window, the subsequence search is one per-user window pass +
    // TakeOrdered, the ALS step is two map-side-combined aggregates +
    // one user-keyed join, hard negatives share the multi-probe stage
    "pipeline_mixture_sample", "pipeline_classifier_score",
    "pipeline_prune_prototypes", "q_ts_subseq_search",
    "q_als_rank1_step", "pipeline_hard_negatives",
    // round 17: time travel must serve the resolved historical store
    // with the UNCHANGED bucketed probe plan (version manifest is a
    // K-row driver lookup, not a plan operator); rank-2 ALS is the
    // same two map-side-combined aggregates as rank-1 (the 2×2 Cramer
    // readout is a narrow projection); unigram training's EM rounds
    // run over the word DICT with the piece table broadcast; motif is
    // one SAX-word self-join (shuffle bounded by the signature) +
    // partial-aggregating per-window min + TakeOrderedAndProject
    "q_store_time_travel", "q_als_rank2_step", "text_unigram_train",
    "q_ts_motif",
    // round 17 wave 2: schema evolution must keep the bucketed store
    // scan exchange-free with the decisions broadcast against it; the
    // rank-2 alternation stays two map-side-combined aggregates per
    // half-solve; rho trains both models from ONE bigram pass (both
    // broadcast); Kneser-Ney's uncapped model joins reuse the count
    // aggregate's partitioning; SQ8 is one posexplode aggregate + a
    // broadcast quantizer + the brute ADC pass; CUSUM is the q_ewma
    // single-shuffle ordered-fold shape
    "q_store_schema_evolution", "q_als_rank2_step2", "pipeline_rho_select",
    "text_kneser_ney", "sim_quant_recall", "q_ts_cusum",
    // round 18: trigram KN — ONE trigram count aggregate with every
    // marginal derived from it (the probe stream joins the uncapped
    // distributed model; N1+(··) rides a 1-row broadcast); the MoR
    // read must keep the bucketed store scan with the position
    // tombstones BROADCAST into the anti-join; the ALS fit twin is the
    // step chain one alternation deeper (same two map-side-combined
    // aggregates per half-solve)
    "text_kneser_ney3", "q_store_mor_delete", "q_als_rank2_fit_unrolled",
    // round 19: the k-means|| final pass must be a narrow
    // literal-centers map + one k-row aggregate; DBSCAN's assembly
    // joins run on the distinct-point table (the eps-grid pair join is
    // cell-keyed, never cartesian); the Borůvka forest and beam-search
    // serving read checkpointed per-round frames; 5-gram KN is the kn3
    // shape two orders deeper (one count aggregate, derived marginals,
    // broadcast N1+(··)); the re-planned perplexity tertiles must show
    // a BROADCAST boundary join with no corpus-row window sort anywhere
    "kmeans_init_scalable", "spatial_dbscan", "graph_mst",
    "text_kneser_ney5", "sim_ann_graph", "text_ppl_buckets",
    "text_ppl_buckets3",
    // round 19 wave 2: the BFD report is one count job + one
    // batch-keyed shuffle with bounded collect_list state (no
    // corpus-sized window partition); silhouette is a narrow
    // literal-stats map + one K-row aggregate per pass; bisect's
    // registered form is the final narrow relabel map + one
    // map-side-combined leaf aggregate over the checkpointed labeling
    "pipeline_pack_bfd", "kmeans_silhouette", "kmeans_bisect",
    "kmeans_davies_bouldin")

  /** Queries whose production entry point ends in an eager
    * localCheckpoint (cache-release pattern) — their registered form
    * explains as an opaque `Scan ExistingRDD`, so the audit builds the
    * SAME pipeline with `eager = false` to show the real operator tree.
    */
  val preCheckpoint: Seq[(String, (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame)] = Seq(
    "dedup_ngram_jaccard (pre-checkpoint pipeline)" -> ((s, dir) =>
      graft.operators.Dedup.jaccardPairs(
        graft.Tables.documents(s, dir), n = 3, dfCap = 100, tau = 0.05, eager = false)),
    "dedup_minhash_lsh (pre-checkpoint pipeline)" -> ((s, dir) =>
      graft.operators.Dedup.minhashPairs(
        graft.Tables.documents(s, dir), n = 8, nHash = 12, rowsPerBand = 2,
        tau = 0.5, eager = false)),
    // signature band self-join + two one-row-per-doc signature joins —
    // no shingle re-materialization anywhere in the plan
    "dedup_minhash_est (pre-checkpoint pipeline)" -> ((s, dir) =>
      graft.operators.Dedup.minhashEstimatePairs(
        graft.Tables.documents(s, dir), n = 8, nHash = 12, rowsPerBand = 2,
        minMatches = 6, eager = false)),
    "mm_features (pre-checkpoint pipeline)" -> ((s, dir) =>
      graft.operators.Multimodal.features(
        graft.operators.Multimodal.synthesizeMedia(s, dir).toDF(), eager = false)),
    // oriented-edge + adjacency-intersection iterator: two equi-joins
    // against the (materialized-in-production) adjacency, narrow
    // intersections, one attribution aggregate — no wedge blow-up
    "graph_triangles (pre-checkpoint pipeline)" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val op = graft.Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = op.alias("a").join(op.alias("b"), col("a.ok") === col("b.ok"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      graft.operators.Triangles.countPerNode(e, eager = false)
    }),
    "dedup_containment (pre-checkpoint pipeline)" -> ((s, dir) =>
      graft.operators.Dedup.containmentPairs(
        graft.Tables.documents(s, dir), n = 5, dfCap = 50, tau = 0.4,
        eager = false)),
    // per round: one map-side-combined degree aggregate + two
    // left-semi joins against the survivor list
    "graph_kcore (pre-checkpoint pipeline)" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val op = graft.Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      val e = op.alias("a").join(op.alias("b"), col("a.ok") === col("b.ok"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v")).distinct()
      graft.operators.KCore.peel(e, k = 3, rounds = 2, eager = false)
    }),
    // per round: frontier semi-join + distinct + anti-join vs visited —
    // work tracks the frontier expansion, not |V|
    "graph_bfs (pre-checkpoint pipeline)" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = graft.Tables.lineitem(s, dir)
      val pairs = li.select(col("l_suppkey").as("sup"),
        (org.apache.spark.sql.functions.lit(100000L) +
          col("l_partkey")).as("prt")).distinct()
      val edges = pairs.selectExpr("sup AS src", "prt AS dst")
        .union(pairs.selectExpr("prt AS src", "sup AS dst"))
      val seeds = graft.Tables.supplier(s, dir)
        .where(col("s_suppkey") <= 5).select(col("s_suppkey").as("node"))
      graft.operators.Bfs.run(edges, seeds, rounds = 2, eager = false)
    }),
    // one join + one aggregate per iteration, no driver data motion
    "graph_pagerank (pre-checkpoint pipeline)" -> ((s, dir) => {
      val pairs = graft.Tables.lineitem(s, dir)
        .select(org.apache.spark.sql.functions.col("l_suppkey").as("sup"),
          (org.apache.spark.sql.functions.lit(100000L) +
            org.apache.spark.sql.functions.col("l_partkey")).as("prt"))
        .distinct()
      val edges = pairs.selectExpr("sup AS src", "prt AS dst")
        .union(pairs.selectExpr("prt AS src", "sup AS dst"))
      graft.operators.PageRank.run(edges, iters = 2, eager = false,
        broadcastRanks = Some(true))
    }),
    // the billion-node regime (node count above the broadcast cap):
    // ONE rank iteration with the gate refusing broadcast — the ranks
    // join must be a SHUFFLE join (auto-broadcast thresholds disabled
    // in an isolated session so fixture-scale stats can't mask it;
    // GraphSpec pins the same invariant)
    "graph_pagerank (large-graph shuffle regime, one iteration)" -> ((s, dir) => {
      val sess = s.newSession()
      sess.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      sess.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      val pairs = graft.Tables.lineitem(sess, dir)
        .select(org.apache.spark.sql.functions.col("l_suppkey").as("sup"),
          (org.apache.spark.sql.functions.lit(100000L) +
            org.apache.spark.sql.functions.col("l_partkey")).as("prt"))
        .distinct()
      val edges = pairs.selectExpr("sup AS src", "prt AS dst")
        .union(pairs.selectExpr("prt AS src", "sup AS dst"))
      graft.operators.PageRank.step(
        graft.operators.PageRank.withDegrees(edges),
        graft.operators.PageRank.initRanks(edges), doBroadcast = false)
    }),
    // round 11: one narrow window explode (hash-keyed, 8-byte shuffle
    // values), dup-hash aggregate + join back, per-doc lag/sum window
    // over duplicated starts only
    "dedup_substring (pre-checkpoint pipeline)" -> ((s, dir) =>
      graft.operators.Dedup.substringSpans(
        graft.Tables.documents(s, dir), w = 8, eager = false)),
    // round 11: packed HyperBall round — ONE |E|-row join + 64
    // map-side-combined long-MAX aggregates reassembled into the
    // register array (the r10 (node, reg) layout shuffled 64x this)
    "graph_ball_sketch (one packed round)" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val pairs = graft.Tables.lineitem(s, dir)
        .select(col("l_suppkey").as("sup"),
          (lit(100000L) + col("l_partkey")).as("prt"))
        .distinct()
      val edges = pairs.selectExpr("sup AS src", "prt AS dst")
        .union(pairs.selectExpr("prt AS src", "sup AS dst"))
      graft.operators.HyperBall.neighborhoodSizes(edges, rounds = 1,
        eager = false)
    }),
    // round 14: clip fingerprint pairs — narrow codegen'd demux+hash
    // map over the binary column, then the generic 4×16-bit pigeonhole
    // block join; only (id, fp) longs ever shuffle, never frames
    "dedup_vhash (pre-checkpoint pipeline)" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val fp = graft.operators.Multimodal.synthesizeMedia(s, dir).toDF()
        .where(col("kind") === "video")
        .select(col("media_id").as("doc_id"),
          graft.functions.MediaCodecs.ppmVhash(col("content")).as("fp"))
        .where(col("fp").isNotNull)
      graft.operators.Dedup.hammingBlockPairs(fp, maxHam = 3)
        .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
          col("ham"))
    }),
    // round 14: containment verify — shared-frame-hash candidate join
    // + one narrow HOF offset search over the per-clip hash arrays;
    // pixels never join or shuffle
    "dedup_vhash_contain (pre-checkpoint pipeline)" -> ((s, dir) => {
      import org.apache.spark.sql.functions._
      val fh = graft.operators.Multimodal.synthesizeMedia(s, dir).toDF()
        .where(col("kind") === "video")
        .select(col("media_id"),
          graft.functions.MediaCodecs.ppmFrameHashes(col("content")).as("hs"))
        .where(col("hs").isNotNull)
      val ex = fh.select(col("media_id"), explode(col("hs")).as("fp")).distinct()
      val cand = ex.select(col("media_id").as("media_a"), col("fp"))
        .join(ex.select(col("media_id").as("media_b"), col("fp")), Seq("fp"))
        .where(col("media_a") =!= col("media_b"))
        .select(col("media_a"), col("media_b")).distinct()
      cand
        .join(fh.select(col("media_id").as("media_a"), col("hs").as("ha")), Seq("media_a"))
        .join(fh.select(col("media_id").as("media_b"), col("hs").as("hb")), Seq("media_b"))
        .where(size(col("ha")) < size(col("hb")))
    }),
    // round 13: Brandes forward+backward rounds — frontier joins carry
    // path counts, level-keyed backward joins carry fixed-point
    // dependencies; per-round shuffle tracks the frontier, never |V|
    "graph_betweenness (pre-checkpoint pipeline)" -> ((s, dir) => {
      import org.apache.spark.sql.functions.col
      val li = graft.Tables.lineitem(s, dir)
      val pairs = li.select(col("l_suppkey").as("sup"),
        (org.apache.spark.sql.functions.lit(100000L) +
          col("l_partkey")).as("prt")).distinct()
      val edges = pairs.selectExpr("sup AS src", "prt AS dst")
        .union(pairs.selectExpr("prt AS src", "sup AS dst"))
      val seeds = graft.Tables.supplier(s, dir)
        .where(col("s_suppkey") <= 5).select(col("s_suppkey").as("node"))
      graft.operators.Betweenness.run(edges, seeds, rounds = 2,
        eager = false)
    }))

  def main(args: Array[String]): Unit = {
    val out = args.lift(0).getOrElse("PLANS.md")
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sb = new StringBuilder
    sb.append("# PLANS — physical-plan audit (generated by graft.tools.PlanAudit)\n\n")
    sb.append("Physical plan per flagship query at " + sfDir + ". What to\n")
    sb.append("look for: `*(n)` = whole-stage codegen span; `Exchange` only where\n")
    sb.append("an aggregation/join key demands it; `PushedFilters`/pruned\n")
    sb.append("`ReadSchema` on scans; `BroadcastHashJoin` for dims;\n")
    sb.append("`TakeOrderedAndProject` for top-k; `TopKPerGroup` custom exec.\n")
    val entries = audited.map(n =>
      n -> graft.SparkEntry.queries(n)) ++ preCheckpoint
    entries.foreach { case (name, fn) =>
      val df = fn(spark, sfDir)
      sb.append(s"\n## $name\n\n```\n")
      // truncate the giant assignment CASE chains for readability
      val plan = df.queryExecution.executedPlan.toString
        .linesIterator.map(l => if (l.length > 300) l.take(300) + " ..." else l)
        .mkString("\n")
      sb.append(plan).append("\n```\n")
    }
    java.nio.file.Files.writeString(java.nio.file.Paths.get(out), sb.toString)
    println(s"[plan-audit] wrote $out (${audited.size} plans)")
    spark.stop()
  }
}
