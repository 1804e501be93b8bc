package graft

import org.apache.spark.sql.functions._
import graft.operators.Dedup

/** Pins the incremental corpus-ingest dedup contract
  * (Dedup.incrementalDedup): decisions are (1) associative under batch
  * splitting with a store append between sub-batches, and (2) equal to
  * the whole-corpus recompute — the two properties that make the
  * store-probing shape safe to run daily at 100 TB instead of
  * re-deduping the corpus from scratch.
  */
class IncrementalSpec extends SparkSpec {

  private def docs = Tables.documents(spark, sf)

  private def bounds: (Long, Long) = {
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    (maxId * 4 / 5, maxId)
  }

  test("two half-batches with a store append between ≡ one batch") {
    val (thr, maxId) = bounds
    val store = Dedup.fpBlockKeys(
      Dedup.simhash(docs.where(col("doc_id") <= thr)))
    val batch = docs.where(col("doc_id") > thr)
    val oneShot = Dedup.incrementalDedup(store, batch)
      .orderBy("doc_id").collect().toSeq

    val mid = (thr + maxId) / 2
    val half1 = Dedup
      .incrementalDedup(store, batch.where(col("doc_id") <= mid))
      .orderBy("doc_id").collect().toSeq
    // the append carries EVERY ingested doc's signature — kept and
    // dropped — which is exactly what makes the split invisible
    val store2 = store.unionByName(Dedup.fpBlockKeys(
      Dedup.simhash(batch.where(col("doc_id") <= mid))))
    val half2 = Dedup
      .incrementalDedup(store2, batch.where(col("doc_id") > mid))
      .orderBy("doc_id").collect().toSeq

    assert(half1 ++ half2 == oneShot,
      "sub-batch ingest must land on the byte-identical decision table")
  }

  test("probe plan: the batch index broadcasts against the bucketed store scan") {
    val df = graft.queries.DedupQueries
      .queries("dedup_incremental")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "store probe must broadcast the batch block index")
    assert(p.contains("Bucketed: true"),
      "store side must be the bucketed table scan (no store exchange)")
    // the Hamming verify rides inside the probe join condition, so only
    // verified pairs ever reach the candidate distinct
    assert(p.contains("bit_count"),
      "verify predicate should be pushed into the join")
  }

  test("minhash variant: two half-batches with a store append between ≡ one batch") {
    val (thr, maxId) = bounds
    def bands(d: org.apache.spark.sql.DataFrame) = Dedup.minhashBandRows(
      Dedup.minhashSignatureFast(d, n = 8, nHash = 12),
      nHash = 12, rowsPerBand = 2)
    val store = bands(docs.where(col("doc_id") <= thr))
    val batch = docs.where(col("doc_id") > thr)
    val oneShot = Dedup.incrementalMinhash(store, batch)
      .orderBy("doc_id").collect().toSeq

    val mid = (thr + maxId) / 2
    val half1 = Dedup
      .incrementalMinhash(store, batch.where(col("doc_id") <= mid))
      .orderBy("doc_id").collect().toSeq
    val store2 = store.unionByName(
      bands(batch.where(col("doc_id") <= mid)))
    val half2 = Dedup
      .incrementalMinhash(store2, batch.where(col("doc_id") > mid))
      .orderBy("doc_id").collect().toSeq

    assert(half1 ++ half2 == oneShot,
      "sub-batch minhash ingest must land on the byte-identical decision table")
  }

  test("ANN ingest: sub-batch appends ≡ one batch ≡ whole-corpus index rebuild") {
    import graft.operators.{Similarity, TrainedIvfCentroids}
    val cells = TrainedIvfCentroids.cells
    val emb = Similarity.emb(spark, sf)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val thr = maxId * 4 / 5
    val store = Similarity.ivfAssignBroadcast(
      emb.where(col("vec_id") <= thr), cells)
    val batch = emb.where(col("vec_id") > thr)
    val q = Similarity.ivfAssignBroadcast(batch, cells)
      .orderBy("vec_id").limit(5)
      .select(col("vec_id").as("qid"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("cell"))

    def serve(index: org.apache.spark.sql.DataFrame) =
      Similarity.ivfServe(index, q, k = 3)
        .orderBy("qid", "rk").collect().toSeq

    val oneShot = serve(store.unionByName(
      Similarity.ivfAssignBroadcast(batch, cells)))
    val mid = (thr + maxId) / 2
    val split = serve(store
      .unionByName(Similarity.ivfAssignBroadcast(
        batch.where(col("vec_id") <= mid), cells))
      .unionByName(Similarity.ivfAssignBroadcast(
        batch.where(col("vec_id") > mid), cells)))
    assert(split == oneShot,
      "sub-batch appends must land on the byte-identical serve table")
    // the substantive pin: cell assignment is per-vector independent,
    // so the append-only store equals a full index rebuild
    val rebuild = serve(Similarity.ivfAssignBroadcast(emb, cells))
    assert(rebuild == oneShot,
      "append-based ingest must equal the whole-corpus index rebuild")
    assert(oneShot.nonEmpty, "serve must produce rows")
  }

  test("coded ANN ingest: sub-batch appends ≡ one batch ≡ whole-corpus re-encode") {
    import graft.operators.{Similarity, TrainedIvfCentroids, TrainedPqCodebooks}
    val cells = TrainedIvfCentroids.cells
    val books = TrainedPqCodebooks.books
    val emb = Similarity.emb(spark, sf)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val thr = maxId * 4 / 5
    def enc(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqEncodeBroadcast(df, cells, books)
    val store = enc(emb.where(col("vec_id") <= thr))
    val batch = emb.where(col("vec_id") > thr)
    val q = Similarity.ivfPqQueriesBroadcast(
      batch.orderBy("vec_id").limit(5), cells, books, nprobe = 2)

    def serve(index: org.apache.spark.sql.DataFrame) =
      Similarity.ivfPqServe(index, q, books.length, k = 3)
        .orderBy("qid", "rk").collect().toSeq

    val oneShot = serve(store.unionByName(enc(batch)))
    val mid = (thr + maxId) / 2
    val split = serve(store
      .unionByName(enc(batch.where(col("vec_id") <= mid)))
      .unionByName(enc(batch.where(col("vec_id") > mid))))
    assert(split == oneShot,
      "coded sub-batch appends must land on the byte-identical serve table")
    val rebuild = serve(enc(emb))
    assert(rebuild == oneShot,
      "coded append ingest must equal the whole-corpus re-encode")
    assert(oneShot.nonEmpty, "serve must produce rows")
  }

  test("ANN serve plan: queries broadcast against the bucketed postings scan") {
    val df = graft.queries.SimilarityQueries
      .queries("sim_ann_incremental")(spark, sf)
    val p = plan(df)
    assert(p.contains("BroadcastHashJoin"),
      "serve must broadcast the query probes")
    assert(p.contains("Bucketed: true"),
      "store side must be the bucketed postings scan (no store exchange)")
  }

  test("incremental cluster maintenance ≡ whole-corpus converged labels; two-day ingest ≡ one") {
    val (thr, maxId) = bounds
    val prefix = docs.where(col("doc_id") <= thr)
    val batch = docs.where(col("doc_id") > thr)
    val store = Dedup.fpBlockKeys(Dedup.simhash(prefix))
    val labels0 = Dedup.connectedComponentsConverged(Dedup.simhashPairs(prefix))

    def tbl(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("d").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq

    val oneShot = tbl(Dedup.incrementalCluster(store, labels0, batch))
    // the substantive pin: composition equals the whole-corpus
    // converged recompute (the oracle's view, which never sees the split)
    val whole = tbl(Dedup.connectedComponentsConverged(Dedup.simhashPairs(docs)))
    assert(oneShot == whole,
      "incremental cluster maintenance must equal the whole-corpus recompute")

    // the daily loop: ingest half the batch, roll the state forward
    // (store += half-1 signatures, labels := day-1 output), ingest the rest
    val mid = (thr + maxId) / 2
    val half1 = batch.where(col("doc_id") <= mid)
    val day1 = Dedup.incrementalCluster(store, labels0, half1)
      .localCheckpoint(true)
    val store2 = store.unionByName(Dedup.fpBlockKeys(Dedup.simhash(half1)))
    val day2 = tbl(Dedup.incrementalCluster(store2, day1,
      batch.where(col("doc_id") > mid)))
    assert(day2 == oneShot,
      "two-day ingest must land on the byte-identical label table")
  }

  test("lifecycle: append + delete + append ≡ a store that never ingested the deleted docs") {
    import graft.operators.StoreLifecycle
    val (thr, maxId) = bounds
    val mid = (thr + maxId) / 2
    val store0 = Dedup.fpBlockKeys(
      Dedup.simhash(docs.where(col("doc_id") <= thr)))
    val b1 = docs.where(col("doc_id") > thr && col("doc_id") <= mid)
    val b2 = docs.where(col("doc_id") > mid)
    // day 1: ingest b1 and append its signatures; then a delete batch
    // lands (tombstones over everything ingested so far); day 2
    // ingests b2 against the post-delete state
    val store1 = store0.unionByName(Dedup.fpBlockKeys(Dedup.simhash(b1)))
    val tomb = docs.where(StoreLifecycle.tombstonedDocs(col("doc_id"), mid))
    assert(tomb.count() > 0, "tombstone slice must be non-empty")
    val got = Dedup
      .incrementalDedup(StoreLifecycle.applyTombstones(store1, tomb, "doc_id"), b2)
      .orderBy("doc_id").collect().toSeq
    // rebuild: a store built from a corpus that never ingested them
    val rebuilt = Dedup.fpBlockKeys(Dedup.simhash(docs.where(
      col("doc_id") <= mid &&
        !StoreLifecycle.tombstonedDocs(col("doc_id"), mid))))
    val want = Dedup.incrementalDedup(rebuilt, b2)
      .orderBy("doc_id").collect().toSeq
    assert(got == want,
      "append + delete + append must equal the never-ingested rebuild")
  }

  test("lifecycle: compaction rewrites layout, never answers (file-count A/B)") {
    import graft.sources.StagedLayouts
    val (app, _) = StagedLayouts.simhashStoreAppended(spark, sf)
    val (cmp, thr) = StagedLayouts.simhashStoreCompacted(spark, sf)
    val (base, _) = StagedLayouts.simhashStore(spark, sf)
    // the A/B: three appends fragmented the store (a file per bucket
    // PER APPEND); compaction restores one file per bucket
    val nApp = StagedLayouts.tableFileCount(spark, app)
    val nCmp = StagedLayouts.tableFileCount(spark, cmp)
    assert(nApp > nCmp && nCmp <= 8,
      s"expected fragmented > compacted <= 8 files, got $nApp vs $nCmp")
    // appended rows ≡ the one-shot store's rows
    assert(spark.table(app).exceptAll(spark.table(base)).isEmpty &&
      spark.table(base).exceptAll(spark.table(app)).isEmpty,
      "multi-append store must carry the identical rows")
    // compacted rows ≡ appended minus tombstones
    val tombRows = spark.table(app).where(
      graft.operators.StoreLifecycle.tombstonedDocs(col("doc_id"), thr))
    assert(spark.table(cmp).count() ==
      spark.table(app).count() - tombRows.count(),
      "compaction must fold in exactly the tombstoned rows")
    // serving equality at the query layer: compacted store ≡ logical
    // tombstone read — and the probe plan survives the rewrite
    // (still the bucketed exchange-free scan + broadcast batch)
    val del = graft.queries.DedupQueries
      .queries("dedup_incremental_delete")(spark, sf).collect().toSeq
    val viaCmp = graft.queries.DedupQueries
      .queries("dedup_incremental_compact")(spark, sf)
    assert(viaCmp.collect().toSeq == del,
      "compaction changed serving answers")
    val p = plan(viaCmp)
    assert(p.contains("BroadcastHashJoin") && p.contains("Bucketed: true"),
      "compacted store must keep the exchange-free bucketed probe plan")
  }

  test("lifecycle: merge-on-read delete — position files only, fold at compaction, one manifest") {
    import graft.operators.StoreLifecycle
    import graft.sources.StagedLayouts
    val m = StagedLayouts.simhashStoreMorManifest(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).sortBy(_._1)
    assert(m.map(_._1).toSeq == Seq(3, 4, 5) &&
      m.map(_._4).toSeq == Seq("ingest", "mor-delete", "cow-compact"),
      s"manifest must ladder ingest < mor-delete < cow-compact: ${m.toSeq}")
    val (_, appTbl, _, _, thr) = m(0)
    val (_, morTbl, delDir, _, _) = m(1)
    val (_, cmpTbl, delDirCmp, _, _) = m(2)
    // the MoR delete wrote ONLY the positional file: v4's data table
    // IS the ingest version's, and the delete dir holds one tiny file
    assert(morTbl == appTbl,
      "mor-delete must not rewrite data — same table as the ingest version")
    def parquetFiles(dir: String): Int = {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        .asScala.count(_.toString.endsWith(".parquet"))
    }
    assert(parquetFiles(delDir) == 1,
      "the delete path must land as one position-tombstone file")
    assert(parquetFiles(delDirCmp) == 0,
      "compaction must fold the tombstones away — 0 delete files after")
    // position rows address exactly the predicate's physical rows
    val nTomb = spark.table(appTbl)
      .where(StoreLifecycle.tombstonedDocs(col("doc_id"), thr)).count()
    val deletes = spark.read.parquet(delDir)
    assert(nTomb > 0 && deletes.count() == nTomb,
      "position-tombstone rows must match the tombstoned row count")
    // MoR read ≡ CoW read ≡ the logical key anti-join, row-for-row
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("doc_id", "bk").collect().toSeq
    val mor = StoreLifecycle.applyPositionTombstones(
      spark.table(morTbl), deletes)
    assert(rows(mor) == rows(spark.table(cmpTbl)),
      "MoR read diverged from the folded CoW store")
    assert(rows(mor) == rows(StoreLifecycle.applyTombstones(
        spark.table(appTbl),
        spark.table(appTbl)
          .where(StoreLifecycle.tombstonedDocs(col("doc_id"), thr)),
        "doc_id")),
      "position deletes diverged from the logical key deletes")
    // the fold restored the compact layout, bucket spec intact
    assert(StagedLayouts.tableFileCount(spark, cmpTbl) <= 8,
      "folding compaction must restore one file per bucket")
    // serving equality through the registry: MoR serving ≡ the logical
    // delete twin ≡ the CoW compact twin
    val got = graft.queries.DedupQueries
      .queries("q_store_mor_delete")(spark, sf).collect().toSeq
    assert(got == graft.queries.DedupQueries
        .queries("dedup_incremental_delete")(spark, sf).collect().toSeq,
      "MoR serving diverged from the logical-delete serving")
    // the MoR anti-join preserves the exchange-free bucketed scan: a
    // bk aggregate over the MoR read plans zero hash exchanges
    val p = plan(mor.groupBy(col("bk")).agg(count(lit(1))))
    assert(p.contains("Bucketed: true"),
      "MoR read lost the bucketed scan")
    assert(!p.contains("Exchange hashpartitioning"),
      "MoR read must stay exchange-free through the position anti-join")
  }

  test("lifecycle: time travel serves the pre-delete version exactly; current is undisturbed") {
    import graft.sources.StagedLayouts
    // the manifest resolves versions to the stores copy-on-write kept
    val versions = StagedLayouts.simhashStoreVersions(spark, sf)
      .collect().map(r => (r.getInt(0), r.getString(1), r.getString(2)))
      .sortBy(_._1)
    assert(versions.map(_._1).toSeq == Seq(3, 4) &&
      versions.last._3 == "compact+delete",
      s"manifest must list ingest < compact versions: ${versions.toSeq}")
    // read-at-version v−1 ≡ the PRE-DELETE serving, row-for-row (the
    // reproduce-yesterday's-training-input contract)
    val tt = graft.queries.DedupQueries
      .queries("q_store_time_travel")(spark, sf).collect().toSeq
    val preDelete = graft.queries.DedupQueries
      .queries("dedup_incremental")(spark, sf).collect().toSeq
    assert(tt == preDelete,
      "time-travel read diverged from the pre-delete serving")
    // and it must DIFFER from the post-delete current (the gate is
    // vacuous if the delete never changed a decision)
    val current = graft.queries.DedupQueries
      .queries("dedup_incremental_compact")(spark, sf).collect().toSeq
    assert(tt != current,
      "fixture delete must flip at least one decision or the gate is vacuous")
    // the historical read must not disturb current-version serving
    val currentAgain = graft.queries.DedupQueries
      .queries("dedup_incremental_compact")(spark, sf).collect().toSeq
    assert(currentAgain == current,
      "current-version serving changed after a time-travel read")
  }

  test("lifecycle: schema evolution NULL-fills legacy rows, keeps decisions and the bucketed plan") {
    import graft.sources.StagedLayouts
    val (tbl, thr) = StagedLayouts.simhashStoreEvolved(spark, sf)
    val store = spark.table(tbl)
    // legacy rows (pre-ALTER files) read back NULL; evolved rows carry
    // the deterministic rule's lang — schema evolution is metadata-only
    val byGen = store.groupBy((col("doc_id") % 3 === 2).as("evolved"))
      .agg(count(col("lang")).as("n_lang"), count(lit(1)).as("n"))
      .collect().map(r => r.getBoolean(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byGen(false)._1 == 0L && byGen(false)._2 > 0L,
      "legacy rows must NULL-fill the evolved column")
    assert(byGen(true)._1 == byGen(true)._2 && byGen(true)._2 > 0L,
      "post-evolution rows must all carry lang")
    // the evolved store must serve IDENTICAL decisions (evolution never
    // changes answers), with prior_lang layered on top
    val evo = graft.queries.DedupQueries
      .queries("q_store_schema_evolution")(spark, sf).collect().toSeq
    val plain = graft.queries.DedupQueries
      .queries("dedup_incremental")(spark, sf).collect().toSeq
    assert(evo.map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getInt(4))) ==
      plain.map(r => (r.getLong(0), r.getBoolean(1), r.getLong(2),
        if (r.isNullAt(3)) null else r.getLong(3),
        if (r.isNullAt(4)) null else r.getInt(4))),
      "schema evolution changed serving decisions")
    // the evolution column is observable (some matched prior is an
    // evolved store row) and correctly absent elsewhere
    val langs = evo.map(r => if (r.isNullAt(5)) null else r.getString(5))
    assert(langs.exists(_ != null), "no decision surfaced an evolved prior")
    evo.foreach { r =>
      val hasLang = !r.isNullAt(5)
      val prior = if (r.isNullAt(3)) None else Some(r.getLong(3))
      assert(hasLang == prior.exists(p => p <= thr && p % 3 == 2),
        s"prior_lang presence must follow the ingest rule: row $r")
    }
    // the bucket spec survived the ALTER: the store side of the probe
    // plans with NO exchange (the exchange-free serving contract)
    val p = plan(store.groupBy(col("bk")).agg(count(lit(1))))
    assert(!p.contains("Exchange hashpartitioning"),
      s"evolved store lost its bucketed layout:\n$p")
  }

  test("lifecycle: cluster delete re-solve ≡ converged recompute on the post-delete prefix") {
    import graft.operators.StoreLifecycle
    val (thr, _) = bounds
    val prefix = docs.where(col("doc_id") <= thr)
    val store = Dedup.fpBlockKeys(Dedup.simhash(prefix))
    val labels0 = Dedup.connectedComponentsConverged(Dedup.simhashPairs(prefix))
      .localCheckpoint(true)
    val tomb = prefix.where(StoreLifecycle.tombstonedDocs(col("doc_id"), thr))
    // non-vacuity: at least one deleted doc was actually clustered, so
    // an affected component exists and the re-solve path runs
    assert(labels0.join(tomb.select(col("doc_id").as("d")), Seq("d")).count() > 0,
      "fixture tombstones must touch a clustered doc")
    def tbl(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("d").collect().map(r => r.getLong(0) -> r.getLong(1)).toSeq
    val got = tbl(Dedup.deleteFromCluster(store, labels0, tomb))
    val want = tbl(Dedup.connectedComponentsConverged(Dedup.simhashPairs(
      prefix.where(!StoreLifecycle.tombstonedDocs(col("doc_id"), thr)))))
    assert(got == want,
      "affected-component re-solve must equal the post-delete converged recompute")
  }

  test("incremental decisions equal the whole-corpus recompute") {
    val (thr, _) = bounds
    val store = Dedup.fpBlockKeys(
      Dedup.simhash(docs.where(col("doc_id") <= thr)))
    val inc = Dedup
      .incrementalDedup(store, docs.where(col("doc_id") > thr))
      .orderBy("doc_id").collect().toSeq

    // recompute: the full pair set, never split — a batch doc's
    // decision is "∃ any smaller-id near-dup corpus-wide"
    val full = Dedup.simhashPairs(docs, maxHam = 3)
      .where(col("doc_b") > thr)
      .groupBy(col("doc_b").as("doc_id"))
      .agg(count(lit(1)).as("n_prior_dups"),
        min(col("doc_a")).as("nearest_prior"),
        min(col("ham")).as("min_ham"))
    val expected = Dedup.simhash(docs.where(col("doc_id") > thr))
      .select(col("doc_id"))
      .join(full, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_prior_dups").isNull.as("kept"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        col("nearest_prior"), col("min_ham"))
      .orderBy("doc_id").collect().toSeq

    assert(inc == expected)
    // the fixture corpus must exercise BOTH decision paths
    assert(inc.exists(_.getBoolean(1)) && inc.exists(!_.getBoolean(1)),
      "batch slice should contain kept docs and dropped docs")
  }

  test("semDedup ingest ≡ whole-corpus recompute, and batch-split associative") {
    import graft.operators.{Similarity, TrainedIvfCentroids}
    val cells = TrainedIvfCentroids.cells
    val emb = Similarity.emb(spark, sf)
    val maxId = emb.agg(max(col("vec_id"))).head().getLong(0)
    val thr = maxId * 4 / 5

    def celled(df: org.apache.spark.sql.DataFrame) =
      Similarity.ivfAssignBroadcast(df, cells)
    def dropsOf(prefix: org.apache.spark.sql.DataFrame) =
      prefix.select(col("vec_id")).join(
        Similarity.semDedup(prefix, cells, 0.4).select(col("vec_id")),
        Seq("vec_id"), "left_anti")

    val whole = Similarity.semDedup(emb, cells, 0.4)
      .orderBy("vec_id").collect().toSeq

    val prefix = emb.where(col("vec_id") <= thr)
    val store = celled(prefix)
    val prior = dropsOf(prefix)
    val batch = celled(emb.where(col("vec_id") > thr))
    val oneShot = Similarity.semDedupIngest(store, batch, prior, cells, 0.4)
      .orderBy("vec_id").collect().toSeq
    assert(oneShot == whole,
      "one-batch ingest diverged from the whole-corpus recompute")
    // the split must actually add drops (batch pairs exist on the fixture)
    assert(whole.size < emb.count(), "fixture has no semantic dups")

    // two-day ingest: day-1 result's drop set feeds day 2; the store
    // appends EVERY day-1 vector (kept and dropped)
    val mid = (thr + maxId) / 2
    val b1 = celled(emb.where(col("vec_id") > thr && col("vec_id") <= mid))
    val b2 = celled(emb.where(col("vec_id") > mid))
    val kept1 = Similarity.semDedupIngest(store, b1, prior, cells, 0.4)
    val drops1 = store.select(col("vec_id"))
      .unionByName(b1.select(col("vec_id")))
      .join(kept1.select(col("vec_id")), Seq("vec_id"), "left_anti")
    val twoDay = Similarity.semDedupIngest(
        store.unionByName(b1), b2, drops1, cells, 0.4)
      .orderBy("vec_id").collect().toSeq
    assert(twoDay == whole,
      "two-day ingest diverged from the whole-corpus recompute")
  }

  test("semDedup delete resurrects the deleted winner's loser (non-monotone delete)") {
    import graft.operators.{Similarity, StoreLifecycle, TrainedIvfCentroids}
    val cells = TrainedIvfCentroids.cells
    val emb = Similarity.emb(spark, sf)
    val thr = emb.agg(max(col("vec_id"))).head().getLong(0) * 4 / 5
    val keptAll = Similarity.semDedup(emb, cells, 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    val live = emb.where(!StoreLifecycle.semTombstonedVecs(col("vec_id"), thr))
    val keptDel = Similarity.semDedup(live, cells, 0.4)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    // measured before build, per scale: at sf0.001 the ≡6 mod 37 set
    // tombstones winner 43, whose loser 276 was dropped ONLY by that
    // pair — the delete must resurrect it (at sf0.01 the same
    // predicate deletes winner 191 and resurrects 431 — that case is
    // the driver oracle's)
    assert(keptAll.contains(43L) && !keptDel.contains(43L),
      "the tombstoned winner must vanish")
    assert(!keptAll.contains(276L) && keptDel.contains(276L),
      "deleting the winner must resurrect its loser")
    // and the registered query's composed path equals this recompute
    val viaQuery = graft.queries.SimilarityQueries
      .queries("dedup_semantic_delete")(spark, sf)
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(viaQuery == keptDel,
      "affected-cell re-solve diverged from whole-minus-deleted recompute")
  }

  test("lifecycle: semDedup compaction folds tombstones AND resurrections into the store pair") {
    import graft.sources.StagedLayouts
    import graft.operators.{Similarity, StoreLifecycle, TrainedIvfCentroids}
    val (app, thr) = StagedLayouts.semDropStoreAppended(spark, sf)
    val (postCmp, dropCmp, _) = StagedLayouts.semStoresCompacted(spark, sf)
    val (post, _) = StagedLayouts.ivfPostingsStore(spark, sf)
    // file-count A/B: three ingest-day appends fragmented the drop
    // store; compaction restores ONE file (and the rewritten postings
    // keep one file per cell bucket)
    val nApp = StagedLayouts.tableFileCount(spark, app)
    val nCmp = StagedLayouts.tableFileCount(spark, dropCmp)
    assert(nApp >= 3 && nCmp == 1,
      s"expected >=3 appended drop files -> 1 compacted, got $nApp vs $nCmp")
    assert(StagedLayouts.tableFileCount(spark, postCmp) <= 8,
      "compacted postings must stay one file per bucket")
    // postings rewrite: exactly the tombstoned vectors are gone
    val nTomb = spark.table(post).where(
      StoreLifecycle.semTombstonedVecs(col("vec_id"), thr)).count()
    assert(nTomb > 0 && spark.table(postCmp).count() ==
      spark.table(post).count() - nTomb,
      "postings compaction must fold in exactly the tombstoned vectors")
    // drop-store truth: the rewritten set IS semDropsAll(live prefix) —
    // and at least one RESURRECTION was folded in (a live vec that was
    // a drop row before compaction and is not one after)
    val cells = TrainedIvfCentroids.cells
    val live = Similarity.emb(spark, sf).where(col("vec_id") <= thr &&
      !StoreLifecycle.semTombstonedVecs(col("vec_id"), thr))
    val want = Similarity.semDropsAll(
        Similarity.withCentroidDist(
          Similarity.ivfAssignBroadcast(live, cells), cells), tau = 0.4)
      .collect().map(_.getLong(0)).toSet
    val gotDrops = spark.table(dropCmp).collect().map(_.getLong(0)).toSet
    assert(gotDrops == want,
      "compacted drops diverged from the live-prefix recompute")
    val oldDrops = spark.table(app).collect().map(_.getLong(0)).toSet
    val resurrected = (oldDrops -- gotDrops).filter(v =>
      !(v % 37 == 6 && v <= thr))
    assert(resurrected.nonEmpty,
      "fixture must exercise a resurrection (density-before-build)")
    // serving invariance: the PLAIN ingest over the compacted pair
    // answers exactly what the tombstone-aware delete path answers
    val viaCmp = graft.queries.SimilarityQueries
      .queries("dedup_semantic_compact")(spark, sf)
    val viaDel = graft.queries.SimilarityQueries
      .queries("dedup_semantic_delete")(spark, sf).collect().toSeq
    assert(viaCmp.collect().toSeq == viaDel,
      "compaction changed serving answers")
  }
}
