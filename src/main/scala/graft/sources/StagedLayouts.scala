package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hive-partitioned table layouts staged from the flat fixtures.
  *
  * The reference's only storage contract is directory-per-partition
  * (readme.txt:16-24 — mapper outputs land in per-partition files;
  * mapper.py:53-74 routes rows to them); its honest 100-TB
  * generalization is the hive `col=value/` directory layout plus
  * partition pruning, which is THE most common access path on a large
  * warehouse: a date-bracketed scan must read only the matching
  * directories, never the whole table.
  *
  * The driver fixtures are single flat parquet files, so the layout is
  * staged here once per (scale dir): events rewritten as
  * `event_date=YYYY-MM-DD/` directories (30 dates at every sf), plus a
  * tiny calendar dim keyed by those dates, plus the shared derived
  * relations and incremental-ingest stores below. At production scale
  * these tables would be WRITTEN in the first place and this staging
  * step disappears; the queries and plans are unchanged.
  *
  * Every artifact is built through [[stage]]: ONE memo keyed
  * `name:sfDir` for the JVM's life, one temp dir per build, all of them
  * removed by one shutdown hook (the streaming sinks' hygiene
  * contract). A builder calls the artifacts it depends on inline —
  * nesting is safe because the build never runs inside the memo map's
  * bin lock. No staged artifact is rewritten after its build.
  */
object StagedLayouts {

  // ---- the staging memo -----------------------------------------------

  /** One artifact's build, run at most once (a `lazy val` holds the
    * holder's lock while it builds, so concurrent callers of the same
    * artifact wait for it; a build that throws leaves it unset, and the
    * next call builds again).
    */
  private final class Staged[T](key: String, build: String => T) {
    lazy val value: T = {
      val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
      dirs.add(tmp)
      val outer = nestedSecs.get
      nestedSecs.set(0.0)
      val t0 = System.nanoTime()
      try {
        val r = build(tmp.toString)
        buildSecs.put(key, (System.nanoTime() - t0) / 1e9 - nestedSecs.get)
        r
      } finally nestedSecs.set(outer + (System.nanoTime() - t0) / 1e9)
    }
  }

  private val memo = new java.util.concurrent.ConcurrentHashMap[String, Staged[_]]()
  private val dirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()

  // ---- staging-cost attribution -------------------------------------
  // Staged artifacts move a round loop / index build out of the
  // queries that scan them, so a timed comparison against an engine
  // running the loop inline is only honest when the one-time build
  // cost is REPORTED next to the per-query numbers (the round-14
  // adjudication ask). Bench emits the per-artifact wall clock + total
  // as `staging` / `staging_sec` in its JSON. A build's seconds exclude
  // the dependency builds it runs nested (they are keyed on their own),
  // so the total counts each build once.
  private val buildSecs =
    new java.util.concurrent.ConcurrentHashMap[String, java.lang.Double]()
  private val nestedSecs = ThreadLocal.withInitial[Double](() => 0.0)

  /** Wall-clock seconds of every staged BUILD this JVM has run, keyed
    * `artifact:sfDir` — cache hits cost nothing and do not appear.
    */
  def stagingSeconds: Map[String, Double] = {
    import scala.jdk.CollectionConverters._
    buildSecs.asScala.map { case (k, v) => k -> v.doubleValue }.toMap
  }

  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = dirs.iterator()
      while (it.hasNext) {
        val p = it.next()
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).iterator().asScala.toSeq
            .sortBy(-_.getNameCount)
            .foreach(f => java.nio.file.Files.deleteIfExists(f))
        }
      }
    }))
    true
  }

  /** The artifact `name` of scale dir `sfDir`, built once per JVM by
    * `build` into a fresh temp dir (its argument) that the shutdown
    * hook removes. The map's mapping function only allocates the
    * holder; the build runs outside the map, so `build` may stage
    * other artifacts.
    */
  private[graft] def stage[T](name: String, sfDir: String)(build: String => T): T = {
    require(hookInstalled)
    val key = s"$name:$sfDir"
    memo.computeIfAbsent(key, _ => new Staged(key, build))
      .asInstanceOf[Staged[T]].value
  }

  /** Table-name suffix of a scale dir's staged catalog tables. */
  private def tag(sfDir: String): String =
    java.lang.Integer.toHexString(sfDir.hashCode)

  /** "Yesterday's corpus" of the incremental-ingest stores: ids up to
    * 4/5 of the max id are the already-ingested prefix, the rest the
    * new batch.
    */
  private def prefixThreshold(df: DataFrame, id: String): Long =
    df.agg(max(col(id))).head().getLong(0) * 4 / 5

  private def stageDir(s: SparkSession, sfDir: String): String =
    stage("events", sfDir) { tmp =>
      val ev = graft.Tables.events(s, sfDir)
        .withColumn("event_date", to_date(col("ts")))
      // one shuffle keyed by the partition column → exactly one file per
      // date directory (without it every input task writes a sliver into
      // every directory — the classic small-files bug partitioned writes
      // hit at scale)
      ev.repartition(col("event_date"))
        .write.partitionBy("event_date").mode("overwrite")
        .parquet(s"$tmp/events_by_date")
      // calendar dim: one row per present date + ISO weekday attribute.
      // Written as a real parquet table (not an in-memory relation) so
      // the DPP planner sees the production shape: dim scan → filter →
      // broadcast → dynamic-pruning subquery on the fact scan.
      ev.select(col("event_date").as("d")).distinct()
        .withColumn("isodow", (weekday(col("d")) + lit(1)).cast("int"))
        .coalesce(1)
        .write.mode("overwrite").parquet(s"$tmp/date_dim")
      tmp
    }

  /** events with hive layout `event_date=.../` — the partition column
    * comes back from directory names, so date predicates prune at the
    * DIRECTORY level (PartitionFilters), before any file is opened.
    */
  def eventsByDate(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${stageDir(s, sfDir)}/events_by_date")

  /** Calendar dimension (d DATE, isodow 1=Mon..7=Sun) over the dates
    * present in events.
    */
  def dateDim(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${stageDir(s, sfDir)}/date_dim")

  // ---- bucketed fact tables (co-located join layout) -----------------

  /** Stage lineitem and orders as BUCKETED tables (8 buckets on the join
    * key, sorted within buckets) in the session catalog, data in a
    * registered temp dir. Bucketing is THE co-located-join layout at
    * warehouse scale: both sides pre-hashed into the same bucket scheme
    * means a fact-fact join needs NO exchange — the dominant cost of a
    * 100-TB fact-fact join paid once at write time instead of per
    * query. (The in-partition SMJ Sort remains: Spark ignores sortBy
    * metadata on read unless the legacy
    * `bucketedTableScan.outputOrdering` flag is on, because a bucket
    * that ever compacts to >1 file can't guarantee global order — the
    * sort is exchange-free and spills at worst locally, so the default
    * is the right production trade.) The `repartition(8, key)` before
    * the write aligns task hashing with bucket hashing (both Murmur3),
    * so each bucket gets exactly ONE file rather than a sliver per task
    * — the same small-files discipline as the hive layout above.
    *
    * Returns (lineitem table name, orders table name).
    */
  def bucketedLineitemOrders(s: SparkSession, sfDir: String): (String, String) =
    stage("bucketed", sfDir) { tmp =>
      val liName = s"graft_li_bkt_${tag(sfDir)}"
      val ordName = s"graft_ord_bkt_${tag(sfDir)}"
      graft.Tables.lineitem(s, sfDir)
        .select(col("l_orderkey"), col("l_quantity"), col("l_extendedprice"))
        .repartition(8, col("l_orderkey"))
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$tmp/$liName")
        .mode("overwrite").saveAsTable(liName)
      graft.Tables.orders(s, sfDir)
        .select(col("o_orderkey"), col("o_orderpriority"), col("o_totalprice"))
        .repartition(8, col("o_orderkey"))
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$tmp/$ordName")
        .mode("overwrite").saveAsTable(ordName)
      (liName, ordName)
    }

  // ---- incremental-ingest signature store -----------------------------

  /** The persisted simhash signature STORE for incremental corpus
    * ingest (`dedup_incremental`): fingerprints of the already-ingested
    * corpus prefix (doc_id ≤ 4/5·max — the fixture's stand-in for
    * "yesterday's corpus"), exploded into combined block keys
    * (Dedup.fpBlockKeys) and written BUCKETED on `bk` — at production
    * scale this table is append-only across ingests and the probe join
    * needs no store-side exchange whatever the corpus volume (and the
    * batch side broadcasts anyway). Returns (table name, prefix
    * threshold); batch = doc_id > threshold.
    */
  def simhashStore(s: SparkSession, sfDir: String): (String, Long) =
    stage("sigstore", sfDir) { tmp =>
      val name = s"graft_sigstore_${tag(sfDir)}"
      val docs = graft.Tables.documents(s, sfDir)
      val thr = prefixThreshold(docs, "doc_id")
      graft.operators.Dedup.fpBlockKeys(
          graft.operators.Dedup.simhash(docs.where(col("doc_id") <= thr)))
        .repartition(8, col("bk"))
        .write.bucketBy(8, "bk").sortBy("bk")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  /** The CONVERGED cluster labels of the corpus PREFIX (doc_id ≤
    * 4/5·max — [[simhashStore]]'s threshold contract), materialized
    * once per scale dir: the second half of the incremental-cluster
    * state (`dedup_cluster_incremental` probes the block-key store for
    * delta pairs and re-roots THESE labels through the merge map). At
    * production scale this is yesterday's label table — written by
    * yesterday's ingest, read-only today.
    */
  def prefixClusterLabels(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("prefixcc", sfDir) { tmp =>
      val docs = graft.Tables.documents(s, sfDir)
      val thr = prefixThreshold(docs, "doc_id")
      graft.operators.Dedup.connectedComponentsConverged(
          graft.operators.Dedup.simhashPairs(docs.where(col("doc_id") <= thr)))
        .write.mode("overwrite").parquet(s"$tmp/labels")
      tmp
    }
    s.read.parquet(s"$dir/labels")
  }

  /** The MinHash twin of [[simhashStore]]: band rows (band, k0, k1,
    * doc_id, h0..h11) of the already-ingested prefix, signatures riding
    * the band rows, bucketed on the band key — the persisted probe side
    * of `dedup_incremental_minhash`. Same threshold contract.
    */
  def minhashStore(s: SparkSession, sfDir: String): (String, Long) =
    stage("minhash", sfDir) { tmp =>
      val name = s"graft_mhstore_${tag(sfDir)}"
      val docs = graft.Tables.documents(s, sfDir)
      val thr = prefixThreshold(docs, "doc_id")
      graft.operators.Dedup.minhashBandRows(
          graft.operators.Dedup.minhashSignatureFast(
            docs.where(col("doc_id") <= thr), n = 8, nHash = 12),
          nHash = 12, rowsPerBand = 2)
        .repartition(8, col("band"), col("k0"), col("k1"))
        .write.bucketBy(8, "band", "k0", "k1").sortBy("band")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  /** The persisted IVF postings STORE for incremental ANN ingest
    * (`sim_ann_incremental`) — the `sim_*` twin of [[simhashStore]]:
    * the already-ingested embedding prefix (vec_id ≤ 4/5·max, the
    * fixture's "yesterday's corpus") assigned to its coarse cells via
    * the broadcast centroid table
    * (Similarity.ivfAssignBroadcast / TrainedIvfCentroids) and written
    * BUCKETED on `cell` — at production scale this table is
    * append-only across ingests (assignment is per-vector independent,
    * so appending a batch lands on the same rows a full rebuild would)
    * and the serve probe streams it with no store-side exchange.
    * Returns (table name, prefix threshold); batch = vec_id > thr.
    */
  def ivfPostingsStore(s: SparkSession, sfDir: String): (String, Long) =
    stage("ivf", sfDir) { tmp =>
      val name = s"graft_ivfstore_${tag(sfDir)}"
      val embDf = graft.operators.Similarity.emb(s, sfDir)
      val thr = prefixThreshold(embDf, "vec_id")
      graft.operators.Similarity.ivfAssignBroadcast(
          embDf.where(col("vec_id") <= thr),
          graft.operators.TrainedIvfCentroids.cells)
        .repartition(8, col("cell"))
        .write.bucketBy(8, "cell").sortBy("cell")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  /** Persisted SemDeDup drop set of the embedding PREFIX corpus
    * (vec_id ≤ 4/5·max — the ivfPostingsStore threshold): the prefix
    * vec_ids that lost at least one within-cell dup pair under the
    * keep-farthest rule. The incremental form
    * (`dedup_semantic_incremental`) unions this with the drops from
    * pairs touching the new batch — store×store pairs are never
    * re-scored (Similarity.semDedupIngest scaladoc). Tiny table (the
    * drop FRACTION is bounded by the corpus dup rate), one file.
    * Returns (table name, prefix threshold).
    */
  def semDropStore(s: SparkSession, sfDir: String): (String, Long) =
    stage("semdrops", sfDir) { tmp =>
      val name = s"graft_semdrops_${tag(sfDir)}"
      val embDf = graft.operators.Similarity.emb(s, sfDir)
      val thr = prefixThreshold(embDf, "vec_id")
      val prefix = embDf.where(col("vec_id") <= thr)
      val kept = graft.operators.Similarity.semDedup(
        prefix, graft.operators.TrainedIvfCentroids.cells, tau = 0.4)
      prefix.select(col("vec_id"))
        .join(kept.select(col("vec_id")), Seq("vec_id"), "left_anti")
        .coalesce(1)
        .write.option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  /** [[semDropStore]] REBUILT as three appends (vec_id % 3 sub-ranges —
    * the fixture's stand-in for three incremental-ingest days, the
    * simhashStoreAppended shape): the drop store a real SemDeDup
    * pipeline accumulates, one file per append. Rows are identical to
    * the one-shot store; only the file layout decays. Returns
    * (table name, prefix threshold).
    */
  def semDropStoreAppended(s: SparkSession, sfDir: String): (String, Long) =
    stage("semdropsapp", sfDir) { tmp =>
      val (base, thr) = semDropStore(s, sfDir)
      val name = s"graft_semdrops_app_${tag(sfDir)}"
      val rows = s.table(base)
      (0 until 3).foreach { day =>
        val w = rows.where(col("vec_id") % 3 === day).coalesce(1).write
        (if (day == 0) w.option("path", s"$tmp/$name").mode("overwrite")
         else w.mode("append")).saveAsTable(name)
      }
      (name, thr)
    }

  /** The COMPACTED SemDeDup store PAIR — the lifecycle pass the r15
    * wave missed: deletes re-solved AROUND the drop store but never
    * folded the tombstones/resurrections INTO it, so it only grew.
    * This copy-on-write rewrite restores both stores to their
    * post-delete truth:
    *
    *  - postings: [[ivfPostingsStore]] minus the semantic tombstones
    *    (StoreLifecycle.semTombstonedVecs), rewritten ONE file per
    *    `cell` bucket with bucketing preserved (the
    *    simhashStoreCompacted plain-file-scan discipline — reading via
    *    the catalog would let autoBucketedScan fragment the rewrite);
    *  - drops: unaffected cells keep their persisted decisions
    *    verbatim; cells that lost a member are re-solved from their
    *    LIVE members only (Similarity.semDropsAll — the
    *    dedup_semantic_delete kernel), which is where a deleted
    *    dup-winner's loser RESURRECTS: it simply stops being a drop
    *    row in the rewritten store. Result = semDropsAll(live prefix)
    *    exactly, so serving needs no tombstone logic anywhere —
    *    `dedup_semantic_compact` runs the PLAIN ingest path against
    *    the pair and must equal the whole-corpus-minus-deleted
    *    recompute (the serving-invariance oracle). Back to one file
    *    (IncrementalSpec A/Bs the counts against [[semDropStoreAppended]]).
    *
    * Returns (postings table, drops table, prefix threshold).
    */
  def semStoresCompacted(s: SparkSession, sfDir: String): (String, String, Long) =
    stage("semcmp", sfDir) { tmp =>
      val postName = s"graft_ivfstore_semcmp_${tag(sfDir)}"
      val dropName = s"graft_semdrops_cmp_${tag(sfDir)}"
      val (baseName, thr) = ivfPostingsStore(s, sfDir)
      val (dropsApp, _) = semDropStoreAppended(s, sfDir)
      val tombP = graft.operators.StoreLifecycle
        .semTombstonedVecs(col("vec_id"), thr)
      // plain-file scan (not the catalog table) so the bucket-aligned
      // exchange actually runs — the simhashStoreCompacted lesson
      val store = s.read.parquet(tableLocation(s, baseName))
      val live = store.where(!tombP)
      live.repartition(8, col("cell"))
        .write.bucketBy(8, "cell").sortBy("cell")
        .option("path", s"$tmp/$postName")
        .mode("overwrite").saveAsTable(postName)
      val affCells = store.where(tombP).select(col("cell")).distinct()
      val keptDropsU = s.read.parquet(tableLocation(s, dropsApp))
        .join(store.select(col("vec_id"), col("cell")), "vec_id")
        .join(affCells, Seq("cell"), "left_anti")
        .select(col("vec_id"))
      val resolvedA = graft.operators.Similarity.semDropsAll(
        graft.operators.Similarity.withCentroidDist(
          live.join(affCells, Seq("cell"), "left_semi"),
          graft.operators.TrainedIvfCentroids.cells),
        tau = 0.4)
      keptDropsU.unionByName(resolvedA).coalesce(1)
        .write.option("path", s"$tmp/$dropName")
        .mode("overwrite").saveAsTable(dropName)
      (postName, dropName, thr)
    }

  // ---- store lifecycle: multi-append + compacted variants -------------

  /** The simhash signature store REBUILT as three bucketed APPENDS
    * (sub-ranges doc_id % 3 of [[simhashStore]]'s rows — the fixture's
    * stand-in for three ingest days): every append writes its own file
    * per bucket, so the table accumulates 3×8 files — the small-files
    * decay a real append-only store suffers, staged honestly so
    * compaction has something real to fix (IncrementalSpec pins the
    * before/after file counts). Rows are identical to the one-shot
    * store; the probe plan is unchanged (still bucketed on `bk`).
    * Returns (table name, prefix threshold).
    */
  def simhashStoreAppended(s: SparkSession, sfDir: String): (String, Long) =
    stage("sigapp", sfDir) { tmp =>
      val (base, thr) = simhashStore(s, sfDir)
      val name = s"graft_sigstore_app_${tag(sfDir)}"
      val rows = s.table(base)
      (0 until 3).foreach { day =>
        val w = rows.where(col("doc_id") % 3 === day)
          .repartition(8, col("bk"))
          .write.bucketBy(8, "bk").sortBy("bk")
        (if (day == 0) w.option("path", s"$tmp/$name").mode("overwrite")
         else w.mode("append")).saveAsTable(name)
      }
      (name, thr)
    }

  /** The COMPACTED simhash store: [[simhashStoreAppended]] with the
    * lifecycle tombstones (StoreLifecycle.tombstonedDocs) folded in
    * and the layout rewritten copy-on-write — back to ONE file per
    * bucket, still bucketed on `bk` so the exchange-free probe plan
    * survives the rewrite. This is the compaction pass a production
    * store runs after accumulated appends + deletes; serving from it
    * must equal serving from (appended store ▷ tombstones) — the
    * `dedup_incremental_compact` gate. Returns (table name, thr).
    */
  def simhashStoreCompacted(s: SparkSession, sfDir: String): (String, Long) =
    stage("sigcmp", sfDir) { tmp =>
      val (app, thr) = simhashStoreAppended(s, sfDir)
      val name = s"graft_sigstore_cmp_${tag(sfDir)}"
      // read the store's FILES as a plain parquet scan (what a real
      // compactor does): reading via the catalog table claims
      // HashPartitioning(bk, 8), which lets Catalyst drop the
      // repartition as redundant — and then autoBucketedScan executes
      // the scan UNBUCKETED (nothing downstream needs the
      // distribution), so write tasks hold mixed buckets and the
      // rewrite fragments to ~17 files instead of 8 (observed; the
      // IncrementalSpec A/B caught it). A plain scan advertises no
      // partitioning, so the bucket-aligned exchange actually runs.
      s.read.parquet(tableLocation(s, app))
        .where(!graft.operators.StoreLifecycle.tombstonedDocs(col("doc_id"), thr))
        .repartition(8, col("bk"))
        .write.bucketBy(8, "bk").sortBy("bk")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  /** The SCHEMA-EVOLVED simhash store — the add-column lifecycle step
    * the versioned store family was missing: two legacy ingest batches
    * written under the original (doc_id, fp, bk) schema, then
    * `ALTER TABLE ... ADD COLUMNS (lang STRING)` (metadata-only — no
    * file is rewritten, the Delta/Iceberg add-column shape), then one
    * post-evolution batch carrying the new column. Old files simply
    * lack the column and the reader NULL-fills it; the table keeps its
    * `bk` bucket spec across the evolution, so the exchange-free probe
    * plan survives (IncrementalSpec pins both). Batch split is the
    * deterministic doc_id % 3 rule (2 = evolved), lang =
    * ('en','de','fr')[(doc_id DIV 3) % 3] — reconstructible by the
    * DuckDB oracle without ever seeing the store. Returns
    * (table name, thr).
    */
  def simhashStoreEvolved(s: SparkSession, sfDir: String): (String, Long) =
    stage("sigevo", sfDir) { tmp =>
      val (base, thr) = simhashStore(s, sfDir)
      val name = s"graft_sigstore_evo_${tag(sfDir)}"
      val rows = s.table(base)
      (0 until 2).foreach { day =>
        val w = rows.where(col("doc_id") % 3 === day)
          .repartition(8, col("bk"))
          .write.bucketBy(8, "bk").sortBy("bk")
        (if (day == 0) w.option("path", s"$tmp/$name").mode("overwrite")
         else w.mode("append")).saveAsTable(name)
      }
      s.sql(s"ALTER TABLE $name ADD COLUMNS (lang STRING)")
      rows.where(col("doc_id") % 3 === 2)
        .withColumn("lang", expr(
          "CASE ((doc_id DIV 3) % 3) WHEN 0 THEN 'en' WHEN 1 THEN 'de' ELSE 'fr' END"))
        .repartition(8, col("bk"))
        .write.bucketBy(8, "bk").sortBy("bk")
        .mode("append").saveAsTable(name)
      (name, thr)
    }

  /** The simhash store's VERSION MANIFEST — the read-at-version log
    * over the lifecycle the appended/compacted stores already stage:
    * copy-on-write keeps superseded versions on disk, and this tiny
    * persisted table (the log IS storage — the Delta/Iceberg shape) is
    * what resolves "version N" to a concrete table. One row per
    * addressable version: v3 = the 3-append ingest ladder's final
    * state (pre-delete), v4 = the tombstone-folding compaction
    * (current = max(version)). Versions 1–2 are the mid-ladder append
    * states — real in the file layout but not separately addressable
    * (each append extends the same table), exactly like a log whose
    * older snapshots have been vacuumed. At production scale the
    * manifest is the only thing a time-travel read ever scans before
    * touching data: resolving a version is a K-row driver lookup, and
    * serving then runs the UNCHANGED bucketed probe plan against the
    * resolved table.
    */
  def simhashStoreVersions(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("sigversions", sfDir) { tmp =>
      val (app, thrA) = simhashStoreAppended(s, sfDir)
      val (cmp, thrC) = simhashStoreCompacted(s, sfDir)
      import s.implicits._
      Seq((3, app, "ingest", thrA), (4, cmp, "compact+delete", thrC))
        .toDF("version", "table_name", "action", "thr")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/manifest")
      tmp
    }
    s.read.parquet(s"$dir/manifest")
  }

  /** The MERGE-ON-READ lifecycle manifest — the delete path
    * [[simhashStoreCompacted]]'s copy-on-write rewrite cannot afford
    * at high churn, staged as one addressable version ladder (the
    * log-is-storage shape of [[simhashStoreVersions]], extended with a
    * per-version DELETE-FILE pointer so MoR and CoW serve from the
    * SAME manifest). One row per servable version
    * (version, table_name, delete_dir, action, thr):
    *
    *   3 ingest      — the 3-append ladder; no delete files;
    *   4 mor-delete  — the SAME data files (file-for-file: the delete
    *                   wrote one kilobyte-scale position-tombstone
    *                   file, StoreLifecycle.positionTombstones, and
    *                   touched nothing else) + that delete file;
    *   5 cow-compact — the folding compaction: ONE bucketed rewrite
    *                   off the MoR read, tombstones folded in,
    *                   delete_dir EMPTY (0 files — the fold retires
    *                   the positional files).
    *
    * Serving v4 (scan ▷ position anti-join) and v5 (plain scan) must
    * answer identically — IncrementalSpec pins it row-for-row plus the
    * file-count A/Bs on both sides of the fold.
    */
  def simhashStoreMorManifest(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("sigmor", sfDir) { tmp =>
      val (app, thr) = simhashStoreAppended(s, sfDir)
      // v4's delete file: positions of the tombstoned physical rows,
      // read off the store's own scan — data files untouched
      graft.operators.StoreLifecycle.positionTombstones(s.table(app),
          graft.operators.StoreLifecycle.tombstonedDocs(col("doc_id"), thr))
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/deletes_v4")
      // v5: fold the tombstones — plain-file scan for the same
      // autoBucketedScan fragmentation reason as simhashStoreCompacted
      val name = s"graft_sigstore_morcmp_${tag(sfDir)}"
      graft.operators.StoreLifecycle.applyPositionTombstones(
          s.read.parquet(tableLocation(s, app)),
          s.read.parquet(s"$tmp/deletes_v4"))
        .repartition(8, col("bk"))
        .write.bucketBy(8, "bk").sortBy("bk")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      java.nio.file.Files
        .createDirectory(java.nio.file.Paths.get(s"$tmp/deletes_v5"))
      import s.implicits._
      Seq((3, app, "", "ingest", thr),
          (4, app, s"$tmp/deletes_v4", "mor-delete", thr),
          (5, name, s"$tmp/deletes_v5", "cow-compact", thr))
        .toDF("version", "table_name", "delete_dir", "action", "thr")
        .coalesce(1).write.mode("overwrite").parquet(s"$tmp/manifest")
      tmp
    }
    s.read.parquet(s"$dir/manifest")
  }

  /** The COMPACTED IVF-PQ postings store — [[simhashStoreCompacted]]'s
    * twin on the fastest-growing store (codes per vector, many
    * batches): [[ivfPqPostingsStore]] with the vector tombstones
    * (StoreLifecycle.tombstonedVecs) folded in, rewritten one file
    * per `cell` bucket. `sim_ann_delete_pq` serves from it and must
    * match the whole-corpus-minus-deleted recompute. Returns
    * (table name, thr).
    */
  def ivfPqStoreCompacted(s: SparkSession, sfDir: String): (String, Long) =
    stage("ivfpqcmp", sfDir) { tmp =>
      val (base, thr) = ivfPqPostingsStore(s, sfDir)
      val name = s"graft_ivfpqstore_cmp_${tag(sfDir)}"
      // plain-file scan for the same reason as simhashStoreCompacted
      s.read.parquet(tableLocation(s, base))
        .where(!graft.operators.StoreLifecycle.tombstonedVecs(col("vec_id"), thr))
        .repartition(8, col("cell"))
        .write.bucketBy(8, "cell").sortBy("cell")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  private def tableLocation(s: SparkSession, tableName: String): String =
    s.sql(s"DESCRIBE TABLE EXTENDED $tableName")
      .where(col("col_name") === "Location")
      .head().getString(1)

  /** Parquet data-file count of a staged TABLE's directory — the
    * compaction A/B measurement (IncrementalSpec).
    */
  def tableFileCount(s: SparkSession, tableName: String): Int = {
    val loc = tableLocation(s, tableName).stripPrefix("file:")
    import scala.jdk.CollectionConverters._
    java.nio.file.Files.walk(java.nio.file.Paths.get(loc)).iterator().asScala
      .count(p => p.toString.endsWith(".parquet"))
  }

  // ---- shared co-occurrence edge list (graph consumers) --------------

  /** Part co-occurrence (market-basket) edge list `(u, v)` with u < v,
    * one edge per part pair sharing an order — MATERIALIZED once per
    * scale dir and shared by every graph consumer (k-core, triangles).
    *
    * The build (distinct (order, part) self-join + distinct) is the
    * dominant cost of both consumers and is identical for both; before
    * staging, each re-derived it independently — a bench double-pay
    * flagged in the round-9 adjudication. At warehouse scale this IS
    * the production shape: a derived graph relation is written once
    * and consumers scan it, rather than re-joining the fact table per
    * query. The parquet round-trip also hands the consumers real scan
    * stats (size-based join planning) instead of an opaque subtree.
    */
  def basketEdges(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("basket", sfDir) { tmp =>
      val op = graft.Tables.lineitem(s, sfDir)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
        .distinct()
      op.alias("a").join(op.alias("b"), col("a.ok") === col("b.ok"))
        .where(col("a.p") < col("b.p"))
        .select(col("a.p").as("u"), col("b.p").as("v"))
        .distinct()
        .write.mode("overwrite").parquet(s"$tmp/basket_edges")
      tmp
    }
    s.read.parquet(s"$dir/basket_edges")
  }

  // ---- shared simhash near-dup pairs + cluster labels ----------------

  /** Simhash Hamming-≤3 near-dup pairs over `documents` AND their
    * 6-round hash-min CC label table, materialized once per scale dir.
    * FOUR registered queries consume this build (`dedup_simhash_hamming`
    * the pairs; `dedup_cluster` / `dedup_canonical` /
    * `pipeline_split_leakproof` the labels) and each re-derived it
    * independently — the same triple-pay shape as the basket edges,
    * and like there the shared build (simhash fingerprints + banded
    * self-join + 6 CC join-aggregate rounds) dominates while the
    * materialized outputs are tiny (pair list + one row per clustered
    * doc). The labels are built FROM the staged pairs, so the pair
    * computation runs exactly once. Production shape: a dedup pipeline
    * writes its pair/cluster tables once and every downstream consumer
    * (canonicalization, splits, audits) scans them.
    */
  private def simhashDir(s: SparkSession, sfDir: String): String =
    stage("simhashcc", sfDir) { tmp =>
      graft.operators.Dedup
        .simhashPairs(graft.Tables.documents(s, sfDir), maxHam = 3)
        .write.mode("overwrite").parquet(s"$tmp/pairs")
      val pairs = s.read.parquet(s"$tmp/pairs")
        .select(col("doc_a"), col("doc_b"))
      graft.operators.Dedup.connectedComponents(pairs, iters = 6)
        .write.mode("overwrite").parquet(s"$tmp/labels")
      tmp
    }

  // ---- shared HyperBall round states ---------------------------------

  /** The packed HyperBall register states for rounds 0..3 over the
    * supply graph, materialized once per scale dir. TWO registered
    * queries consume the identical round loop (`graph_ball_sketch`
    * folds the last state; `graph_eff_diameter` folds every state) and
    * each re-ran the 3 edge-join/merge rounds independently — the
    * basket-edges/simhash shape again. The staged artifact is |V| rows
    * of 64-long arrays per round (~tens of MB at sf0.1); production
    * shape: a HyperANF run checkpoints its per-round states and every
    * downstream statistic (per-node sizes, neighborhood function,
    * centralities) reads them.
    */
  private def hyperballDir(s: SparkSession, sfDir: String): String =
    stage("hyperball", sfDir) { tmp =>
      val sts = graft.operators.HyperBall.packedStates(
        supplyEdges(s, sfDir), rounds = 3,
        broadcastSketches = None, broadcastMaxNodes = 150000L)
      sts.zipWithIndex.foreach { case (st, r) =>
        st.write.mode("overwrite").parquet(s"$tmp/round$r")
      }
      tmp
    }

  /** Round-indexed packed states (index = round, 0..3). */
  def hyperballStates(s: SparkSession, sfDir: String): Seq[DataFrame] = {
    val dir = hyperballDir(s, sfDir)
    (0 to 3).map(r => s.read.parquet(s"$dir/round$r"))
  }

  /** The compressed (PQ-coded) twin of [[ivfPostingsStore]]: the
    * embedding prefix encoded to (cell, vec_id, code0..code3) via the
    * broadcast IVF+PQ model (Similarity.ivfPqEncodeBroadcast) and
    * written bucketed on `cell` — at 100 TB the store carries a few
    * small ints per vector (the original floats never enter it) and
    * is append-only across ingests. Returns (table name, threshold).
    */
  def ivfPqPostingsStore(s: SparkSession, sfDir: String): (String, Long) =
    stage("ivfpq", sfDir) { tmp =>
      val name = s"graft_ivfpqstore_${tag(sfDir)}"
      val embDf = graft.operators.Similarity.emb(s, sfDir)
      val thr = prefixThreshold(embDf, "vec_id")
      graft.operators.Similarity.ivfPqEncodeBroadcast(
          embDf.where(col("vec_id") <= thr),
          graft.operators.TrainedIvfCentroids.cells,
          graft.operators.TrainedPqCodebooks.books)
        .repartition(8, col("cell"))
        .write.bucketBy(8, "cell").sortBy("cell")
        .option("path", s"$tmp/$name")
        .mode("overwrite").saveAsTable(name)
      (name, thr)
    }

  // ---- persisted unigram-LM tokenizer model --------------------------

  /** The fitted 2-round unigram-LM model (piece, cnt) materialized
    * once per scale dir — the tokenizer-SERVING store: training runs
    * once (UnigramLm.fit, the cap-bounded EM) and writes its model
    * table; every encode consumer reads the table and computes the
    * Laplace weights in-plan, so the serving path has zero driver
    * collect at any corpus size (`text_unigram_encode_store`).
    */
  def unigramModel(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("unigram", sfDir) { tmp =>
      graft.operators.UnigramLm
        .fit(graft.Tables.documents(s, sfDir), rounds = 2)
        .write.mode("overwrite").parquet(s"$tmp/model")
      tmp
    }
    s.read.parquet(s"$dir/model")
  }

  // ---- shared flow graph ---------------------------------------------

  /** The directed fulfillment-flow graph (flowEdges: per-order line
    * chains + return loops) staged once per scale dir — the supplyEdges
    * treatment: the window + aggregate chain behind it re-ran per
    * consumer action (the SCC label build AND every graph_scc_condense
    * call paid it).
    */
  def flowEdges(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("flow", sfDir) { tmp =>
      graft.queries.GraphQueries.flowEdgesInline(s, sfDir)
        .write.mode("overwrite").parquet(tmp)
      tmp
    }
    s.read.parquet(dir)
  }

  // ---- staged streaming source layouts --------------------------------

  /** The 3-tertile event stream source dir (b1/b2/b3.parquet with
    * ascending pinned mod times) — the micro-batch feed
    * `stream_subseq_sink` and `stream_cusum_sink` replay. Staged once
    * per scale dir (optimization round 19, guide §1.2 step 1): each
    * invocation previously re-ran the global ntile window plus three
    * coalesce(1) write jobs just to lay the SAME deterministic input
    * files out again. The staged dir is read-only — every streaming run
    * still starts a fresh checkpoint and re-processes the batches from
    * these files (nothing about the computation is memoized).
    * Contract: batch k's events all precede batch k+1's in
    * (ts_us, event_id) order, so a per-batch sorted fold composes into
    * the global sequential fold. Tertile rank is in the MATCHER'S
    * order — (ts_us, event_id), NOT (ts_ns, event_id): with
    * nano-precision fixtures two same-user events can share ts_us with
    * opposite ns/id order, and a ns-ranked boundary between them would
    * stage them out of the order the per-batch sort + oracle use.
    */
  def eventTertiles(s: SparkSession, sfDir: String): String =
    stage("strmter", sfDir) { dir =>
      import scala.jdk.CollectionConverters._
      val tmp = java.nio.file.Paths.get(dir)
      val ev = graft.Tables.events(s, sfDir)
      val ranked = ev.withColumn("_t", org.apache.spark.sql.functions.ntile(3)
        .over(org.apache.spark.sql.expressions.Window
          .orderBy(org.apache.spark.sql.functions.expr("ts_ns DIV 1000"),
            col("event_id"))))
      (1 to 3).foreach { i =>
        // written beside the batch files, then the one part file moved
        // out and the rest of the write dir removed
        val sub = tmp.resolve(s"part$i")
        ranked.where(col("_t") === i)
          .select("event_id", "ts", "user_id", "event_type", "value", "props")
          .coalesce(1).write.mode("overwrite").parquet(sub.toString)
        val part = java.nio.file.Files.list(sub).iterator().asScala
          .find(_.getFileName.toString.endsWith(".parquet")).get
        val dst = tmp.resolve(s"b$i.parquet")
        java.nio.file.Files.move(part, dst)
        java.nio.file.Files.setLastModifiedTime(dst,
          java.nio.file.attribute.FileTime
            .fromMillis(1000000000000L + i * 60000L))
        java.nio.file.Files.walk(sub).iterator().asScala.toSeq
          .sortBy(-_.getNameCount)
          .foreach(f => java.nio.file.Files.deleteIfExists(f))
      }
      dir
    }

  /** The 3-way modulo split of the embedding table — the incremental
    * ingest feed `stream_semdedup_sink` replays (batch i = vec_id ≡ i
    * mod 3, ascending file mod times = ingest order). Staged once per
    * scale dir for the same reason as [[eventTertiles]]: the split is
    * a pure function of the fixture, and each invocation re-ran three
    * filtered scan+write jobs to recreate it.
    */
  def embStreamSrc(s: SparkSession, sfDir: String): String =
    stage("strmemb", sfDir) { tmp =>
      val raw = graft.Tables.embeddings(s, sfDir)
      (0 until 3).foreach { i =>
        raw.where(org.apache.spark.sql.functions
            .pmod(col("vec_id"), org.apache.spark.sql.functions.lit(3)) === i)
          .coalesce(1)
          .write.mode(if (i == 0) "overwrite" else "append")
          .parquet(tmp)
      }
      tmp
    }

  // ---- shared supply graph -------------------------------------------

  /** The deduplicated symmetric supply graph (src, dst) — the edge
    * relation THIRTEEN registered graph queries derive inline
    * (lineitem scan + union + distinct), materialized once per scale
    * dir (optimization round 19, guide §6/§2.4): JobProfile showed
    * graph_louvain_fit alone re-running the scan+distinct shuffle 4–5×
    * per invocation (repeated 0.6 s 6-task jobs), and every consumer
    * paid its own copy. Production shape: the graph's edge table is
    * written once by ingestion; queries scan it.
    */
  def supplyEdges(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("supply", sfDir) { tmp =>
      graft.queries.GraphQueries.supplyEdgesInline(s, sfDir)
        .write.mode("overwrite").parquet(tmp)
      tmp
    }
    s.read.parquet(dir)
  }

  // ---- shared label-prop community labels ----------------------------

  /** Label-prop partitions (node, community) after rounds 1..4 over
    * the supply graph, materialized once per scale dir from ONE loop
    * run — the basket-edges/simhash-labels shape again: THREE
    * registered queries consume the identical round loop
    * (`graph_label_prop` the round-3 labels themselves;
    * `graph_modularity` scores that partition; `graph_modularity_sweep`
    * prices all four candidates) and the loop is the dominant cost of
    * all of them while each artifact is |V| rows of two longs.
    * Production shape: community detection writes its partition
    * table(s) once and every consumer (scores, rollups, routing,
    * round-count tuning) scans them.
    */
  private def lpaDir(s: SparkSession, sfDir: String): String =
    stage("lpa", sfDir) { tmp =>
      graft.operators.LabelProp
        .runStates(supplyEdges(s, sfDir), rounds = 4)
        .zipWithIndex.foreach { case (st, i) =>
          st.write.mode("overwrite").parquet(s"$tmp/round${i + 1}")
        }
      tmp
    }

  def lpaLabels(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${lpaDir(s, sfDir)}/round3")

  /** The SCC labeling of the fulfillment-flow graph (node, scc_id),
    * materialized once per scale dir — the lpaLabels staging shape: at
    * production scale the SCC batch (graph_scc's operator, Scc.scc)
    * checkpoints its labeling and every downstream analysis
    * (`graph_scc_condense`'s condensation DAG here) scans that |V|-row
    * table instead of re-running the 18-round trim/color ladder.
    */
  def sccLabels(s: SparkSession, sfDir: String): DataFrame = {
    val dir = stage("scc", sfDir) { tmp =>
      // the staged flow graph is a plain parquet scan: Scc.scc pulls or
      // checkpoints it itself
      val edges = flowEdges(s, sfDir)
      val labels = graft.operators.Scc
        .scc(edges, trimRounds = 6, propRounds = 6, peels = 1)
        .localCheckpoint(true)
      // completeness guard: Scc.scc's contract leaves any node needing
      // more than the pinned depths ABSENT (never mislabeled), and the
      // oracle replays the same fixed rounds — so an under-depth fixture
      // change would truncate graph_scc/graph_scc_condense output with
      // both engines agreeing. Fail loudly here instead of persisting a
      // truncated labeling.
      val nNodes = edges.select(col("src").as("v"))
        .union(edges.select(col("dst").as("v"))).distinct().count()
      val nLabeled = labels.count()
      require(nLabeled == nNodes,
        s"SCC labeling incomplete: $nLabeled of $nNodes flow-graph nodes " +
          "settled within the pinned trim/prop/peel depths — raise the " +
          "depths for this fixture before staging")
      labels.write.mode("overwrite").parquet(s"$tmp/labels")
      tmp
    }
    s.read.parquet(s"$dir/labels")
  }

  /** The staged kNN graph (node, nb) of the embedding store — the
    * GraphAnn serving index, materialized once per scale dir (the
    * sccLabels shape: construction is an offline batch; serving scans
    * the |V|·g-row edge table). Built exact-brute at gate scales (the
    * truth graph — GraphAnn scaladoc records the IVF/NN-Descent build
    * as the production path).
    */
  def annGraphEdges(s: SparkSession, sfDir: String, g: Int): DataFrame = {
    val dir = stage(s"anngraph$g", sfDir) { tmp =>
      graft.operators.GraphAnn
        .knnGraph(graft.operators.Similarity.emb(s, sfDir), g)
        .write.mode("overwrite").parquet(s"$tmp/edges")
      tmp
    }
    s.read.parquet(s"$dir/edges")
  }

  /** Round-indexed LPA partitions ((rounds, labels) for rounds 1..4)
    * — ONE loop run staged per scale dir (the hyperballStates shape),
    * priced by `graph_modularity_sweep`; round 3 is [[lpaLabels]], the
    * shipped partition, read by `graph_label_prop`/`graph_modularity`
    * from the SAME artifact.
    */
  def lpaLabelStates(s: SparkSession, sfDir: String): Seq[(Int, DataFrame)] = {
    val dir = lpaDir(s, sfDir)
    (1 to 4).map(r => (r, s.read.parquet(s"$dir/round$r")))
  }

  // ---- shared Brandes forward states ---------------------------------

  /** The seeded Brandes forward frame (s, node, dist, sigma) — 3 rounds
    * from suppliers 1..5 over the supply graph — materialized once per
    * scale dir. TWO registered queries consume the identical forward
    * pass (`graph_harmonic` aggregates it directly; `graph_betweenness`
    * runs the backward dependency walk over it) and each re-ran the 3
    * frontier/path-count rounds independently — the HyperBall
    * `packedStates` shape again, and like there the shared build is the
    * dominant stage while the artifact is small (|reached| rows of 4
    * integers). Production shape: a centrality batch checkpoints its
    * forward SSSP/path-count states and every downstream score
    * (harmonic, betweenness, stress, ...) reads them.
    */
  private def brandesDir(s: SparkSession, sfDir: String): String =
    stage("brandes", sfDir) { tmp =>
      val seeds = graft.Tables.supplier(s, sfDir)
        .where(col("s_suppkey") <= 5)
        .select(col("s_suppkey").as("node"))
      graft.operators.Betweenness
        .forward(supplyEdges(s, sfDir), seeds, rounds = 3)
        .write.mode("overwrite").parquet(s"$tmp/forward")
      tmp
    }

  /** (s, node, dist, sigma) — the staged 3-round, 5-source forward frame. */
  def brandesForward(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${brandesDir(s, sfDir)}/forward")

  /** (doc_a, doc_b, ham) — verified simhash pairs, Hamming ≤ 3. */
  def simhashPairs(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${simhashDir(s, sfDir)}/pairs")

  /** (d, lbl) — 6-round hash-min CC labels over the pairs. */
  def simhashLabels(s: SparkSession, sfDir: String): DataFrame =
    s.read.parquet(s"${simhashDir(s, sfDir)}/labels")
}
