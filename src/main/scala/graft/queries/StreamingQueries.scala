package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, Trigger}
import graft.queries.QueryHelpers._
import graft.streaming.EventStream

/** Streaming operators under the HARD oracle gate (SURVEY §2.7): each
  * query runs a real Structured Streaming job — file source → watermarked
  * stateful transform → parquet file sink, Trigger.AvailableNow — then
  * returns the sink contents for the driver's DuckDB compare.
  *
  * Append mode only emits state the watermark has passed, so a plain run
  * would hold back the trailing windows/sessions and the output would
  * depend on watermark-advance internals. Instead the staged source gets
  * one far-future `_mark` event (30 days past max ts): the final
  * watermark then provably passes every REAL window end / session
  * timeout, the sink holds exactly the complete batch answer, and the
  * marker's own rows are dropped on read (negative user_id / `_mark`
  * type). This is also the production pattern for draining a bounded
  * backfill through a streaming pipeline.
  *
  * Scale note: the streaming plans are identical to the batch twins'
  * (same window agg, same state logic) and shard by their grouping keys;
  * state is watermark-bounded, so a 1000-executor run holds only open
  * windows/sessions per key — the file sink is append-only parquet.
  */
object StreamingQueries {

  /** Temp-dir registry: staging dirs (full fixture copies — the bulky
    * part) are deleted EAGERLY as soon as the streaming query
    * terminates; sink dirs must outlive the query fn (the returned
    * DataFrame reads them lazily when the caller executes it), so they
    * are deleted by a JVM shutdown hook. Without this a bench run
    * leaked one fixture copy + sink + checkpoint per invocation —
    * multiple GB of /tmp at derived sf1.0, and exactly the residue a
    * long-lived cluster job cannot afford to accumulate.
    */
  private val deferredDirs = new java.util.concurrent.ConcurrentLinkedQueue[java.nio.file.Path]()
  private lazy val hookInstalled: Boolean = {
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      val it = deferredDirs.iterator()
      while (it.hasNext) deleteNow(it.next())
    }))
    true
  }

  private def deleteNow(p: java.nio.file.Path): Unit =
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }

  private def tempDir(prefix: String, deferred: Boolean): java.nio.file.Path = {
    require(hookInstalled)
    val p = java.nio.file.Files.createTempDirectory(prefix)
    if (deferred) deferredDirs.add(p)
    p
  }

  // The three-tertile staged source of the order-sensitive stateful
  // sinks (stream_subseq_sink, stream_cusum_sink) moved to
  // StagedLayouts.eventTertiles (optimization round 19): the split is a
  // pure function of the fixture, so it stages once per scale dir. Its
  // contract and the (ts_us, event_id)-not-ts_ns ranking rationale live
  // on that scaladoc.

  /** Copy the events fixture (single file or part-file dir) into `tmp`
    * once per prefix — N prefixes model at-least-once re-delivery of the
    * whole feed.
    */
  private def stageCopies(tmp: java.nio.file.Path, dir: String,
      prefixes: Seq[String]): Unit = {
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    prefixes.foreach { pre =>
      if (java.nio.file.Files.isDirectory(src)) {
        val it = java.nio.file.Files.list(src).iterator()
        while (it.hasNext) {
          val f = it.next()
          if (f.getFileName.toString.endsWith(".parquet"))
            java.nio.file.Files.copy(f,
              tmp.resolve(s"$pre-${f.getFileName.toString}"))
        }
      } else java.nio.file.Files.copy(src, tmp.resolve(s"$pre.parquet"))
    }
  }

  /** Copy the events fixture into a fresh dir + the far-future marker.
    * The fixture may be a single parquet file or a directory of part
    * files (derived scale factors) — stage whichever shape exists.
    */
  private def stageEvents(s: SparkSession, dir: String): String = {
    val tmp = tempDir("graft_stream_src", deferred = false)
    val src = java.nio.file.Paths.get(s"$dir/events.parquet")
    if (java.nio.file.Files.isDirectory(src)) {
      val it = java.nio.file.Files.list(src).iterator()
      while (it.hasNext) {
        val f = it.next()
        if (f.getFileName.toString.endsWith(".parquet"))
          java.nio.file.Files.copy(f, tmp.resolve(f.getFileName.toString))
      }
    } else java.nio.file.Files.copy(src, tmp.resolve("events.parquet"))
    val maxNs = graft.Tables.events(s, dir)
      .agg(max(col("ts_ns"))).head().getLong(0)
    val markNs = maxNs + 30L * 24 * 3600 * 1000000000L
    // the marker's ts must carry the SAME physical type as the staged
    // source files (BIGINT nanos / TIMESTAMP / TIMESTAMP_NTZ vary by
    // testdata generation) — a mixed-type dir breaks the file source
    val tsType = EventStream.storedSchema(s, s"$dir/events.parquet")("ts").dataType
    import s.implicits._
    val marker = Seq((-1L, markNs, -1L, "_mark", 0.0, "{}"))
      .toDF("event_id", "ts_raw", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsType match {
        case org.apache.spark.sql.types.LongType => col("ts_raw")
        case t => timestamp_micros(expr("ts_raw DIV 1000")).cast(t)
      })
    marker.select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(tmp.toString)
    tmp.toString
  }

  /** Drain a streaming DataFrame into a fresh parquet sink dir.
    *
    * `statePartitions` caps the state-store shard count for the run: a
    * stateful streaming query opens/commits one store per shuffle
    * partition per stateful operator PER MICRO-BATCH (a stream-stream
    * join is 4 stores per partition), so store-commit overhead — not
    * data volume — dominates small batches. Each call here starts a
    * fresh checkpoint, so the setting is safe to vary per query; a
    * production job sizes it once to its key cardinality and keeps it
    * for the checkpoint's life (the value is pinned in the offset log).
    * 0 = inherit the session setting; the registered queries pass
    * [[defaultStateParts]] (see its measurement history).
    *
    * `expectOneDataBatch` pins the single-micro-batch assumption some
    * oracles rely on (stream_dedup_sink: a second data batch would mean
    * rows arriving behind an already-advanced watermark could be
    * silently dropped as late). The pin reads the query's OWN progress
    * stream, so a source-batching regression (maxFilesPerTrigger,
    * multi-part staging) fails loudly instead of flipping the oracle.
    *
    * The checkpoint dir and the staged source are deleted eagerly once
    * the query terminates (the sink's `_spark_metadata` lives inside
    * the sink dir, so reading back never touches the checkpoint).
    */
  /** Default state-store shard count for the staged bench/verify runs:
    * sized to the STATE these queries actually hold (≤ a few thousand
    * open windows/sessions/join rows per batch at the test SFs), not to
    * the core count — a stateful operator pays open+commit on every
    * store per micro-batch (4 stores/partition for a stream-stream
    * join), so over-sharding tiny state turns pure overhead. Measured
    * on stream_join_sink at sf0.1, 3 repeats, two VM generations: fast
    * VM 32→2.55 s / 8→3.12 s cold; slow-I/O VM 32→13.7 s / 8→4.8 s
    * cold — the fast VM loses 0.6 s, the slow one gains 9 s, so 8 is
    * the robust default. A production job instead sizes this once to
    * key cardinality (the value pins in the checkpoint's offset log).
    * Env override SPARK_GRAFT_STREAM_PARTS re-measures either choice;
    * 0 inherits the session setting.
    */
  private def defaultStateParts: Int =
    sys.env.get("SPARK_GRAFT_STREAM_PARTS").map(_.toInt).getOrElse(8)

  private val totalsRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  private val topkRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  private val sketchRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  private val qsketchRuns = new java.util.concurrent.atomic.AtomicInteger(0)
  private val cusumRuns = new java.util.concurrent.atomic.AtomicInteger(0)

  private def runToParquet(df: DataFrame, statePartitions: Int = 0,
      stagedSrc: Option[String] = None,
      expectOneDataBatch: Boolean = false,
      expectMinDataBatches: Int = 0): String = {
    val out = tempDir("graft_stream_out", deferred = true)
    val cp = tempDir("graft_stream_cp", deferred = false)
    val sess = df.sparkSession
    val prev = sess.conf.get("spark.sql.shuffle.partitions")
    if (statePartitions > 0)
      sess.conf.set("spark.sql.shuffle.partitions", statePartitions.toString)
    try {
      val q = df.writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", out.toString)
        .option("checkpointLocation", cp.toString)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      if (expectOneDataBatch) {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches == 1,
          s"expected exactly one data micro-batch, got $dataBatches — " +
            "the single-batch staging contract this query's oracle relies on is broken")
      }
      if (expectMinDataBatches > 0) {
        val dataBatches = q.recentProgress.count(_.numInputRows > 0)
        require(dataBatches >= expectMinDataBatches,
          s"expected >= $expectMinDataBatches data micro-batches, got $dataBatches — " +
            "the multi-batch staging this query's state contract is proven under is broken")
      }
    } finally {
      sess.conf.set("spark.sql.shuffle.partitions", prev)
      deleteNow(cp)
      stagedSrc.foreach(p => deleteNow(java.nio.file.Paths.get(p)))
    }
    out.toString
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // watermarked tumbling-window agg through the file sink — the
    // canonical streaming query, oracle = the batch q_events_window SQL
    "stream_window_sink" -> ((s, dir) => {
      val staged = stageEvents(s, dir)
      val sink = runToParquet(EventStream.windowedAgg(
        EventStream.readEvents(s, staged)),
        statePartitions = defaultStateParts, stagedSrc = Some(staged))
      s.read.parquet(sink)
        .where(col("event_type") =!= "_mark")
        .select(col("hour_epoch"), col("event_type"), col("n"),
          rnd(col("sum_value"), 4).as("sum_value"))
        .orderBy("hour_epoch", "event_type")
    }),

    // watermark-bounded streaming exact-dedup through the file sink —
    // the source is staged TWICE (every event arrives duplicated, the
    // realistic at-least-once ingest shape) and dropDuplicates emits
    // each (event_id, ts) once; oracle = the plain events table.
    // Dedup emits rows as they FIRST arrive (no watermark holdback), so
    // no marker is needed; state is watermark-bounded per the 2h horizon.
    "stream_dedup_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_dup", deferred = false)
      stageCopies(tmp, dir, Seq("a", "b"))
      val sink = runToParquet(EventStream.dedupStream(
          EventStream.readEvents(s, tmp.toString))
        .select(col("event_id"), col("user_id"), col("event_type"), col("value")),
        statePartitions = defaultStateParts,
        stagedSrc = Some(tmp.toString), expectOneDataBatch = true)
      s.read.parquet(sink).orderBy("event_id")
    }),

    // stream-STREAM interval join through the file sink: clicks join
    // purchases by the same user within the preceding hour, both sides
    // watermarked (the two-sided event-time bound is what lets the state
    // store evict — the unbounded form would grow forever). Inner joins
    // emit on match, so the sink holds the complete batch answer with no
    // marker; oracle = the batch interval join.
    "stream_join_sink" -> ((s, dir) => {
      val staged = stageEvents(s, dir)
      val sink = runToParquet(EventStream.clickPurchaseJoin(
        EventStream.readEvents(s, staged)),
        statePartitions = defaultStateParts, stagedSrc = Some(staged))
      s.read.parquet(sink)
        .select(col("c_event"), col("p_event"), col("user_id"))
        .orderBy("c_event", "p_event")
    }),

    // stream-STREAM LEFT OUTER interval join — the ninth gated shape
    // (EventStream.clickPurchaseLeftJoin scaladoc): null-extended rows
    // exist only because watermark eviction proved no match can still
    // arrive, which is the semantics the inner join never exercises.
    // p_event is coalesced to −1 on BOTH engines so the null-extension
    // sits under the exact hash gate without cross-engine null-ordering
    // hazards; marker rows (user_id < 0) are dropped on sink read.
    // StreamingHygieneSpec pins that the null rows were emitted strictly
    // after every match emission (eviction, not batch-end flush).
    "stream_left_join_sink" -> ((s, dir) => {
      val staged = stageEvents(s, dir)
      val sink = runToParquet(EventStream.clickPurchaseLeftJoin(
        EventStream.readEvents(s, staged)),
        statePartitions = defaultStateParts, stagedSrc = Some(staged))
      s.read.parquet(sink)
        .where(col("user_id") >= 0)
        .select(col("c_event"),
          coalesce(col("p_event"), lit(-1L)).as("p_event"), col("user_id"))
        .orderBy("c_event", "p_event")
    }),

    // stream-STREAM FULL OUTER interval join — the thirteenth gated
    // shape (EventStream.clickPurchaseFullJoin scaladoc): both sides'
    // unmatched rows exist only because watermark eviction closed their
    // match window, so state-eviction semantics is pinned on the click
    // AND purchase stores. Both event columns coalesce to −1 on both
    // engines; marker rows (uid < 0) are dropped on sink read.
    "stream_full_join_sink" -> ((s, dir) => {
      val staged = stageEvents(s, dir)
      val sink = runToParquet(EventStream.clickPurchaseFullJoin(
        EventStream.readEvents(s, staged)),
        statePartitions = defaultStateParts, stagedSrc = Some(staged))
      s.read.parquet(sink)
        .where(col("uid") >= 0)
        .select(coalesce(col("c_event"), lit(-1L)).as("c_event"),
          coalesce(col("p_event"), lit(-1L)).as("p_event"),
          col("uid").as("user_id"))
        .orderBy("c_event", "p_event", "user_id")
    }),

    // mapGroupsWithState running totals under the oracle gate — the
    // last stateful-API surface (update-mode custom keyed state; the
    // others: stateless window agg, dropDuplicates, stream-stream join,
    // flatMapGroupsWithState sessionize, stream-static join,
    // foreachBatch upsert). Update mode cannot write the append-only
    // file sink, so the run drains to a memory sink (declared — the
    // state logic, not the sink, is what this row pins); the final
    // update per key is selected by max(struct(n, …)) since n is
    // strictly increasing per key across updates. The per-key float
    // total accumulates in arrival order, so it carries the standard
    // rounding contract (rnd 4) like every order-varying sum.
    "stream_totals_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_tot", deferred = false)
      stageCopies(tmp, dir, Seq("a"))
      try {
        val name = s"graft_totals_${totalsRuns.incrementAndGet()}"
        val sink = EventStream.runToMemory(s,
          EventStream.runningTotals(
            EventStream.readEvents(s, tmp.toString)).toDF(),
          name, OutputMode.Update())
        sink.groupBy(col("event_type"))
          .agg(max(struct(col("n"), col("total"))).as("m"))
          .select(col("event_type"), col("m.n").as("n"),
            rnd(col("m.total"), 4).as("total"))
          .orderBy("event_type")
      } finally deleteNow(tmp)
    }),

    // streaming TOP-K — the twelfth gated shape (EventStream.pairCounts
    // scaladoc): per-(event_type, user) counters as keyed state, final
    // counter per key = the batch count (counting is arrival-order-
    // free), then the serve-side rank picks each type's top-3 users
    // with deterministic ties. Update mode → memory sink; the per-key
    // monotone counter makes max(n) the final state (the totals
    // pattern).
    "stream_topk_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_tpk", deferred = false)
      stageCopies(tmp, dir, Seq("a"))
      try {
        val name = s"graft_topk_${topkRuns.incrementAndGet()}"
        val sink = EventStream.runToMemory(s,
          EventStream.pairCounts(
            EventStream.readEvents(s, tmp.toString)).toDF(),
          name, OutputMode.Update())
        val fin = sink.groupBy(col("event_type"), col("user_id"))
          .agg(max(col("n")).as("n"))
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(col("event_type"))
          .orderBy(col("n").desc, col("user_id"))
        fin.withColumn("rk", row_number().over(w))
          .where(col("rk") <= 3)
          .select(col("event_type"), col("rk"), col("user_id"), col("n"))
          .orderBy("event_type", "rk")
      } finally deleteNow(tmp)
    }),

    // streaming QUANTILE summary — the eleventh gated shape
    // (EventStream.quantileSketchStream scaladoc): the q_quantile_sketch
    // bottom-K pair summary as per-day keyed state (≤ 2048 pairs at any
    // volume). Bottom-K by hash priority is arrival-order-free, so the
    // drained state equals the batch per-day summary exactly — the
    // estimate itself hash-gates. Final state per day selected by the
    // monotone update counter (at capacity n stays K while content
    // changes). Update mode → memory sink, the stream_totals pattern.
    "stream_quantile_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_qsk", deferred = false)
      stageCopies(tmp, dir, Seq("a"))
      try {
        val name = s"graft_qsk_${qsketchRuns.incrementAndGet()}"
        val sink = EventStream.runToMemory(s,
          EventStream.quantileSketchStream(
            EventStream.readEvents(s, tmp.toString), k = 2048).toDF(),
          name, OutputMode.Update())
        sink.groupBy(col("day"))
          .agg(max(struct(col("seq"), col("n_pairs"), col("est_p50"))).as("m"))
          .select(col("day"), col("m.n_pairs").as("n_pairs"),
            col("m.est_p50").as("est_p50_1d"))
          .orderBy("day")
      } finally deleteNow(tmp)
    }),

    // streaming distinct-count sketch — the eighth streaming shape:
    // the register table as keyed state (EventStream.registerSketch;
    // one long per register, ≤ 256 state entries at ANY stream volume,
    // where dropDuplicates-then-count state grows with the true
    // cardinality). Register max is associative and arrival-order-free,
    // so the drained state equals the batch sketch exactly and the
    // oracle is q_distinct_sketch's SQL verbatim. Update mode → memory
    // sink like stream_totals_sink; max_rank is non-decreasing per reg
    // across updates, so the final state is the per-reg max.
    "stream_sketch_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_skc", deferred = false)
      stageCopies(tmp, dir, Seq("a"))
      try {
        val name = s"graft_sketch_${sketchRuns.incrementAndGet()}"
        val sink = EventStream.runToMemory(s,
          EventStream.registerSketch(
            EventStream.readEvents(s, tmp.toString)).toDF(),
          name, OutputMode.Update())
        sink.groupBy(col("reg"))
          .agg(max(col("max_rank")).as("max_rank"))
          .orderBy("reg")
      } finally deleteNow(tmp)
    }),

    // stream-STATIC enrichment through the file sink — the sixth
    // streaming shape and the most common production one: every event
    // picks up its user's dimension row, the static side broadcast per
    // micro-batch. Stateless (no watermark, no state store, no marker):
    // append mode emits every joined row as it arrives, so the sink is
    // the complete batch answer by construction; oracle = the plain
    // batch left join. At 100 TB the dim refreshes by swapping the
    // broadcast per batch — the streaming twin of q_join_agg's
    // broadcast star join.
    "stream_enrich_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_enr", deferred = false)
      stageCopies(tmp, dir, Seq("a"))
      val dim = graft.Tables.customer(s, dir)
        .select(col("c_custkey").as("user_id"), col("c_acctbal"),
          col("c_nationkey"))
      val sink = runToParquet(EventStream.enriched(
          EventStream.readEvents(s, tmp.toString)
            .select(col("event_id"), col("user_id"), col("event_type")),
          dim),
        stagedSrc = Some(tmp.toString))
      s.read.parquet(sink)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("c_acctbal"), col("c_nationkey"))
        .orderBy("event_id")
    }),

    // foreachBatch keyed upsert into a versioned parquet serving table —
    // the fifth streaming shape (streaming MERGE INTO, copy-on-write).
    // The source is staged TWICE and maxFilesPerTrigger=1 forces the
    // upsert to run across ≥2 micro-batches (asserted), so the oracle
    // row proves the cross-batch merge, not a single batch job; the
    // per-key max(struct) merge is associative, so ANY batch split
    // yields the same final table — that invariance is what the oracle
    // checks. Oracle = batch latest-event-per-user (top-1 window).
    "stream_upsert_sink" -> ((s, dir) => {
      val tmp = tempDir("graft_stream_upsrc", deferred = false)
      stageCopies(tmp, dir, Seq("a", "b"))
      val serveRoot = tempDir("graft_stream_serve", deferred = true)
      val cp = tempDir("graft_stream_upcp", deferred = false)
      try {
        val (finalDir, batches) = EventStream.upsertServing(
          s, tmp.toString, serveRoot.toString, cp.toString,
          maxFilesPerTrigger = 1)
        require(batches >= 2,
          s"expected >=2 data micro-batches (incremental upsert), got $batches")
        s.read.parquet(finalDir)
          .select(col("user_id"), col("ts_us").as("last_ts_us"),
            col("event_id").as("last_event_id"),
            col("event_type").as("last_type"), col("value").as("last_value"))
          .orderBy("user_id")
      } finally {
        deleteNow(cp)
        deleteNow(tmp)
      }
    }),

    // event-time sessionization (flatMapGroupsWithState +
    // EventTimeTimeout, 120-min gap) through the file sink — sessions
    // closed by in-batch gaps emit immediately, trailing ones by the
    // marker-advanced watermark; oracle = the batch lag/running-sum
    // sessionizer on millisecond timestamps
    // native session_window aggregation — the tenth gated shape
    // (EventStream.sessionWindowAgg scaladoc): engine-managed merging
    // window state vs sessionize's hand-rolled
    // flatMapGroupsWithState. 30-min gap (vs 120) so the two session
    // queries also differ observably; oracle encodes the native
    // half-open split rule (diff >= gap ⇒ new session) and the
    // last+gap window end.
    "stream_session_window_sink" -> ((s, dir) => {
      val staged = stageEvents(s, dir)
      val sink = runToParquet(EventStream.sessionWindowAgg(
        EventStream.readEvents(s, staged), gapMinutes = 30),
        statePartitions = defaultStateParts, stagedSrc = Some(staged))
      s.read.parquet(sink)
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
        .orderBy("user_id", "start_ms")
    }),

    "stream_sessionize_sink" -> ((s, dir) => {
      val staged = stageEvents(s, dir)
      val sink = runToParquet(EventStream.sessionize(
        EventStream.readEvents(s, staged), gapMinutes = 120).toDF(),
        statePartitions = defaultStateParts, stagedSrc = Some(staged))
      s.read.parquet(sink)
        .where(col("user_id") >= 0)
        .select(col("user_id"), col("n_events"), col("start_ms"), col("end_ms"))
        .orderBy("user_id", "start_ms")
    }),

    // CONTINUOUS semantic dedup — the curation loop run as a stream
    // (graft.streaming.VectorStream scaladoc): the embedding corpus
    // arrives as three micro-batches (vec_id mod-3 slices, one file
    // each, maxFilesPerTrigger=1), each batch clusters itself via the
    // broadcast trained centroids and scores ONLY batch-touching pairs
    // against the standing store; store + drop set advance as
    // copy-on-write parquet versions with pointer-flip + vacuum (the
    // stream_upsert_sink state contract). The drop rule is order-free
    // and monotone, so the final state equals the whole-corpus batch
    // recompute NO MATTER how the file source batches — the oracle is
    // dedup_semantic's own whole-corpus SQL, the strongest possible
    // gate for a streaming operator. batches ≥ 2 is asserted so the
    // equality is proven on a genuinely incremental run.
    "stream_semdedup_sink" -> ((s, dir) => {
      import graft.operators.{Similarity, TrainedIvfCentroids}
      // read-only source staged once per scale dir (StagedLayouts
      // scaladoc); the streaming run itself — fresh checkpoint, real
      // micro-batches, state carried across boundaries — is unchanged
      val tmp = graft.sources.StagedLayouts.embStreamSrc(s, dir)
      val stateRoot = tempDir("graft_stream_semstate", deferred = true)
      val cp = tempDir("graft_stream_semcp", deferred = false)
      try {
        val (storeDir, dropsDir, batches) =
          graft.streaming.VectorStream.semDedupServing(
            s, tmp, stateRoot.toString, cp.toString, tau = 0.4)
        require(batches >= 2,
          s"expected >=2 embedding micro-batches (incremental ingest), got $batches")
        val store = s.read.parquet(storeDir)
        val drops = s.read.parquet(dropsDir)
        Similarity.withCentroidDist(
            store.join(drops, Seq("vec_id"), "left_anti"),
            TrainedIvfCentroids.cells)
          .select(col("vec_id"), col("cell"), col("d2c"))
          .orderBy("vec_id")
      } finally deleteNow(cp) // the staged source outlives the run
    }),

    // CONTINUOUS subsequence matching (EventStream.subseqMatches
    // scaladoc — the streaming form of q_ts_subseq_search and the 15th
    // gated streaming shape): events arrive as three TIME-TERTILE
    // micro-batches (files staged with strictly ascending mtimes,
    // maxFilesPerTrigger=1 — the file source takes oldest-first), the
    // per-user O(m) tail state closes windows ACROSS batch boundaries,
    // and matches (d6 ≤ 4.0, density-measured 295/8950 windows at
    // sf0.01 before registration) append the moment their last point
    // arrives. Oracle = the batch window recompute under the same
    // threshold — equality requires the boundary-spanning windows that
    // only the carried state can produce.
    "stream_subseq_sink" -> ((s, dir) => {
      val m = 8
      val tau = 4.0
      val ev = graft.Tables.events(s, dir)
      // the q_ts_subseq_search pattern rule: first m values of the
      // smallest user with >= m events (see its scaladoc for why the
      // global head is degenerate at derived scale)
      val qRow = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n"))
        .where(col("n") >= m).agg(min(col("user_id"))).head()
      // explicit failure beats the opaque NPE getLong throws on the
      // null min() of an empty filter (review finding)
      require(!qRow.isNullAt(0),
        s"no user has >= $m events — corpus too small for the pattern rule")
      val qUser = qRow.getLong(0)
      val qv = ev.where(col("user_id") === qUser)
        .select(expr("ts_ns DIV 1000").as("ts_us"),
          col("event_id"), col("value"))
        .orderBy(col("ts_us"), col("event_id")).limit(m)
        .collect().map(_.getDouble(2))
      // read-only tertile source staged once per scale dir
      // (StagedLayouts.eventTertiles); fresh checkpoint per run
      val tmp = graft.sources.StagedLayouts.eventTertiles(s, dir)
      val stream = graft.Tables.normalizeEvents(
        s.readStream.schema(EventStream.storedSchema(s, tmp))
          .option("maxFilesPerTrigger", 1).parquet(tmp))
      val sink = runToParquet(
        EventStream.subseqMatches(stream, qv, m, tau).toDF(),
        statePartitions = defaultStateParts,
        expectMinDataBatches = 2)
      s.read.parquet(sink).orderBy("user_id", "pos")
    }),

    // CONTINUOUS CUSUM drift alerting (EventStream.cusumAlarms
    // scaladoc — the online form of q_ts_cusum and the 16th gated
    // streaming shape): three event-time tertile micro-batches, one
    // 5-long state record per user carried across boundaries, and a
    // KNOWN in-control target μ0 = the global stream mean (the SPC
    // calibrated-target convention — an online detector cannot know
    // per-user means mid-stream; μ0 is derived from the static table,
    // a 1-row driver read). Update mode → memory sink; pos is monotone
    // per update so max(struct) drains each user's FINAL state (the
    // totals pattern). Oracle = the batch recursive-CTE recompute with
    // the global target (TemporalQueries.cusumCtes(perUserMu = false)
    // — shared builder, cross-module like subseqCtes); equality needs
    // alarms whose accumulation SPANS batch boundaries.
    "stream_cusum_sink" -> ((s, dir) => {
      val ev = graft.Tables.events(s, dir)
      val mu0 = ev
        .select(floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("xc"))
        .agg(expr("sum(xc) DIV count(*)")).head().getLong(0)
      // read-only tertile source staged once per scale dir
      val tmp = graft.sources.StagedLayouts.eventTertiles(s, dir)
      val name = s"graft_cusum_${cusumRuns.incrementAndGet()}"
      val stream = graft.Tables.normalizeEvents(
        s.readStream.schema(EventStream.storedSchema(s, tmp))
          .option("maxFilesPerTrigger", 1).parquet(tmp))
      val sink = EventStream.runToMemory(s,
        EventStream.cusumAlarms(stream, mu0, k = 2000L, h = 25000L).toDF(),
        name, OutputMode.Update())
      sink.groupBy(col("user_id"))
        .agg(max(struct(col("n"), col("n_alarms"), col("first_alarm"),
          col("max_s"))).as("m"))
        .select(col("user_id"), col("m.n").as("n"),
          col("m.n_alarms").as("n_alarms"),
          col("m.first_alarm").as("first_alarm"),
          col("m.max_s").as("max_s"))
        .orderBy("user_id")
    }))

  val oracleSql: Map[String, String] = Map(
    // identical to q_events_window: the marker makes the streamed output
    // complete, so the oracle is the plain batch aggregation
    "stream_window_sink" ->
      s"""SELECT CAST(epoch(date_trunc('hour', ts)) AS BIGINT) AS hour_epoch,
         |  event_type, count(*) AS n, ${rndSql("sum(value)", 4)} AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY hour_epoch, event_type""".stripMargin,

    // the duplicated stream collapses back to the events table exactly
    "stream_dedup_sink" ->
      """SELECT event_id, user_id, event_type, value
        |FROM events ORDER BY event_id""".stripMargin,

    // the batch interval join (the marker is neither click nor purchase)
    "stream_join_sink" ->
      """WITH c AS (SELECT event_id AS c_event, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_event, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c_event, p_event, user_id
        |FROM c JOIN p ON user_id = p_user
        |  AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts
        |ORDER BY c_event, p_event""".stripMargin,

    // the batch LEFT interval join; unmatched → p_event −1 (same
    // coalesce on the Spark side — no null-ordering hazard)
    "stream_left_join_sink" ->
      """WITH c AS (SELECT event_id AS c_event, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_event, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c_event, coalesce(p_event, -1) AS p_event, user_id
        |FROM c LEFT JOIN p ON user_id = p_user
        |  AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts
        |ORDER BY c_event, p_event""".stripMargin,

    // the batch FULL interval join; unmatched on either side → −1 on
    // that side's event column (same coalesce on the Spark side)
    "stream_full_join_sink" ->
      """WITH c AS (SELECT event_id AS c_event, user_id, ts AS c_ts
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT event_id AS p_event, user_id AS p_user, ts AS p_ts
        |  FROM events WHERE event_type = 'purchase')
        |SELECT coalesce(c_event, -1) AS c_event,
        |  coalesce(p_event, -1) AS p_event,
        |  coalesce(user_id, p_user) AS user_id
        |FROM c FULL JOIN p ON user_id = p_user
        |  AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts
        |ORDER BY c_event, p_event, user_id""".stripMargin,

    // the drained per-day bottom-K state equals the batch summary
    // verbatim — same pair dedup, same priority cut, same lower median
    "stream_quantile_sink" -> {
      val k = 2048
      s"""WITH ev AS (
         |  SELECT datediff('day', DATE '1970-01-01', CAST(ts AS DATE)) AS day,
         |    CAST(('0x' || substr(md5(CAST(event_id AS VARCHAR)), 1, 15))
         |      AS BIGINT) AS pr,
         |    value AS v
         |  FROM events WHERE event_id IS NOT NULL AND value IS NOT NULL
         |), pairs AS (
         |  SELECT day, pr, min(v) AS v FROM ev GROUP BY day, pr
         |), rk AS (
         |  SELECT day, pr, v,
         |    row_number() OVER (PARTITION BY day ORDER BY pr, v) AS rk
         |  FROM pairs
         |), sk AS (SELECT day, v FROM rk WHERE rk <= $k)
         |SELECT day, n AS n_pairs, v AS est_p50_1d FROM (
         |  SELECT day, v, row_number() OVER (PARTITION BY day ORDER BY v) AS vr,
         |    count(*) OVER (PARTITION BY day) AS n
         |  FROM sk)
         |WHERE vr = (n + 1) // 2
         |ORDER BY day""".stripMargin
    },

    // the drained register state equals the batch sketch verbatim
    "stream_sketch_sink" -> {
      import graft.operators.DistinctSketch.{MaxRank, Registers}
      s"""WITH h AS (
         |  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))
         |    AS BIGINT) AS h60
         |  FROM events WHERE user_id IS NOT NULL
         |), r AS (
         |  SELECT h60 % $Registers AS reg, h60 // $Registers AS sfx FROM h
         |)
         |SELECT reg,
         |  max(CAST(CASE WHEN sfx = 0 THEN $MaxRank
         |      ELSE $MaxRank - length(bin(sfx)) END AS BIGINT)) AS max_rank
         |FROM r GROUP BY reg ORDER BY reg""".stripMargin
    },

    // the drained per-(type, user) counters equal the batch counts;
    // rank ties broken by user_id on both engines
    "stream_topk_sink" ->
      s"""WITH c AS (
         |  SELECT event_type, user_id, count(*) AS n
         |  FROM events WHERE user_id IS NOT NULL
         |  GROUP BY 1, 2
         |), r AS (
         |  SELECT event_type, user_id, CAST(n AS BIGINT) AS n,
         |    CAST(row_number() OVER (
         |      PARTITION BY event_type ORDER BY n DESC, user_id) AS INT) AS rk
         |  FROM c
         |)
         |SELECT event_type, rk, user_id, n FROM r WHERE rk <= 3
         |ORDER BY event_type, rk""".stripMargin,

    // the final state per event_type equals the batch aggregate
    "stream_totals_sink" ->
      s"""SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         |  ${rndSql("sum(value)", 4)} AS total
         |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,

    // the stateless broadcast join emits exactly the batch left join
    "stream_enrich_sink" ->
      """SELECT event_id, e.user_id, event_type, c_acctbal, c_nationkey
        |FROM events e LEFT JOIN customer ON e.user_id = c_custkey
        |ORDER BY event_id""".stripMargin,

    // latest event per user — the duplicated, batch-split stream upserts
    // down to exactly the batch top-1-per-key answer
    "stream_upsert_sink" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
        |  FROM events
        |), r AS (
        |  SELECT user_id, ts_us, event_id, event_type, value,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts_us DESC, event_id DESC) AS rk
        |  FROM e
        |)
        |SELECT user_id, ts_us AS last_ts_us, event_id AS last_event_id,
        |  event_type AS last_type, value AS last_value
        |FROM r WHERE rk = 1 ORDER BY user_id""".stripMargin,

    // batch sessionizer on ms granularity (streaming state keeps
    // java.sql.Timestamp.getTime = epoch_us // 1000; 120 min = 7200000 ms)
    // native rule: split at diff >= gap (half-open window), end = last
    // event + gap. The split MUST compare at MICROsecond precision (the
    // engine's; fixture ts carry sub-ms micros) — only the OUTPUT
    // truncates to ms, and the +gap distributes over the truncation
    // because the gap is a whole number of ms
    "stream_session_window_sink" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS ts_us, event_id FROM events
        |), flagged AS (
        |  SELECT user_id, ts_us, event_id,
        |    CASE WHEN ts_us - lag(ts_us, 1) OVER w >= 1800000000 THEN 1
        |         WHEN lag(ts_us, 1) OVER w IS NULL THEN 1
        |         ELSE 0 END AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
        |), sess AS (
        |  SELECT user_id, ts_us,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_us) // 1000 AS start_ms,
        |  (max(ts_us) + 1800000000) // 1000 AS end_ms
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_ms""".stripMargin,

    "stream_sessionize_sink" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) // 1000 AS ts_ms, event_id FROM events
        |), flagged AS (
        |  SELECT user_id, ts_ms, event_id,
        |    CASE WHEN ts_ms - lag(ts_ms, 1) OVER w > 7200000 THEN 1
        |         WHEN lag(ts_ms, 1) OVER w IS NULL THEN 1
        |         ELSE 0 END AS new_s
        |  FROM e
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id)
        |), sess AS (
        |  SELECT user_id, ts_ms,
        |    sum(new_s) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM flagged
        |)
        |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
        |  min(ts_ms) AS start_ms, max(ts_ms) AS end_ms
        |FROM sess GROUP BY user_id, sid
        |ORDER BY user_id, start_ms""".stripMargin,

    // the continuous-ingest gate IS the whole-corpus batch recompute:
    // the monotone order-free drop rule makes micro-batch boundaries
    // unobservable in the final state
    "stream_semdedup_sink" -> SimilarityQueries.semDedupSql,

    // the streaming matcher's oracle: the SHARED batch window chain
    // (TemporalQueries.subseqCtes) thresholded — every match, no rank;
    // the stream can only equal this if its state carried the
    // batch-boundary-spanning window tails
    "stream_subseq_sink" ->
      s"""WITH ${TemporalQueries.subseqCtes}
         |SELECT user_id, pos, d6 FROM d WHERE d6 <= 4.0
         |ORDER BY user_id, pos""".stripMargin,

    // the streaming detector's oracle: the SHARED recursive CUSUM
    // chain at the GLOBAL in-control target — the drained final state
    // can only equal this if alarms whose accumulation spans batch
    // boundaries came out right
    "stream_cusum_sink" ->
      s"""WITH RECURSIVE ${TemporalQueries.cusumCtes(perUserMu = false)}
         |SELECT g.user_id, g.n, st.na AS n_alarms,
         |  st.fp AS first_alarm, st.smax AS max_s
         |FROM g JOIN st ON st.user_id = g.user_id AND st.pos = g.n
         |ORDER BY g.user_id""".stripMargin)
}
