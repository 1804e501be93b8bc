package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.operators.{Assign, Centroid1D}

/** Structured Streaming over the `events` table (SURVEY §2.7/§7.4 —
  * the reference is batch-synchronous; streaming is the extension
  * surface).
  *
  * Three shapes:
  *  - [[windowedAgg]]: watermark + tumbling 1-hour window aggregation
  *    (readStream → window → agg), the canonical streaming query;
  *  - [[runningTotals]]: custom state via mapGroupsWithState — per
  *    event_type running count/sum;
  *  - [[incrementalAssign]]: foreachBatch incremental k-means — each
  *    micro-batch is assigned to the current centroids with the SAME
  *    codegen'd expression the batch engine uses, and centroids update
  *    between batches (streaming Lloyd step).
  */
object EventStream {

  /** events schema with ts as BIGINT nanos (the TIMESTAMP(NANOS)
    * testdata generation under nanosAsLong; derived-scale fixtures keep
    * this shape).
    */
  val rawSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts", LongType), // nanos
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  /** The stored schema of an events parquet dir — a file source needs the
    * schema up front, and `ts` has shipped as BIGINT nanos, TIMESTAMP, and
    * TIMESTAMP_NTZ across testdata generations (Tables.normalizeEvents).
    * One driver-side batch-metadata peek per query; no data is read.
    */
  def storedSchema(spark: SparkSession, srcDir: String): StructType =
    spark.read.parquet(srcDir).schema

  /** File-source stream over a directory of events parquet files,
    * normalized to the `ts TIMESTAMP` + `ts_ns BIGINT` contract.
    */
  def readEvents(spark: SparkSession, srcDir: String): DataFrame =
    graft.Tables.normalizeEvents(
      spark.readStream.schema(storedSchema(spark, srcDir)).parquet(srcDir))

  /** Tumbling 1-hour windowed counts with a 2-hour watermark. */
  def windowedAgg(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value")).as("sum_value"))
      .select(unix_timestamp(col("window.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("sum_value"))

  /** Streaming exact-dedup — the training-pipeline op "drop events seen
    * before", with watermark-bounded state: duplicates older than the
    * watermark horizon age out of the dedup map (at 100 TB/day the state
    * store cannot hold every key forever; the watermark is the retention
    * contract).
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id", "ts")

  final case class SessState(n: Long, startMs: Long, endMs: Long)
  final case class SessionAgg(user_id: Long, n_events: Long, start_ms: Long, end_ms: Long)

  /** Event-time sessionization: per-user sessions closed after
    * `gapMinutes` of event-time silence, via flatMapGroupsWithState +
    * EventTimeTimeout. Sessions emit ONLY when the watermark passes
    * last-event + gap (Append semantics); state for closed sessions is
    * removed, so the store holds only open sessions.
    */
  def sessionize(events: DataFrame, gapMinutes: Int): Dataset[SessionAgg] = {
    import events.sparkSession.implicits._
    val gapMs = gapMinutes * 60000L
    events.select(col("user_id"), col("ts"))
      .withWatermark("ts", "1 minute")
      .as[(Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout)(
        (uid: Long, rows: Iterator[(Long, java.sql.Timestamp)], state: GroupState[SessState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(SessionAgg(uid, s.n, s.startMs, s.endMs))
          } else {
            // split the batch's rows by gap IN EVENT-TIME ORDER: sessions
            // closed by a later in-batch event emit immediately (the gap
            // is already proven); only the trailing open session stays in
            // state, closed later by the event-time timeout
            val ts = rows.map(_._2.getTime).toArray
            java.util.Arrays.sort(ts)
            var closed = List.empty[SessionAgg]
            var cur = state.getOption.orNull
            ts.foreach { t =>
              if (cur == null) cur = SessState(1L, t, t)
              else if (t - cur.endMs > gapMs) {
                closed ::= SessionAgg(uid, cur.n, cur.startMs, cur.endMs)
                cur = SessState(1L, t, t)
              } else cur = SessState(cur.n + 1, cur.startMs, math.max(cur.endMs, t))
            }
            state.update(cur)
            state.setTimeoutTimestamp(cur.endMs + gapMs)
            closed.reverseIterator
          })
  }

  final case class PairState(n: Long)
  final case class PairCount(event_type: String, user_id: Long, n: Long)

  /** Streaming per-key counters for serve-side top-k — the trending /
    * leaderboard production shape: state is ONE long per
    * (event_type, user_id), bounded by the key domain exactly like
    * [[runningTotals]]'s per-type state. Counting is commutative and
    * arrival-order-free, so each key's FINAL state equals the batch
    * count no matter how the stream is micro-batched — the serve-side
    * rank over the drained counters therefore hash-gates against the
    * plain batch count + row_number oracle. At 100 TB a cardinality
    * cap swaps these exact counters for the CMS + heap approximation
    * (batch twin: q_heavy_hitters_cms); the gated surface keeps exact
    * counters because approximate summaries are arrival-order-
    * DEPENDENT and cannot exact-gate (the Misra-Gries caveat,
    * HeavyHitters scaladoc).
    */
  def pairCounts(events: DataFrame): Dataset[PairCount] = {
    import events.sparkSession.implicits._
    events.where(col("user_id").isNotNull)
      .select(col("event_type"), col("user_id")).as[(String, Long)]
      .groupByKey(identity)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: (String, Long), rows: Iterator[(String, Long)],
         state: GroupState[PairState]) =>
          var n = state.getOption.map(_.n).getOrElse(0L)
          rows.foreach(_ => n += 1)
          state.update(PairState(n))
          PairCount(key._1, key._2, n)
      }
  }

  final case class TypeState(n: Long, total: Double)
  final case class TypeTotal(event_type: String, n: Long, total: Double)

  /** Custom keyed state: per-event_type running totals
    * (mapGroupsWithState, update-mode).
    */
  def runningTotals(events: DataFrame): Dataset[TypeTotal] = {
    import events.sparkSession.implicits._
    events.select(col("event_type"), col("value")).as[(String, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, Double)], state: GroupState[TypeState]) =>
          val prev = state.getOption.getOrElse(TypeState(0L, 0.0))
          var n = prev.n; var tot = prev.total
          rows.foreach { r => n += 1; tot += r._2 }
          state.update(TypeState(n, tot))
          TypeTotal(key, n, tot)
      }
  }

  final case class RegState(maxRank: Long)
  final case class RegRank(reg: Long, max_rank: Long)

  /** Streaming distinct-count sketch: the [[graft.operators.DistinctSketch]]
    * register table as keyed streaming state (mapGroupsWithState,
    * update-mode). State is ONE long per register — ≤ 2^p entries total
    * whatever the stream volume — where a streaming `dropDuplicates` on
    * the raw key would grow state with the true cardinality. Register
    * max is associative and insensitive to arrival order/batch splits,
    * so the final state equals the batch sketch exactly and the oracle
    * replays the same SQL as q_distinct_sketch.
    */
  def registerSketch(events: DataFrame): Dataset[RegRank] = {
    import events.sparkSession.implicits._
    import graft.operators.DistinctSketch
    events.where(col("user_id").isNotNull)
      .select(DistinctSketch.regCol(col("user_id")).as("reg"),
        DistinctSketch.rankCol(col("user_id")).as("rank"))
      .as[(Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (reg: Long, rows: Iterator[(Long, Long)], state: GroupState[RegState]) =>
          var mx = state.getOption.map(_.maxRank).getOrElse(0L)
          rows.foreach(r => if (r._2 > mx) mx = r._2)
          state.update(RegState(mx))
          RegRank(reg, mx)
      }
  }

  final case class QSketchState(seq: Long, pairs: Seq[(Long, Double)])
  final case class QSketchUpdate(day: Long, seq: Long, n_pairs: Long,
    est_p50: Double)

  /** Streaming quantile summary — the q_quantile_sketch bottom-K
    * (priority, value) pair summary as keyed state, one group per day:
    * state is the K smallest md5-priority pairs seen so far (after the
    * (day, pr)→min(v) dedup the batch form applies), ≤ K pairs at ANY
    * stream volume. Bottom-K by hash priority is a pure order
    * statistic — associative, commutative, arrival-order-free — so the
    * drained state equals the batch per-day summary EXACTLY and the
    * oracle replays it in SQL (the registerSketch argument, applied to
    * quantiles). Emits the day's running pair count and lower-median
    * estimate; `seq` is a per-day update counter so callers can select
    * each day's FINAL state (at capacity n_pairs stays K while content
    * still changes, so max-by-n would be wrong).
    */
  def quantileSketchStream(events: DataFrame, k: Int): Dataset[QSketchUpdate] = {
    import events.sparkSession.implicits._
    import graft.operators.DistinctSketch
    events.where(col("event_id").isNotNull && col("value").isNotNull)
      .select(
        expr("CAST(datediff(to_date(ts), DATE '1970-01-01') AS BIGINT)")
          .as("day"),
        DistinctSketch.hash60(col("event_id")).as("pr"),
        col("value").as("v"))
      .as[(Long, Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (day: Long, rows: Iterator[(Long, Long, Double)],
         state: GroupState[QSketchState]) =>
          val prev = state.getOption.getOrElse(QSketchState(0L, Nil))
          val merged = (prev.pairs.iterator ++ rows.map(r => (r._2, r._3)))
            .toSeq
            .groupMapReduce(_._1)(_._2)(math.min) // (day, pr) → min v
            .toSeq.map { case (pr, v) => (pr, v) }
            .sortBy(identity).take(k)
          val next = QSketchState(prev.seq + 1, merged)
          state.update(next)
          val vs = merged.map(_._2).sorted
          QSketchUpdate(day, next.seq, vs.length.toLong,
            vs((vs.length + 1) / 2 - 1))
      }
  }

  /** Stream-STREAM inner join with event-time bounds: each click joins
    * purchases by the same user within the hour BEFORE the click
    * (`c_ts - 1h <= p_ts <= c_ts`). Both sides carry watermarks and the
    * join condition bounds event time in both directions, so the state
    * store provably evicts rows older than watermark + bound — the
    * requirement for unbounded streams (an unbounded condition would
    * grow state forever).
    */
  def clickPurchaseJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases, expr(
      "user_id = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"))
      .select(col("c_event"), col("p_event"), col("user_id"))
  }

  /** Native `session_window` aggregation — the built-in merging-state
    * session operator, a DIFFERENT stateful surface from the custom
    * flatMapGroupsWithState sessionize (the engine merges adjacent
    * window state under the hood; no user state class). Semantics
    * divergence from [[sessionize]] worth pinning: the native window is
    * half-open [start, last + gap), so an event at EXACTLY gap distance
    * starts a NEW session (split at diff >= gap), where the custom
    * operator's `> gap` test merges it — the oracle encodes the native
    * rule. end_ms is last-event + gap (the window end), not last-event.
    */
  def sessionWindowAgg(events: DataFrame, gapMinutes: Int): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(session_window(col("ts"), s"$gapMinutes minutes"),
        col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("n_events"),
        unix_millis(col("session_window.start")).as("start_ms"),
        unix_millis(col("session_window.end")).as("end_ms"))

  /** Stream-stream LEFT OUTER interval join — the shape that actually
    * exercises watermark-eviction semantics: a click with no purchase
    * in its preceding hour can only be emitted (null-extended) once the
    * watermark proves no matching purchase can still arrive, i.e. when
    * the right-side state for its interval is evicted. Inner joins
    * (clickPurchaseJoin) never wait on the watermark to EMIT — only to
    * evict — so this is the ninth gated streaming shape, not a variant
    * of the eighth.
    *
    * The `_mark` far-future row is KEPT in both side streams (the
    * windowedAgg pattern): it advances both event-time watermarks past
    * every real click's match deadline, so the drained sink provably
    * holds every null-extended row. Marker rows carry user_id −1 and
    * only match each other (real user_ids are non-negative); callers
    * drop them on sink read.
    */
  def clickPurchaseLeftJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type").isin("click", "_mark"))
      .select(col("event_id").as("c_event"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.where(col("event_type").isin("purchase", "_mark"))
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases, expr(
      "user_id = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"),
      "leftOuter")
      .select(col("c_event"), col("p_event"), col("user_id"))
  }

  /** Stream-stream FULL OUTER interval join — the last join mode Spark
    * supports in streaming and the hardest state test: BOTH sides'
    * unmatched rows can only be emitted once the watermark proves their
    * match window is closed, so eviction semantics is exercised on the
    * click state AND the purchase state (the left-outer shape only
    * waits on the right side). An unmatched purchase surfaces as a
    * null-extended click side (the "orphan purchase" audit row a
    * funnel pipeline wants); an unmatched click as the left join's
    * null-extended purchase side.
    *
    * Same `_mark` far-future row kept in both streams (it matches
    * itself, so it emits exactly one marker row); `uid` is coalesced
    * across the two user columns because right-unmatched rows carry
    * NULL on the click side. StreamingHygieneSpec pins that BOTH
    * null-extension kinds are emitted strictly after every match
    * emission and that each side's count equals the batch anti-join.
    */
  def clickPurchaseFullJoin(events: DataFrame): DataFrame = {
    val clicks = events.where(col("event_type").isin("click", "_mark"))
      .select(col("event_id").as("c_event"), col("user_id"), col("ts").as("c_ts"))
      .withWatermark("c_ts", "2 hours")
    val purchases = events.where(col("event_type").isin("purchase", "_mark"))
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
      .withWatermark("p_ts", "2 hours")
    clicks.join(purchases, expr(
      "user_id = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"),
      "fullOuter")
      .select(col("c_event"), col("p_event"),
        coalesce(col("user_id"), col("p_user")).as("uid"))
  }

  /** Stream-static enrichment join: each streaming event picks up its
    * user's dimension row (here: the user's total order count from the
    * batch `customer`-keyed aggregate). The static side is planned as a
    * broadcast per micro-batch — the standard streaming-dimension-join
    * shape; no state store involved.
    */
  def enriched(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(
      org.apache.spark.sql.functions.broadcast(dim), Seq("user_id"), "left")

  /** Run a streaming DF to a memory sink until all available data is
    * processed; returns the sink table.
    */
  def runToMemory(spark: SparkSession, df: DataFrame, name: String, mode: OutputMode): DataFrame = {
    val q = df.writeStream.outputMode(mode)
      .format("memory").queryName(name)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.table(name)
  }

  /** foreachBatch keyed upsert into a versioned parquet "serving table"
    * — streaming MERGE INTO with copy-on-write versions, the most common
    * production streaming sink (a continuously-maintained
    * latest-state-per-key table behind a dashboard or feature store).
    * The reference's whole lifecycle is already overwrite-per-iteration
    * (`master.py:90-95` rewrites centroids.txt each pass); this is that
    * contract generalized to keyed state at table scale.
    *
    * Per micro-batch: reduce the batch to its latest row per key
    * (map-side-combined `max(struct(ts, id, …))` — associative, so ANY
    * batch split yields the same final table), full-outer-merge with the
    * current version by the same max, write version N+1, atomically
    * flip the current pointer, then vacuum version N. At 100 TB the
    * merge is a co-partitioned join on the key (bucket the serving
    * table to make its exchange free) and each version is a metadata
    * swap — exactly the copy-on-write table-format pattern (no
    * in-place mutation anywhere).
    *
    * Returns (final version dir, number of non-empty micro-batches) —
    * callers assert batches ≥ 2 to prove the upsert really ran
    * incrementally rather than as one batch job.
    */
  def upsertServing(spark: SparkSession, srcDir: String, servingRoot: String,
      checkpointDir: String, maxFilesPerTrigger: Int = 0): (String, Int) = {
    import org.apache.spark.sql.Row
    val current = new java.util.concurrent.atomic.AtomicReference[String](null)
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    def asStruct(df: DataFrame): DataFrame =
      df.select(col("user_id"), struct(col("ts_us"), col("event_id"),
        col("event_type"), col("value")).as("m"))
    val reader = spark.readStream.schema(storedSchema(spark, srcDir))
    val events = graft.Tables.normalizeEvents(
      (if (maxFilesPerTrigger > 0)
        reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
      else reader).parquet(srcDir))
    val q = events.writeStream.outputMode(OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val delta = asStruct(batch.select(col("user_id"),
            expr("ts_ns DIV 1000").as("ts_us"), col("event_id"),
            col("event_type"), col("value")))
          .groupBy(col("user_id")).agg(max(col("m")).as("m"))
        val merged = Option(current.get()) match {
          case Some(dir) =>
            asStruct(spark.read.parquet(dir)).unionByName(delta)
              .groupBy(col("user_id")).agg(max(col("m")).as("m"))
          case None => delta
        }
        val out = s"$servingRoot/v${version.incrementAndGet()}"
        merged.select(col("user_id"), col("m.ts_us").as("ts_us"),
            col("m.event_id").as("event_id"),
            col("m.event_type").as("event_type"), col("m.value").as("value"))
          .write.mode("overwrite").parquet(out)
        val prev = current.getAndSet(out)
        if (prev != null) deleteTree(prev) // vacuum the superseded version
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (current.get(), q.recentProgress.count(_.numInputRows > 0))
  }

  private def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }

  /** Streaming incremental k-means on the 1-D event value: per
    * micro-batch, assign with the literal-centroid expression, aggregate
    * (count, sum) per cluster, and fold into running centroids — the
    * streaming form of the reference's iterate-over-full-input loop.
    * Returns final centroids after all batches.
    */
  def incrementalAssign(
      spark: SparkSession, srcDir: String, init: Seq[Centroid1D]): Seq[Centroid1D] = {
    val state = new java.util.concurrent.atomic.AtomicReference[
      (Seq[Centroid1D], Map[Int, (Long, Double)])]((init, Map.empty))
    val stream = readEvents(spark, srcDir).select(col("value").as("x"))
    val q = stream.writeStream.outputMode(OutputMode.Update())
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], _: Long) =>
        val (cs, acc) = state.get()
        val assigned = Assign.withNearest1(batch, col("x"), cs)
          .groupBy(col("cluster_id"))
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"))
          .collect()
        val acc2 = assigned.foldLeft(acc) { (m, r) =>
          val (n0, s0) = m.getOrElse(r.getInt(0), (0L, 0.0))
          m.updated(r.getInt(0), (n0 + r.getLong(1), s0 + r.getDouble(2)))
        }
        val cs2 = cs.map(c => acc2.get(c.cid)
          .map { case (n, sx) => Centroid1D(c.cid, sx / n) }.getOrElse(c))
        state.set((cs2, acc2))
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    state.get()._1
  }

  final case class SubseqState(buf: Seq[(Long, Long, Double)], n: Long)
  final case class SubseqMatch(user_id: Long, pos: Int, d6: Double)

  /** CONTINUOUS z-normalized subsequence matching — the streaming form
    * of the q_ts_subseq_search primitive and the literal problem of the
    * retrieved EDBT 2019 paper ("Time Series Similarity Search for
    * Streaming Data in Distributed Systems"): per-user state holds ONLY
    * the last m−1 points (O(m) per key forever — no watermark needed,
    * nothing ages), and every arriving point closes the window ENDING
    * at it, scored against the fixed query pattern carried in the
    * closure (m doubles — smaller than any broadcast). A match (d6 ≤
    * tau) appends the window's START ordinal immediately — detection
    * latency is one micro-batch.
    *
    * Event-time order contract: batches must arrive time-split (the
    * caller stages tertile files with ascending mtimes) and each
    * batch's per-user rows sort by (ts, id) here — under that contract
    * the emitted set is EXACTLY the batch query's window set (the
    * oracle is the batch recompute; the boundary-spanning windows are
    * the part only the state makes possible).
    *
    * The z-norm/distance arithmetic is the batch query's, op for op
    * (ascending foldLeft ≡ the aggregate/list_reduce folds — the
    * TemporalSpec replay pins driver-fold ≡ codegen equality).
    */
  final case class CusumState(s: Long, na: Long, fp: Long, pos: Long, smax: Long)
  final case class CusumRow(user_id: Long, n: Long, n_alarms: Long,
      first_alarm: Long, max_s: Long)

  /** Streaming CUSUM change-point detection (the online form of
    * q_ts_cusum — Page 1954's sequential test IS a streaming
    * algorithm; this is its production shape, continuous per-key drift
    * alerting). State is ONE 5-long record per user: (S, n_alarms,
    * first_alarm_pos, pos, max_S). The in-control target μ0 is a KNOWN
    * constant (SPC convention — a calibrated target, not the per-user
    * mean, which no online detector can know mid-stream). Within each
    * micro-batch the group's rows fold in (ts_us, event_id) order;
    * with batches staged in event-time order (the subseq tertile
    * contract) the composed fold IS the sequential batch fold, so the
    * drained final state hash-gates against the batch recompute.
    * All arithmetic integer cents — exact.
    */
  def cusumAlarms(events: DataFrame, mu0: Long, k: Long, h: Long): Dataset[CusumRow] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.where(col("user_id").isNotNull)
      .select(col("user_id").cast("long"),
        expr("ts_ns DIV 1000").as("ts_us"), col("event_id").cast("long"),
        floor(col("value") * lit(100.0) + lit(0.5)).cast("long").as("xc"))
      .as[(Long, Long, Long, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[(Long, Long, Long, Long)],
            state: GroupState[CusumState]) =>
          var st = state.getOption.getOrElse(CusumState(0L, 0L, 0L, 0L, 0L))
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            val s1 = math.max(0L, st.s + r._4 - mu0 - k)
            val pos = st.pos + 1
            val alarm = s1 > h
            st = CusumState(
              if (alarm) 0L else s1,
              st.na + (if (alarm) 1L else 0L),
              if (st.fp != 0L) st.fp else if (alarm) pos else 0L,
              pos,
              math.max(st.smax, s1))
          }
          state.update(st)
          CusumRow(uid, st.pos, st.na, st.fp, st.smax)
      }
  }

  def subseqMatches(events: DataFrame, qv: Array[Double], m: Int,
      tau: Double): Dataset[SubseqMatch] = {
    val spark = events.sparkSession
    import spark.implicits._
    def fsum(xs: Seq[Double]): Double = xs.foldLeft(0.0)(_ + _)
    def zn(xs: Seq[Double]): Seq[Double] = {
      val mu = fsum(xs) / m.toDouble
      val sd = math.sqrt(fsum(xs.map(x => (x - mu) * (x - mu))) / m.toDouble)
      xs.map(x => if (sd > 0.0) (x - mu) / sd else 0.0)
    }
    val zq = zn(qv.toSeq)
    events.select(col("user_id").cast("long"),
        expr("ts_ns DIV 1000").as("ts_us"),
        col("event_id").cast("long"), col("value").cast("double"))
      .as[(Long, Long, Long, Double)]
      .groupByKey(_._1)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout)(
        (uid: Long, rows: Iterator[(Long, Long, Long, Double)],
            state: GroupState[SubseqState]) => {
          val st = state.getOption.getOrElse(SubseqState(Seq.empty, 0L))
          var buf = st.buf
          var n = st.n
          val out = scala.collection.mutable.ArrayBuffer.empty[SubseqMatch]
          rows.toSeq.sortBy(r => (r._2, r._3)).foreach { r =>
            buf = buf :+ ((r._2, r._3, r._4))
            n += 1
            if (buf.length == m) {
              val zw = zn(buf.map(_._3))
              val d2 = fsum(zw.zip(zq).map { case (a, b) => (a - b) * (a - b) })
              val d6 = math.floor(d2 * 1e6 + 0.5) / 1e6
              if (d6 <= tau) out += SubseqMatch(uid, (n - m + 1).toInt, d6)
              buf = buf.tail
            }
          }
          state.update(SubseqState(buf, n))
          out.iterator
        })
  }
}
