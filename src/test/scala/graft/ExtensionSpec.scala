package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import graft.operators._
import graft.streaming.EventStream

/** Extension-surface coverage: dedup, similarity, text, multimodal,
  * streaming.
  */
class ExtensionSpec extends SparkSpec {

  test("exact dedup finds injected duplicates") {
    import spark.implicits._
    val docs = Seq((1L, "aaa bbb"), (2L, "aaa bbb"), (3L, "ccc"))
      .toDF("doc_id", "text")
    val out = Dedup.exact(docs).collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(out.toSet == Set((1L, 2L), (3L, 1L)))
  }

  test("jaccard pairs: identical docs score 1.0, disjoint docs absent") {
    import spark.implicits._
    val docs = Seq((1L, "the quick brown fox jumps"),
      (2L, "the quick brown fox jumps"),
      (3L, "zzzzz qqqqq wwwww")).toDF("doc_id", "text")
    val out = Dedup.jaccardPairs(docs, n = 3, dfCap = 100, tau = 0.5)
      .select("doc_a", "doc_b", "jac").collect()
    assert(out.length == 1)
    assert(out.head.getLong(0) == 1L && out.head.getLong(1) == 2L)
    assert(math.abs(out.head.getDouble(2) - 1.0) < 1e-12)
  }

  test("minhash LSH recalls identical docs; simhash fingerprints match for identical docs") {
    import spark.implicits._
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq((1L, base), (2L, base), (3L, "completely different words here xyzzy plugh"))
      .toDF("doc_id", "text")
    val mh = Dedup.minhashPairs(docs, n = 8, nHash = 12, rowsPerBand = 2, tau = 0.9)
      .select("doc_a", "doc_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(mh.toSet == Set((1L, 2L)))
    val sh = Dedup.simhash(docs).collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L) && sh(1L) != sh(3L))

    // hamming-pairs: identical docs are a ham=0 pair; a one-word edit
    // stays within the <=3 ball (shared vocabulary dominates the bit sums)
    val nearDocs = Seq((1L, base), (2L, base),
      (3L, base + " extra"), (4L, "completely different words here xyzzy plugh"))
      .toDF("doc_id", "text")
    val hp = Dedup.simhashPairs(nearDocs, maxHam = 3).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), r.getInt(2))).toMap
    assert(hp.get((1L, 2L)).contains(0))
    assert(!hp.keySet.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("brute-force topk: nearest neighbor of a vector is its duplicate") {
    import spark.implicits._
    val vecs = Seq(
      (0L, 0, Array.fill(64)(1.0)),
      (1L, 0, Array.fill(64)(1.0)), // duplicate of 0
      (2L, 0, Array.tabulate(64)(i => if (i % 2 == 0) 1.0 else -1.0)))
      .toDF("vec_id", "label", "v")
    val top = Similarity.bruteTopK(vecs, nQueries = 1, k = 1).collect()
    assert(top.head.getLong(2) == 1L) // vec_id of neighbor
    assert(math.abs(top.head.getDouble(3) - 1.0) < 1e-9)
  }

  test("LSH ANN buckets put identical vectors together; topk within bucket") {
    val planes = Similarity.hyperplanes(8, 64, seed = 13L)
    import spark.implicits._
    val vecs = Seq(
      (0L, 0, Array.fill(64)(0.5)),
      (1L, 0, Array.fill(64)(0.5)),
      (2L, 0, Array.fill(64)(-0.5))).toDF("vec_id", "label", "v")
    val out = Similarity.annTopK(vecs, planes, nQueries = 1, k = 3).collect()
    // identical vector is in the same bucket and returned; opposite vector
    // lands in the complementary bucket and must NOT appear
    assert(out.map(_.getLong(3)).toSet == Set(1L))
  }

  test("langid prefers the language whose markers dominate") {
    import spark.implicits._
    val docs = Seq(
      (1L, "x", "the cat and the dog and the bird"),
      (2L, "x", "der hund und die katze und der vogel"),
      (3L, "x", "le chat et les chiens et le oiseau des bois"))
      .toDF("doc_id", "lang", "text")
    val out = TextAnalysis.langId(docs).select("doc_id", "pred").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(out(1L) == "en" && out(2L) == "de" && out(3L) == "fr")
  }

  test("quality metrics are exact on a hand-computed doc") {
    import spark.implicits._
    val docs = Seq((1L, 11L, "Ab1, cd EF.")).toDF("doc_id", "n_chars", "text")
    val r = TextAnalysis.quality(docs).head()
    assert(r.getInt(r.fieldIndex("n_ws_tokens")) == 3)
    // tokens: Ab / 1 / , / cd / EF / .  => 6
    assert(r.getInt(r.fieldIndex("n_bpe_tokens")) == 6)
    assert(math.abs(r.getDouble(r.fieldIndex("punct_ratio")) - 2.0 / 11) < 1e-12)
    assert(math.abs(r.getDouble(r.fieldIndex("digit_ratio")) - 1.0 / 11) < 1e-12)
    assert(math.abs(r.getDouble(r.fieldIndex("upper_ratio")) - 3.0 / 11) < 1e-12)
  }

  test("winnow fingerprint: identical docs share fingerprints") {
    import spark.implicits._
    val docs = Seq((1L, "abcdefghijklmnopqrstuvwxyz"), (2L, "abcdefghijklmnopqrstuvwxyz"))
      .toDF("doc_id", "text")
    val fps = TextAnalysis.winnowFingerprint(docs).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getString(2))).toMap
    assert(fps(1L) == fps(2L))
  }

  test("multimodal: real decode covers every synthesized record") {
    val media = Multimodal.synthesizeMedia(spark, sf).toDF()
    val n = media.count()
    val feats = Multimodal.features(media)
    // every record decodes (no NULL digests — a parse failure would
    // surface as nulls in d1/s0)
    assert(feats.count() == n)
    assert(feats.where(col("d1").isNull || col("s0").isNull).count() == 0)
    val frames = Multimodal.frames(media)
    assert(frames.count() > 0)
  }

  test("multimodal resize: decoded output dims are half the input dims") {
    val media = Multimodal.synthesizeMedia(spark, sf).toDF()
    val in = media.where(col("kind") === "image")
      .withColumn("d", graft.functions.MediaCodecs.ppmDecode(col("content")))
      .select(col("media_id"), col("d.w").as("w"), col("d.h").as("h"))
    val out = Multimodal.resizeHalf(media)
    val joined = in.join(out, "media_id").collect()
    assert(joined.nonEmpty)
    joined.foreach { r =>
      assert(r.getInt(r.fieldIndex("w2")) == r.getInt(r.fieldIndex("w")) / 2)
      assert(r.getInt(r.fieldIndex("h2")) == r.getInt(r.fieldIndex("h")) / 2)
    }
  }

  test("MLlib MinHashLSH agrees with our LSH on the strongest near-dups") {
    import org.apache.spark.ml.feature.{MinHashLSH, HashingTF, Tokenizer}
    val docs = Tables.documents(spark, sf)
    val tf = new HashingTF().setInputCol("words").setOutputCol("features")
      .setNumFeatures(1 << 16).setBinary(true)
    val words = new Tokenizer().setInputCol("text").setOutputCol("words")
      .transform(docs)
    val feats = tf.transform(words).select(col("doc_id"), col("features"))
    val model = new MinHashLSH().setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(6).setSeed(7L).fit(feats)
    val mlPairs = model.approxSimilarityJoin(feats, feats, 0.5, "dist")
      .select(col("datasetA.doc_id").as("a"), col("datasetB.doc_id").as("b"))
      .where(col("a") < col("b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // our token-level ground truth: word-shingle jaccard via Dedup on the
    // same corpus (8-char shingles, tau .5) — the strongest pairs should
    // surface in both families
    val ours = Dedup.minhashPairs(docs).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(ours.nonEmpty && mlPairs.nonEmpty)
    val overlap = ours.intersect(mlPairs).size.toDouble / ours.size
    assert(overlap >= 0.5, s"overlap $overlap; ours=${ours.size} ml=${mlPairs.size}")
  }

  test("streaming windowed agg equals the batch computation") {
    val tmp = java.nio.file.Files.createTempDirectory("events-stream").toFile
    val src = new java.io.File(s"$sf/events.parquet")
    java.nio.file.Files.copy(src.toPath,
      new java.io.File(tmp, "part-0.parquet").toPath)
    // Complete mode: Append would hold back windows newer than the final
    // watermark, so the tail hours would be missing from the sink
    val stream = EventStream.windowedAgg(EventStream.readEvents(spark, tmp.getAbsolutePath))
    val got = EventStream.runToMemory(spark, stream, "win_out", OutputMode.Complete())
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    val want = graft.queries.RelationalQueries.queries("q_events_window")(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSet
    assert(got == want)
  }

  test("stream-stream interval join equals the batch interval join") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("events-ssj").toFile
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(tmp, "part-0.parquet").toPath)
    val stream = EventStream.clickPurchaseJoin(
      EventStream.readEvents(spark, tmp.getAbsolutePath))
    val got = EventStream.runToMemory(spark, stream, "ssj_out", OutputMode.Append())
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ev = Tables.events(spark, sf)
    val c = ev.where(col("event_type") === "click")
      .select(col("event_id").as("c_event"), col("user_id"), col("ts").as("c_ts"))
    val p = ev.where(col("event_type") === "purchase")
      .select(col("event_id").as("p_event"), col("user_id").as("p_user"),
        col("ts").as("p_ts"))
    val want = c.join(p, expr(
      "user_id = p_user AND p_ts BETWEEN c_ts - INTERVAL 1 HOUR AND c_ts"))
      .select("c_event", "p_event").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(got == want && got.nonEmpty)
  }

  test("stream-static enrichment join equals the batch join") {
    import org.apache.spark.sql.functions._
    val tmp = java.nio.file.Files.createTempDirectory("events-enrich").toFile
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(tmp, "part-0.parquet").toPath)
    // static dimension: per-user event-count profile from the batch table
    val dim = Tables.events(spark, sf)
      .groupBy(col("user_id")).agg(count(lit(1)).as("user_total"))
    val stream = EventStream.enriched(
      EventStream.readEvents(spark, tmp.getAbsolutePath)
        .select(col("event_id"), col("user_id")), dim)
    val got = EventStream.runToMemory(spark, stream, "enrich_out", OutputMode.Append())
      .select("event_id", "user_total").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val want = Tables.events(spark, sf).select(col("event_id"), col("user_id"))
      .join(dim, Seq("user_id"))
      .select("event_id", "user_total").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == want)
  }

  test("streaming incremental k-means matches a one-pass batch mean per cluster") {
    val tmp = java.nio.file.Files.createTempDirectory("events-stream2").toFile
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(tmp, "part-0.parquet").toPath)
    val init = Seq(Centroid1D(0, 10.0), Centroid1D(1, 100.0))
    val got = EventStream.incrementalAssign(spark, tmp.getAbsolutePath, init)
    // single micro-batch -> equals one batch Lloyd step on the same data
    val batch = Tables.events(spark, sf).select(col("value").as("x"))
    val assigned = Assign.withNearest1(batch, col("x"), init)
      .groupBy("cluster_id").agg(avg(col("x")).as("m")).collect()
      .map(r => r.getInt(0) -> r.getDouble(1)).toMap
    got.foreach { c =>
      assigned.get(c.cid).foreach(m => assert(math.abs(m - c.c) < 1e-9))
    }
  }

  test("streaming dedup drops the duplicated file's rows") {
    val tmp = java.nio.file.Files.createTempDirectory("events-dedup").toFile
    // write the SAME events file twice -> every event is duplicated
    val src = new java.io.File(s"$sf/events.parquet").toPath
    java.nio.file.Files.copy(src, new java.io.File(tmp, "a.parquet").toPath)
    java.nio.file.Files.copy(src, new java.io.File(tmp, "b.parquet").toPath)
    val deduped = EventStream.dedupStream(EventStream.readEvents(spark, tmp.getAbsolutePath))
      .select(col("event_id"))
    val got = EventStream.runToMemory(spark, deduped, "dedup_out",
      org.apache.spark.sql.streaming.OutputMode.Append()).count()
    val want = Tables.events(spark, sf).count()
    assert(got == want, s"expected $want unique events, got $got")
  }

  test("event-time sessionization across a checkpointed restart equals batch sessions") {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    import org.apache.spark.sql.expressions.Window
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("events-sess").toFile
    val cp = java.nio.file.Files.createTempDirectory("sess-cp").toFile
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(dir, "a.parquet").toPath)

    // memory sinks cannot recover from a checkpoint; the parquet file
    // sink can — which is also the realistic shape
    val outDir = java.nio.file.Files.createTempDirectory("sess-out").toFile
    def runOnce(): Long = {
      val q = EventStream.sessionize(
        EventStream.readEvents(spark, dir.getAbsolutePath), gapMinutes = 120)
        .toDF()
        .writeStream.outputMode(OutputMode.Append())
        .format("parquet").option("path", outDir.getAbsolutePath)
        .option("checkpointLocation", cp.getAbsolutePath)
        .trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      try spark.read.parquet(outDir.getAbsolutePath).count()
      catch { case _: Throwable => 0L }
    }

    // phase 1: sessions accumulate in state; watermark only advances at
    // batch end, so nothing is emitted yet
    val phase1 = runOnce()
    // phase 2: a single far-future event pushes the watermark past every
    // session's (end + gap) → all real sessions time out and emit
    val maxNs = Tables.events(spark, sf).agg(max(col("ts_ns"))).head().getLong(0)
    // marker ts must match the source files' physical type (see
    // StreamingQueries.stageEvents)
    val tsType = EventStream.storedSchema(spark, dir.getAbsolutePath)("ts").dataType
    Seq((-1L, maxNs + 30L * 24 * 3600 * 1000000000L, -1L, "marker", 0.0, "{}"))
      .toDF("event_id", "ts_raw", "user_id", "event_type", "value", "props")
      .withColumn("ts", tsType match {
        case org.apache.spark.sql.types.LongType => col("ts_raw")
        case t => timestamp_micros(expr("ts_raw DIV 1000")).cast(t)
      })
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .coalesce(1).write.mode("append").parquet(dir.getAbsolutePath)
    val phase2 = runOnce()

    // batch ground truth: sessions = 1 + #(gaps > 120min) per user
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ns"))
    val batchSessions = Tables.events(spark, sf)
      .withColumn("gap_ns", col("ts_ns") - lag(col("ts_ns"), 1).over(w))
      .withColumn("newsess",
        when(col("gap_ns").isNull || col("gap_ns") > lit(120L * 60 * 1000000000L), 1L)
          .otherwise(0L))
      .agg(sum(col("newsess"))).head().getLong(0)
    // AvailableNow may split into several micro-batches, so the watermark
    // can advance (and early sessions emit) already in phase 1; the
    // invariant is the cumulative total once the watermark passes
    // everything
    assert(phase1 < batchSessions, s"phase1=$phase1 of $batchSessions")
    assert(phase2 == batchSessions,
      s"streamed $phase2 sessions vs batch $batchSessions")
  }

  test("running totals via mapGroupsWithState equal batch totals") {
    val tmp = java.nio.file.Files.createTempDirectory("events-stream3").toFile
    java.nio.file.Files.copy(new java.io.File(s"$sf/events.parquet").toPath,
      new java.io.File(tmp, "part-0.parquet").toPath)
    val totals = EventStream.runningTotals(EventStream.readEvents(spark, tmp.getAbsolutePath))
    val got = EventStream.runToMemory(spark, totals.toDF(), "tot_out", OutputMode.Update())
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val want = Tables.events(spark, sf).groupBy("event_type").count()
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(got == want)
  }
}
