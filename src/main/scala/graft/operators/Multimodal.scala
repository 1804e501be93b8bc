package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.MediaCodecs

/** Multimodal columns (training-data-pipeline extension surface).
  *
  * Media assets are opaque `binary` columns with typed metadata — the
  * pattern a 100-TB multimodal corpus uses: the bytes stay a black box to
  * the planner (never a join/filter key), metadata columns drive
  * partition pruning, and decode/feature-extraction runs as a narrow
  * codegen'd map stage (graft.functions.MediaCodecs — REAL parsers for
  * the public PPM and WAV formats; no external codec library needed).
  *
  * The fixtures carry no real media, so [[synthesizeMedia]] builds
  * actual container bytes — spec-conformant binary PPM images, PCM WAV
  * audio, and concatenated-PPM "video" streams — whose payload bytes
  * follow a closed-form formula of (media_id, index). The decoders never
  * see the formula (they parse bytes like any file from disk); the
  * DuckDB oracle re-derives the expected digests from the formula — so
  * decode, frame demux and resize all sit under the driver's hash gate.
  */
object Multimodal {

  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      content: Array[Byte],
      meta_len: Int)

  // ---- synthesis formulas (single source of truth; the oracle SQL in
  // MultimodalQueries mirrors these term for term) ----
  //   kind  = media_id % 3 → 0 image, 1 audio, 2 video
  //   image: w = 16+m%33, h = 12+m%17,  pix[j]      = (m·31 + j·7)  % 256
  //   audio: rate = 8000+(m%5)·1000, n = 256+m%513, s[j] = (m·17 + j·5) % 256
  //   video: w = 8+m%9, h = 6+m%5, F = 2+m%4, frame f pix[j] = (m·31 + f·13 + j·7) % 256

  def synthesizeMedia(spark: SparkSession, sfDir: String): Dataset[MediaRecord] = {
    import spark.implicits._
    graft.Tables.documents(spark, sfDir).select(col("doc_id")).as[Long].map { m =>
      val bytes = (m % 3) match {
        case 0 =>
          val w = (16 + m % 33).toInt; val h = (12 + m % 17).toInt
          MediaCodecs.encodePpm(w, h, j => ((m * 31 + j * 7) % 256).toInt)
        case 1 =>
          val rate = (8000 + (m % 5) * 1000).toInt
          val n = (256 + m % 513).toInt
          MediaCodecs.encodeWav(rate,
            Array.tabulate(n)(j => ((m * 17 + j * 5) % 256).toByte))
        case _ =>
          val w = (8 + m % 9).toInt; val h = (6 + m % 5).toInt
          val f = (2 + m % 4).toInt
          (0 until f).toArray.flatMap(fi =>
            MediaCodecs.encodePpm(w, h, j => ((m * 31 + fi * 13 + j * 7) % 256).toInt))
      }
      val kind = (m % 3) match { case 0 => "image"; case 1 => "audio"; case _ => "video" }
      MediaRecord(m, kind, bytes, bytes.length)
    }
  }

  /** Per-kind feature extraction over real decoded bytes, normalized to
    * one schema:
    *   image: d1=w, d2=h, n_units=pixels, s0/s1/s2 = channel byte sums
    *   audio: d1=sample_rate, d2=bits, n_units=samples, s0 = sample sum
    *   video: d1=w, d2=h, n_units=frames, s0 = total rgb sum
    * All-integer digests — exact cross-engine, no float rounding. Each
    * branch stages the decoded struct as a named column so the decoder
    * runs once per row (CollapseProject keeps the stage split; see the
    * Assign.withNearest planning note).
    */
  def features(media: DataFrame): DataFrame = {
    // cache: the per-kind branches each filter the SAME synthesized
    // dataset, and the kind filter cannot push below the typed
    // synthesis map — uncached, every branch would re-encode every
    // record's container bytes. The digest result is tiny, so it is
    // materialized eagerly and the cache released (the jaccardPairs
    // pattern — no cached blocks outlive the call).
    val m = media.cache()
    val img = m.where(col("kind") === "image")
      .withColumn("d", MediaCodecs.ppmDecode(col("content")))
      .select(col("media_id"), col("kind"),
        octet_length(col("content")).as("n_bytes"),
        col("d.w").as("d1"), col("d.h").as("d2"),
        (col("d.w") * col("d.h")).as("n_units"),
        col("d.sum_r").as("s0"), col("d.sum_g").as("s1"), col("d.sum_b").as("s2"))
    val aud = m.where(col("kind") === "audio")
      .withColumn("d", MediaCodecs.wavDecode(col("content")))
      .select(col("media_id"), col("kind"),
        octet_length(col("content")).as("n_bytes"),
        col("d.sample_rate").as("d1"), col("d.bits").as("d2"),
        col("d.n_samples").as("n_units"),
        col("d.sum_samples").as("s0"), lit(0L).as("s1"), lit(0L).as("s2"))
    val vid = m.where(col("kind") === "video")
      .withColumn("fs", MediaCodecs.ppmFrames(col("content")))
      .select(col("media_id"), col("kind"),
        octet_length(col("content")).as("n_bytes"),
        element_at(col("fs"), 1).getField("w").as("d1"),
        element_at(col("fs"), 1).getField("h").as("d2"),
        size(col("fs")).as("n_units"),
        aggregate(col("fs"), lit(0L), (acc, f) => acc + f.getField("rgb_sum")).as("s0"),
        lit(0L).as("s1"), lit(0L).as("s2"))
    val res = img.unionAll(aud).unionAll(vid).localCheckpoint(true)
    m.unpersist()
    res
  }

  /** Frame demux: one row per decoded video frame (real successive-PPM
    * parsing — the explode-shaped transform a video pipeline needs).
    */
  def frames(media: DataFrame): DataFrame =
    media.where(col("kind") === "video")
      .select(col("media_id"),
        explode(MediaCodecs.ppmFrames(col("content"))).as("f"))
      .select(col("media_id"), col("f.frame_idx").as("frame_idx"),
        col("f.w").as("w"), col("f.h").as("h"), col("f.rgb_sum").as("rgb_sum"))

  /** Real 2× image downsample: binary in → re-encoded smaller binary out
    * (MediaCodecs.resizePpmHalf), digested by re-decoding the output —
    * the resized artifact itself is a valid PPM any external tool could
    * read.
    */
  def resizeHalf(media: DataFrame): DataFrame =
    media.where(col("kind") === "image")
      .withColumn("rz", MediaCodecs.ppmResizeHalf(col("content")))
      .withColumn("d", MediaCodecs.ppmDecode(col("rz")))
      .select(col("media_id"),
        octet_length(col("rz")).as("n_bytes"),
        col("d.w").as("w2"), col("d.h").as("h2"),
        col("d.sum_r").as("s0"), col("d.sum_g").as("s1"), col("d.sum_b").as("s2"))

  /** Perceptual-hash image dedup — the pixel-level near-dup pass of a
    * multimodal training pipeline (completes the dedup ladder into
    * images: text has exact/minhash/simhash/substring forms, this is
    * the visual analogue). Each image's REAL container bytes are
    * decoded to a 64-bit dHash (MediaCodecs.decodePpmDhash — exact
    * integer grid-pool + cross-multiplied comparisons, zero float),
    * then pairs at Hamming ≤ `maxHam` come from the SAME 4×16-bit
    * pigeonhole block LSH as the text simhash
    * ([[Dedup.hammingBlockPairs]]) — candidate space is Σ block², never
    * images². The shuffle carries only (id, fp) longs, never pixels:
    * at 100 TB the decode is a narrow map stage and the join state is
    * 16 bytes/image. Measured density (closed-form sim over the
    * synthetic corpus): 1,667 images → 1,627 distinct hashes at
    * sf0.01; 800 K block candidates / ~81 K Ham≤3 pairs at the derived
    * 10× volume — no degenerate cluster (max 29 same-hash images).
    *
    * Returns (media_a, media_b, ham), media_a < media_b.
    */
  def phashPairs(media: DataFrame, maxHam: Int = 3): DataFrame = {
    val fp = media.where(col("kind") === "image")
      .select(col("media_id").as("doc_id"),
        MediaCodecs.ppmDhash(col("content")).as("fp"))
      .where(col("fp").isNotNull)
      .cache()
    val res = graft.operators.Dedup.hammingBlockPairs(fp, maxHam)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("ham"))
      .localCheckpoint(true)
    fp.unpersist(blocking = true)
    res
  }

  /** Acoustic-fingerprint near-dup pairs over the audio corpus —
    * [[phashPairs]]' audio twin, finishing the multimodal dedup ladder
    * (text simhash → image dHash → audio aHash). Decode is the
    * codegen'd [[graft.functions.MediaCodecs.decodeWavAhash]] lag-band
    * energy hash (exact integer, zero float); pairing is the SAME
    * generic 4×16-bit pigeonhole LSH ([[Dedup.hammingBlockPairs]]), so
    * shuffles carry 16 bytes/clip whatever the audio volume.
    *
    * Returns (media_a, media_b, ham), media_a < media_b.
    */
  def ahashPairs(media: DataFrame, maxHam: Int = 3): DataFrame = {
    val fp = media.where(col("kind") === "audio")
      .select(col("media_id").as("doc_id"),
        MediaCodecs.wavAhash(col("content")).as("fp"))
      .where(col("fp").isNotNull)
      .cache()
    val res = graft.operators.Dedup.hammingBlockPairs(fp, maxHam)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("ham"))
      .localCheckpoint(true)
    fp.unpersist(blocking = true)
    res
  }

  /** Frame-sequence near-dup pairs over the video corpus — the clip
    * member of the perceptual-hash ladder (text simhash → image dHash
    * → audio aHash → video vHash, the ladder's last rung). Decode is
    * the codegen'd [[graft.functions.MediaCodecs.decodePpmVhash]]:
    * real concatenated-P6 demux, frames flattened IN ORDER into one
    * luma signal, the aHash lag-band kernel over it — order-sensitive,
    * so reordered or dropped frames move bits. Pairing is the SAME
    * generic 4×16-bit pigeonhole LSH ([[Dedup.hammingBlockPairs]]);
    * shuffles carry 16 bytes/clip whatever the video volume. Measured
    * density (closed-form sim over the synthetic corpus): 166 clips →
    * 166 distinct hashes / 2 Ham≤3 pairs at sf0.01; 1,813 clips →
    * 1,622 distinct / 684 pairs at the sampled derived scale (max 5
    * same-hash — no degenerate cluster).
    *
    * Returns (media_a, media_b, ham), media_a < media_b.
    */
  def vhashPairs(media: DataFrame, maxHam: Int = 3): DataFrame = {
    val fp = media.where(col("kind") === "video")
      .select(col("media_id").as("doc_id"),
        MediaCodecs.ppmVhash(col("content")).as("fp"))
      .where(col("fp").isNotNull)
      .cache()
    val res = graft.operators.Dedup.hammingBlockPairs(fp, maxHam)
      .select(col("doc_a").as("media_a"), col("doc_b").as("media_b"),
        col("ham"))
      .localCheckpoint(true)
    fp.unpersist(blocking = true)
    res
  }

  /** Frame-SUBSEQUENCE containment over the video corpus — the clip
    * analogue of text's [[Dedup.containmentPairs]] (a shorter clip
    * whose whole frame sequence appears contiguously inside a longer
    * one: re-encodes, trims, and prefix/suffix cuts that
    * [[vhashPairs]]' whole-clip fingerprint can't pair because the
    * lengths differ). Each clip decodes to its per-frame payload-hash
    * sequence ([[graft.functions.MediaCodecs.decodePpmFrameHashes]],
    * codegen'd); candidates come from each clip's RAREST frame hash
    * only ([[frameSeqContainment]] — lossless by the containment
    * pigeonhole, and the join bound drops from the any-shared-hash
    * Σ df², which goes quadratic on real video's ubiquitous frames,
    * to Σ df(rarest)); the verify is one narrow HOF over the two
    * hash arrays — ∃ offset o: ∀ i: ha[i] = hb[o+i] — never touching
    * pixels. Shuffles carry (id, hash) longs; the arrays ride only
    * the verified-candidate join. Measured density (closed-form sim):
    * 166 clips → 68 containments / 68 rarest-hash candidates at
    * sf0.01, 1,813 → 1,085 / 1,552 at the sampled derived dir (the
    * any-shared form generated 460 / 8,288 directed candidates —
    * 5× more even at fixture skew). MediaCodecSpec pins verified-pair
    * equality between the two generators on the fixture.
    *
    * Returns (media_a, media_b, f_a, f_b, off): clip a (f_a frames)
    * contained in clip b (f_b > f_a) at first offset `off`.
    */
  def vhashContainment(media: DataFrame,
      rarestOnly: Boolean = true): DataFrame = {
    val fh = media.where(col("kind") === "video")
      .select(col("media_id"),
        MediaCodecs.ppmFrameHashes(col("content")).as("hs"))
      .where(col("hs").isNotNull)
    frameSeqContainment(fh, rarestOnly)
  }

  /** Audio frame-subsequence containment — [[vhashContainment]]'s
    * audio twin, completing the containment ladder across modalities
    * (text [[Dedup.containmentPairs]] → video → audio): a trimmed or
    * re-cut clip whose whole 64-sample-frame hash sequence appears
    * contiguously inside a longer recording (the radio/podcast dedup
    * case). Decode is the codegen'd
    * [[graft.functions.MediaCodecs.decodeWavFrameHashes]] (the
    * IDENTICAL `(acc·131+v) mod 2³¹−1` frame fold as the video twin);
    * candidates and verify are [[frameSeqContainment]] verbatim —
    * rarest-hash candidate generation, one narrow offset-search HOF,
    * samples never join or shuffle. Measured density (closed-form sim
    * over the synthetic corpus): 167 audio clips → 142 containments /
    * 284 rarest-hash candidates at sf0.01; 1,813 → 18,209 / 49,768 at
    * the sampled derived dir (vs 199,072 any-shared candidates — the
    * rarest discipline cuts 4× even at fixture skew).
    */
  def ahashContainment(media: DataFrame): DataFrame = {
    val fh = media.where(col("kind") === "audio")
      .select(col("media_id"),
        MediaCodecs.wavFrameHashes(col("content")).as("hs"))
      .where(col("hs").isNotNull)
    frameSeqContainment(fh, rarestOnly = true)
  }

  /** Shared frame-subsequence containment kernel over a per-clip hash
    * sequence table `fh` = (media_id, hs ARRAY<BIGINT>): emit
    * (media_a, media_b, f_a, f_b, off) where clip a's whole sequence
    * appears contiguously inside clip b (strictly longer) at first
    * offset `off`.
    *
    * Candidate generation is RAREST-HASH-ONLY (the containment
    * pigeonhole, lossless): if a ⊆ b then EVERY frame hash of a —
    * in particular its globally rarest one (min document frequency,
    * ties to the smaller hash) — appears among b's hashes, so joining
    * each clip's single rarest hash against the exploded corpus index
    * finds every true pair while bounding the join by Σ df(rarest)
    * instead of the any-shared-hash Σ df² — which goes quadratic on a
    * real corpus's ubiquitous frames (black frames, title cards,
    * silence). It also emits each candidate in ONE orientation row
    * per container instead of both. `rarestOnly = false` keeps the
    * any-shared-hash generator for the spec's equality pin
    * (MediaCodecSpec: identical verified pairs on the fixture).
    *
    * The (df, fp) argmin rides ONE combined BIGINT key
    * df·2³¹ + fp (frame hashes live in [0, 2³¹−1), so the modulus
    * recovers fp exactly) — one map-side-combined aggregate, no
    * struct ordering. Verify is one narrow HOF over the two hash
    * arrays — ∃ offset o: ∀ i: ha[i] = hb[o+i] — never touching
    * payload bytes; the arrays ride only the verified-candidate join.
    */
  private[graft] def frameSeqContainment(fhRaw: DataFrame,
      rarestOnly: Boolean): DataFrame = {
    val fh = fhRaw.cache()
    val ex = fh.select(col("media_id"), explode(col("hs")).as("fp")).distinct()
    val cand = if (rarestOnly) {
      val dfc = ex.groupBy(col("fp")).agg(count(lit(1)).as("dfc"))
      val rare = ex.join(dfc, Seq("fp"))
        .groupBy(col("media_id").as("media_a"))
        .agg(min(col("dfc") * lit(2147483648L) + col("fp")).as("rk"))
        .select(col("media_a"), (col("rk") % lit(2147483648L)).as("fp"))
      // ex is distinct (media, fp) and rare has ONE row per media_a,
      // so the join emits each (a, b) at most once — no distinct pass
      rare.join(ex.select(col("media_id").as("media_b"), col("fp")), Seq("fp"))
        .where(col("media_a") =!= col("media_b"))
        .select(col("media_a"), col("media_b"))
    } else {
      ex.select(col("media_id").as("media_a"), col("fp"))
        .join(ex.select(col("media_id").as("media_b"), col("fp")), Seq("fp"))
        .where(col("media_a") =!= col("media_b"))
        .select(col("media_a"), col("media_b")).distinct()
    }
    val withArrs = cand
      .join(fh.select(col("media_id").as("media_a"), col("hs").as("ha")), Seq("media_a"))
      .join(fh.select(col("media_id").as("media_b"), col("hs").as("hb")), Seq("media_b"))
      .where(size(col("ha")) < size(col("hb")))
    val offs = filter(
      sequence(lit(0), size(col("hb")) - size(col("ha"))),
      o => forall(sequence(lit(1), size(col("ha"))),
        i => element_at(col("ha"), i) === element_at(col("hb"), o + i)))
    val res = withArrs
      .withColumn("offs", offs)
      .where(size(col("offs")) > 0)
      .select(col("media_a"), col("media_b"),
        size(col("ha")).as("f_a"), size(col("hb")).as("f_b"),
        array_min(col("offs")).as("off"))
      .localCheckpoint(true)
    fh.unpersist(blocking = true)
    res
  }

  /** Metadata-only view — pure SQL functions, oracle-checkable: at scale
    * this is the query that runs WITHOUT touching the media bytes.
    */
  def mediaMeta(spark: SparkSession, sfDir: String): DataFrame =
    graft.Tables.documents(spark, sfDir).select(
      col("doc_id").as("media_id"),
      octet_length(col("text")).as("n_bytes"),
      md5(col("text")).as("content_hash"),
      lower(hex(substring(col("text"), 1, 4))).as("magic"))
}
