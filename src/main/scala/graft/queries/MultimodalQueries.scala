package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.Multimodal

/** Multimodal queries — ALL oracle-checked as of round 3.
  *
  * The Spark side decodes REAL container bytes (binary PPM / PCM WAV /
  * concatenated-PPM video, built by Multimodal.synthesizeMedia and
  * parsed by graft.functions.MediaCodecs). The oracle never decodes:
  * it re-derives the expected integer digests from the synthesis
  * formulas (see Multimodal scaladoc) with generate_series arithmetic.
  * A decoder bug — header walk, channel order, frame demux, resample
  * indexing — breaks the hash compare; every digest is exact integer
  * math, so there is no float-rounding slack anywhere in this family.
  *
  * `mm_meta` stays the metadata-only fast path (never touches bytes).
  */
object MultimodalQueries {

  private def media(s: SparkSession, dir: String): DataFrame =
    Multimodal.synthesizeMedia(s, dir).toDF()

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mm_meta" -> ((s, dir) =>
      Multimodal.mediaMeta(s, dir).orderBy("media_id")),

    "mm_features" -> ((s, dir) =>
      Multimodal.features(media(s, dir)).orderBy("media_id")),

    "mm_frames" -> ((s, dir) =>
      Multimodal.frames(media(s, dir)).orderBy("media_id", "frame_idx")),

    "mm_resize" -> ((s, dir) =>
      Multimodal.resizeHalf(media(s, dir)).orderBy("media_id")),

    // perceptual-hash image near-dup pairs (Multimodal.phashPairs
    // scaladoc): real byte decode → integer dHash → the simhash
    // family's 4×16-bit pigeonhole LSH, Hamming ≤ 3. The oracle
    // re-derives the hash from the closed-form pixel generator (the
    // mm_features discipline) and replays the identical block join —
    // a decoder bug, grid-pool bug, or bit-order bug all break the
    // hash gate.
    "dedup_phash" -> ((s, dir) =>
      Multimodal.phashPairs(media(s, dir), maxHam = 3)
        .orderBy("media_a", "media_b")),

    // acoustic-fingerprint audio near-dup pairs (Multimodal.ahashPairs
    // scaladoc): real RIFF/PCM byte decode → integer lag-band energy
    // hash → the same pigeonhole LSH. The oracle re-derives the hash
    // from the closed-form PCM generator (never decoding bytes), so a
    // RIFF-walk bug, window/lag bug, or bit-order bug all break the
    // hash gate — the dedup_phash discipline on the audio half.
    "dedup_ahash" -> ((s, dir) =>
      Multimodal.ahashPairs(media(s, dir), maxHam = 3)
        .orderBy("media_a", "media_b")),

    // frame-sequence video near-dup pairs (Multimodal.vhashPairs
    // scaladoc): real concatenated-P6 demux → frames flattened in
    // order into one luma signal → the aHash lag-band kernel → the
    // same pigeonhole LSH. The oracle re-derives the hash from the
    // closed-form frame generator (never decoding bytes) — a demux
    // bug, frame-order bug, window/lag bug or bit-order bug all break
    // the hash gate. Completes the multimodal dedup ladder:
    // text → image → audio → video.
    "dedup_vhash" -> ((s, dir) =>
      Multimodal.vhashPairs(media(s, dir), maxHam = 3)
        .orderBy("media_a", "media_b")),

    // frame-subsequence containment (Multimodal.vhashContainment
    // scaladoc): a shorter clip contiguously inside a longer one —
    // the trims/re-encodes whole-clip vhash can't pair. Real demux →
    // per-frame payload hashes → RAREST-hash candidate join (lossless
    // by the containment pigeonhole; bounds the join by Σ df(rarest)
    // instead of the any-shared Σ df² that goes quadratic on real
    // video's ubiquitous frames) → one narrow HOF verify over the
    // hash arrays. Oracle re-derives every frame hash from the
    // closed-form generator and replays the identical rarest-hash
    // argmin and offset search.
    "dedup_vhash_contain" -> ((s, dir) =>
      Multimodal.vhashContainment(media(s, dir))
        .orderBy("media_a", "media_b")),

    // audio frame-subsequence containment (Multimodal.ahashContainment
    // scaladoc): a trimmed/re-cut clip inside a longer recording —
    // the radio/podcast dedup case, completing the containment ladder
    // across modalities (text → video → audio). Real RIFF/PCM decode
    // → 64-sample-frame payload hashes (the identical fold as the
    // video twin) → the SAME rarest-hash candidate + offset-search
    // kernel. Oracle re-derives the frame hashes from the closed-form
    // PCM generator and replays the identical chain.
    "dedup_ahash_contain" -> ((s, dir) =>
      Multimodal.ahashContainment(media(s, dir))
        .orderBy("media_a", "media_b")))

  /** Shared CTE prefix: per-kind dimension formulas (mirror
    * Multimodal.synthesizeMedia term for term).
    */
  private val dims =
    """m AS (SELECT doc_id AS media_id FROM documents),
      |img AS (SELECT media_id, CAST(16 + media_id % 33 AS INT) AS w,
      |               CAST(12 + media_id % 17 AS INT) AS h
      |        FROM m WHERE media_id % 3 = 0),
      |vid AS (SELECT media_id, CAST(8 + media_id % 9 AS INT) AS w,
      |               CAST(6 + media_id % 5 AS INT) AS h,
      |               CAST(2 + media_id % 4 AS INT) AS f
      |        FROM m WHERE media_id % 3 = 2)""".stripMargin

  private val featuresSql =
    s"""WITH $dims,
       |ipx AS (SELECT media_id, w, h, unnest(generate_series(0, w*h*3 - 1)) AS j FROM img),
       |iagg AS (SELECT media_id, w, h,
       |    CAST(sum(CASE WHEN j % 3 = 0 THEN (media_id*31 + j*7) % 256 ELSE 0 END) AS BIGINT) AS s0,
       |    CAST(sum(CASE WHEN j % 3 = 1 THEN (media_id*31 + j*7) % 256 ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN j % 3 = 2 THEN (media_id*31 + j*7) % 256 ELSE 0 END) AS BIGINT) AS s2
       |  FROM ipx GROUP BY media_id, w, h),
       |aud AS (SELECT media_id, CAST(8000 + (media_id % 5) * 1000 AS INT) AS rate,
       |               CAST(256 + media_id % 513 AS INT) AS n
       |        FROM m WHERE media_id % 3 = 1),
       |apx AS (SELECT media_id, rate, n, unnest(generate_series(0, n - 1)) AS j FROM aud),
       |aagg AS (SELECT media_id, rate, n,
       |    CAST(sum((media_id*17 + j*5) % 256) AS BIGINT) AS s0
       |  FROM apx GROUP BY media_id, rate, n),
       |vfr AS (SELECT media_id, w, h, f, unnest(generate_series(0, f - 1)) AS fi FROM vid),
       |vpx AS (SELECT media_id, w, h, f, fi, unnest(generate_series(0, w*h*3 - 1)) AS j FROM vfr),
       |vagg AS (SELECT media_id, w, h, f,
       |    CAST(sum((media_id*31 + fi*13 + j*7) % 256) AS BIGINT) AS s0
       |  FROM vpx GROUP BY media_id, w, h, f)
       |SELECT media_id, 'image' AS kind,
       |  CAST(9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*3 AS INT) AS n_bytes,
       |  w AS d1, h AS d2, CAST(w*h AS INT) AS n_units, s0, s1, s2 FROM iagg
       |UNION ALL
       |SELECT media_id, 'audio' AS kind, CAST(44 + n AS INT) AS n_bytes,
       |  rate AS d1, CAST(8 AS INT) AS d2, n AS n_units, s0,
       |  CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2 FROM aagg
       |UNION ALL
       |SELECT media_id, 'video' AS kind,
       |  CAST(f * (9 + length(CAST(w AS VARCHAR)) + length(CAST(h AS VARCHAR)) + w*h*3) AS INT) AS n_bytes,
       |  w AS d1, h AS d2, f AS n_units, s0,
       |  CAST(0 AS BIGINT) AS s1, CAST(0 AS BIGINT) AS s2 FROM vagg
       |ORDER BY media_id""".stripMargin

  private val framesSql =
    s"""WITH $dims,
       |vfr AS (SELECT media_id, w, h, f, unnest(generate_series(0, f - 1)) AS fi FROM vid),
       |vpx AS (SELECT media_id, w, h, fi, unnest(generate_series(0, w*h*3 - 1)) AS j FROM vfr)
       |SELECT media_id, CAST(fi AS INT) AS frame_idx, w, h,
       |  CAST(sum((media_id*31 + fi*13 + j*7) % 256) AS BIGINT) AS rgb_sum
       |FROM vpx GROUP BY media_id, fi, w, h
       |ORDER BY media_id, frame_idx""".stripMargin

  /** Resized pixel (x,y,c) samples source index ((2y)·w + 2x)·3 + c —
    * the exact index arithmetic of MediaCodecs.resizePpmHalf, replayed
    * over the generator formula instead of the bytes.
    */
  private val resizeSql =
    s"""WITH $dims,
       |rs AS (SELECT media_id, w, CAST(w // 2 AS INT) AS w2, CAST(h // 2 AS INT) AS h2 FROM img),
       |rpx AS (SELECT media_id, w, w2, h2, unnest(generate_series(0, w2*h2*3 - 1)) AS k FROM rs),
       |rv AS (SELECT media_id, w2, h2, k,
       |    (media_id*31 + ((((k // 3) // w2) * 2 * w + ((k // 3) % w2) * 2) * 3 + k % 3) * 7) % 256 AS v
       |  FROM rpx),
       |ragg AS (SELECT media_id, w2, h2,
       |    CAST(sum(CASE WHEN k % 3 = 0 THEN v ELSE 0 END) AS BIGINT) AS s0,
       |    CAST(sum(CASE WHEN k % 3 = 1 THEN v ELSE 0 END) AS BIGINT) AS s1,
       |    CAST(sum(CASE WHEN k % 3 = 2 THEN v ELSE 0 END) AS BIGINT) AS s2
       |  FROM rv GROUP BY media_id, w2, h2)
       |SELECT media_id,
       |  CAST(9 + length(CAST(w2 AS VARCHAR)) + length(CAST(h2 AS VARCHAR)) + w2*h2*3 AS INT) AS n_bytes,
       |  w2, h2, s0, s1, s2
       |FROM ragg ORDER BY media_id""".stripMargin

  /** dHash replay over the generator formula: per-pixel luma
    * (r+g+b, each channel (m·31 + j·7) % 256), 9×8 average-pool cells
    * keyed by (x·9)//w and (y·8)//h, one bit per adjacent-cell
    * cross-multiplied comparison, folded row-major MSB-first into a
    * BIGINT (bit 63's weight via the min-BIGINT idiom —
    * Dedup.simhashFpSql note), then the 4-block pigeonhole join.
    */
  private val phashSql = {
    val minLong = "(CAST(-9223372036854775807 AS BIGINT) - 1)"
    s"""WITH $dims,
       |px AS (SELECT media_id, w, h,
       |    unnest(generate_series(0, w*h - 1)) AS pidx FROM img),
       |cell AS (SELECT media_id,
       |    ((pidx // w) * 8) // h AS gy, ((pidx % w) * 9) // w AS gx,
       |    (media_id*31 + (pidx*3)*7) % 256
       |      + (media_id*31 + (pidx*3+1)*7) % 256
       |      + (media_id*31 + (pidx*3+2)*7) % 256 AS l
       |  FROM px),
       |cg AS MATERIALIZED (SELECT media_id, gy, gx,
       |    CAST(sum(l) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |  FROM cell GROUP BY 1, 2, 3),
       |bits AS (SELECT a.media_id, a.gy, a.gx,
       |    CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
       |  FROM cg a JOIN cg b ON b.media_id = a.media_id AND b.gy = a.gy
       |    AND b.gx = a.gx + 1
       |  WHERE a.gx < 8),
       |fp AS MATERIALIZED (SELECT media_id,
       |    CAST(sum(CASE
       |      WHEN gy = 0 AND gx = 0 THEN
       |        CASE WHEN bit = 1 THEN $minLong ELSE 0 END
       |      ELSE CAST(bit AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(63 - gy*8 - gx AS INT))
       |      END) AS BIGINT) AS fp
       |  FROM bits GROUP BY media_id),
       |blocks AS (SELECT media_id, fp, b, (fp >> (16 * b)) & 65535 AS k
       |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS b) bs),
       |cand AS (SELECT DISTINCT x.media_id AS media_a, x.fp AS fp_a,
       |    y.media_id AS media_b, y.fp AS fp_b
       |  FROM blocks x JOIN blocks y
       |    ON x.b = y.b AND x.k = y.k AND x.media_id < y.media_id)
       |SELECT media_a, media_b,
       |  CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS ham
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Closed-form aHash oracle: samples s[j] = (m·17 + j·5) % 256 over
    * n = 256 + m % 513 re-derived from the generator, then the lag-band
    * energy grid, cross-multiplied bits, and the identical block join —
    * term-for-term the decoder's arithmetic, independently in SQL.
    */
  private val ahashSql = {
    val minLong = "(CAST(-9223372036854775807 AS BIGINT) - 1)"
    s"""WITH m AS (SELECT doc_id AS media_id FROM documents),
       |aud AS (SELECT media_id, CAST(256 + media_id % 513 AS BIGINT) AS n
       |        FROM m WHERE media_id % 3 = 1),
       |ks AS (SELECT media_id, n, unnest(generate_series(1, 8)) AS k FROM aud),
       |pr AS (SELECT media_id, n, k,
       |         unnest(generate_series(0, n - 1 - k)) AS j FROM ks),
       |d AS (SELECT media_id, k, (j * 9) // n AS t,
       |        abs((media_id*17 + (j+k)*5) % 256
       |          - (media_id*17 + j*5) % 256) AS dd
       |      FROM pr),
       |eg AS MATERIALIZED (SELECT media_id, k, t,
       |        CAST(sum(dd) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |      FROM d GROUP BY 1, 2, 3),
       |bits AS (SELECT a.media_id, a.k, a.t,
       |        CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
       |      FROM eg a JOIN eg b ON b.media_id = a.media_id
       |        AND b.k = a.k AND b.t = a.t + 1
       |      WHERE a.t < 8),
       |fp AS MATERIALIZED (SELECT media_id,
       |    CAST(sum(CASE
       |      WHEN k = 1 AND t = 0 THEN
       |        CASE WHEN bit = 1 THEN $minLong ELSE 0 END
       |      ELSE CAST(bit AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(63 - (k-1)*8 - t AS INT))
       |      END) AS BIGINT) AS fp
       |  FROM bits GROUP BY media_id),
       |blocks AS (SELECT media_id, fp, b, (fp >> (16 * b)) & 65535 AS k
       |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS b) bs),
       |cand AS (SELECT DISTINCT x.media_id AS media_a, x.fp AS fp_a,
       |    y.media_id AS media_b, y.fp AS fp_b
       |  FROM blocks x JOIN blocks y
       |    ON x.b = y.b AND x.k = y.k AND x.media_id < y.media_id)
       |SELECT media_a, media_b,
       |  CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS ham
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Closed-form vHash oracle: the clip luma signal re-derived from
    * the video frame generator — l[j] = Σ_c (m·31 + (j//wh)·13 +
    * ((j%wh)·3+c)·7) % 256 over n = f·w·h global pixel indices — then
    * the identical lag-band energy grid, cross-multiplied bits, and
    * block join as [[ahashSql]]; frame order enters through the flat
    * index, so the oracle breaks on any demux-order divergence.
    */
  private val vhashSql = {
    val minLong = "(CAST(-9223372036854775807 AS BIGINT) - 1)"
    s"""WITH $dims,
       |vv AS (SELECT media_id, CAST(w AS BIGINT) * h AS wh,
       |         CAST(f AS BIGINT) * w * h AS n FROM vid),
       |js AS (SELECT media_id, wh, n, unnest(generate_series(0, n - 1)) AS j FROM vv),
       |lum AS MATERIALIZED (SELECT media_id, n, j,
       |        (media_id*31 + (j // wh)*13 + ((j % wh)*3)*7) % 256
       |      + (media_id*31 + (j // wh)*13 + ((j % wh)*3 + 1)*7) % 256
       |      + (media_id*31 + (j // wh)*13 + ((j % wh)*3 + 2)*7) % 256 AS l
       |      FROM js),
       |d AS (SELECT a.media_id, ks.k, (a.j * 9) // a.n AS t,
       |        abs(b.l - a.l) AS dd
       |      FROM lum a
       |      CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS k) ks
       |      JOIN lum b ON b.media_id = a.media_id AND b.j = a.j + ks.k),
       |eg AS MATERIALIZED (SELECT media_id, k, t,
       |        CAST(sum(dd) AS BIGINT) AS s, CAST(count(*) AS BIGINT) AS c
       |      FROM d GROUP BY 1, 2, 3),
       |bits AS (SELECT a.media_id, a.k, a.t,
       |        CASE WHEN a.s * b.c > b.s * a.c THEN 1 ELSE 0 END AS bit
       |      FROM eg a JOIN eg b ON b.media_id = a.media_id
       |        AND b.k = a.k AND b.t = a.t + 1
       |      WHERE a.t < 8),
       |fp AS MATERIALIZED (SELECT media_id,
       |    CAST(sum(CASE
       |      WHEN k = 1 AND t = 0 THEN
       |        CASE WHEN bit = 1 THEN $minLong ELSE 0 END
       |      ELSE CAST(bit AS BIGINT)
       |        * (CAST(1 AS BIGINT) << CAST(63 - (k-1)*8 - t AS INT))
       |      END) AS BIGINT) AS fp
       |  FROM bits GROUP BY media_id),
       |blocks AS (SELECT media_id, fp, b, (fp >> (16 * b)) & 65535 AS k
       |  FROM fp, (SELECT unnest([0, 1, 2, 3]) AS b) bs),
       |cand AS (SELECT DISTINCT x.media_id AS media_a, x.fp AS fp_a,
       |    y.media_id AS media_b, y.fp AS fp_b
       |  FROM blocks x JOIN blocks y
       |    ON x.b = y.b AND x.k = y.k AND x.media_id < y.media_id)
       |SELECT media_a, media_b,
       |  CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS ham
       |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
       |ORDER BY media_a, media_b""".stripMargin
  }

  /** Shared containment-oracle suffix over a `fh` = (media_id, fi,
    * fp) CTE: the exact replay of Multimodal.frameSeqContainment —
    * distinct per-clip hash index, global df, per-clip rarest hash
    * via the identical min(df·2³¹ + fp) combined key, candidates
    * from the rarest hash only, and the same offset-search lambda —
    * generate_series(0, f_b−f_a) is inclusive on both engines, lists
    * ascend so offs[1] is the first offset.
    */
  private val containChainSql =
    """arr AS MATERIALIZED (SELECT media_id, list(fp ORDER BY fi) AS hs
      |  FROM fh GROUP BY 1),
      |exd AS MATERIALIZED (SELECT DISTINCT media_id, fp FROM fh),
      |dfc AS (SELECT fp, CAST(count(*) AS BIGINT) AS c FROM exd GROUP BY 1),
      |rare AS (SELECT e.media_id AS media_a,
      |    min(d.c * 2147483648 + e.fp) AS rk
      |  FROM exd e JOIN dfc d USING (fp) GROUP BY 1),
      |cand AS (SELECT r.media_a, e.media_id AS media_b
      |  FROM (SELECT media_a, rk % 2147483648 AS fp FROM rare) r
      |  JOIN exd e USING (fp) WHERE e.media_id <> r.media_a),
      |pair AS (SELECT c.media_a, c.media_b, a.hs AS ha, b.hs AS hb,
      |    len(a.hs) AS f_a, len(b.hs) AS f_b
      |  FROM cand c JOIN arr a ON a.media_id = c.media_a
      |  JOIN arr b ON b.media_id = c.media_b
      |  WHERE len(a.hs) < len(b.hs)),
      |ver AS (SELECT media_a, media_b, f_a, f_b,
      |    list_filter(generate_series(0, f_b - f_a), o ->
      |      len(list_filter(generate_series(1, f_a), i ->
      |        ha[i] = hb[o + i])) = f_a) AS offs
      |  FROM pair)
      |SELECT media_a, media_b, CAST(f_a AS INT) AS f_a,
      |  CAST(f_b AS INT) AS f_b, CAST(offs[1] AS INT) AS off
      |FROM ver WHERE len(offs) > 0
      |ORDER BY media_a, media_b""".stripMargin

  /** Closed-form video containment oracle: per-frame payload hashes
    * re-derived from the generator with the identical
    * `(acc·131 + byte) mod 2³¹−1` fold (list_prepend(0) seeds the
    * accumulator), then [[containChainSql]].
    */
  private val vhashContainSql =
    s"""WITH $dims,
       |fr AS (SELECT media_id, w, h, f, unnest(generate_series(0, f - 1)) AS fi FROM vid),
       |fh AS MATERIALIZED (SELECT media_id, fi,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(0, w*h*3 - 1),
       |        j -> (media_id*31 + fi*13 + j*7) % 256)),
       |      (a, v) -> (a * 131 + v) % 2147483647) AS fp
       |  FROM fr),
       |$containChainSql""".stripMargin

  /** Closed-form AUDIO containment oracle: 64-sample frame hashes
    * re-derived from the PCM generator s[j] = (m·17 + j·5) % 256
    * (tail partial frame dropped, like the decoder), the identical
    * fold, then [[containChainSql]] verbatim.
    */
  private val ahashContainSql =
    s"""WITH m AS (SELECT doc_id AS media_id FROM documents),
       |aud AS (SELECT media_id, CAST(256 + media_id % 513 AS BIGINT) AS n
       |        FROM m WHERE media_id % 3 = 1),
       |fr AS (SELECT media_id, unnest(generate_series(0, n // 64 - 1)) AS fi
       |       FROM aud),
       |fh AS MATERIALIZED (SELECT media_id, fi,
       |    list_reduce(list_prepend(CAST(0 AS BIGINT),
       |      list_transform(generate_series(0, 63),
       |        j -> (media_id*17 + (fi*64 + j)*5) % 256)),
       |      (a, v) -> (a * 131 + v) % 2147483647) AS fp
       |  FROM fr),
       |$containChainSql""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "dedup_phash" -> phashSql,
    "dedup_ahash" -> ahashSql,
    "dedup_vhash" -> vhashSql,
    "dedup_vhash_contain" -> vhashContainSql,
    "dedup_ahash_contain" -> ahashContainSql,
    "mm_meta" ->
      """SELECT doc_id AS media_id,
        |  CAST(octet_length(encode(text)) AS INT) AS n_bytes,
        |  md5(text) AS content_hash,
        |  lower(hex(substr(text, 1, 4))) AS magic
        |FROM documents ORDER BY media_id""".stripMargin,
    "mm_features" -> featuresSql,
    "mm_frames" -> framesSql,
    "mm_resize" -> resizeSql)
}
