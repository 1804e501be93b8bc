package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Deduplication operators over the `documents` table — the
  * training-data-pipeline extension surface (builder prompt; SURVEY §7.4).
  *
  * Four families, each with a DuckDB-oracle twin in DedupQueries:
  *  - exact: hash-groupBy on normalized text (group by md5 so the shuffle
  *    key is 32 bytes, not the document body — at 100 TB the shuffle
  *    carries hashes, never text);
  *  - n-gram Jaccard: char-shingle inverted index self-join with a
  *    document-frequency cap (stop-shingle removal — without it a common
  *    trigram joins every doc pair and the self-join is quadratic in the
  *    corpus; with it, shuffle volume is Σ df² over rare shingles only);
  *  - MinHash + LSH banding: the scale path — signature is 12 string
  *    min-hashes (md5 is identical on both engines, min over hex strings
  *    is plain lexicographic order), banded 6×2 into bucket keys; only
  *    same-bucket pairs are candidates, then exact Jaccard verification
  *    on the (tiny) candidate set;
  *  - SimHash: 32-bit fingerprint from per-token md5 bits via pure
  *    integer arithmetic (cross-engine deterministic), hamming-0 buckets.
  *
  * All shingle/token generation is `explode(transform(sequence(...)))` —
  * a narrow per-row op; every join key is a short hash/shingle string.
  */
object Dedup {

  /** Spread a small-file input across the cluster before per-row-heavy
    * work: a tiny parquet reads as ONE partition, which would serialize
    * the explode/hash pipeline onto one core. (At real corpus scale the
    * source has ample partitions and this repartition is a no-op cost.)
    */
  private def spread(docs: DataFrame): DataFrame = {
    val p = docs.sparkSession.sparkContext.defaultParallelism
    if (docs.rdd.getNumPartitions >= p) docs else docs.repartition(p)
  }

  /** Char n-gram shingle stream per doc (positional, with duplicates) —
    * a narrow explode, no shuffle.
    */
  def rawShingles(docs: DataFrame, n: Int): DataFrame =
    spread(docs.select(col("doc_id"), lower(col("text")).as("t"))
        .where(length(col("t")) >= n))
      .select(col("doc_id"),
        explode(transform(
          sequence(lit(1), length(col("t")) - (n - 1)),
          i => col("t").substr(i, lit(n)))).as("sh"))

  /** Distinct char n-gram shingles per doc: (doc_id, sh). */
  def shingles(docs: DataFrame, n: Int): DataFrame =
    rawShingles(docs, n).distinct()

  /** Distinct w-WORD shingles per doc (the established whitespace
    * tokenizer): (doc_id, sh). Word shingles have a combinatorial
    * vocabulary where this corpus's char n-grams have a tiny closed
    * one — measured at the derived volume, char-8 prefix filtering
    * degenerates (12.5k distinct prefix shingles over 50k docs, 2.69e9
    * candidate rows) while word-5 stays discriminative (283k-shingle
    * vocabulary, max df = copy-cluster size, 3.7e6 candidate rows).
    */
  def wordShingles(docs: DataFrame, w: Int): DataFrame = {
    val ts = filter(split(lower(col("text")), "\\s+"), t => t =!= "")
    docs.select(col("doc_id"), ts.as("ts"))
      .where(size(col("ts")) >= w)
      .select(col("doc_id"), explode(array_distinct(transform(
        sequence(lit(1), size(col("ts")) - (w - 1)),
        i => concat_ws(" ", (0 until w).map(j =>
          element_at(col("ts"), i + lit(j))): _*)))).as("sh"))
  }

  /** Exact dedup: one row per distinct normalized text; keep_id is the
    * smallest doc_id of the group.
    */
  def exact(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), md5(lower(col("text"))).as("h"))
      .groupBy(col("h"))
      .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
      .select(col("keep_id"), col("n_copies"), col("h"))

  /** n-gram Jaccard similar pairs via shingle inverted index.
    *
    * @param dfCap  drop shingles appearing in more than dfCap docs
    *               (stop-shingles); intersections count rare shingles
    *               only — the standard candidate-generation approximation
    * @param tau    minimum (rare-shingle) Jaccard to emit
    *
    * The result is materialized (local checkpoint), so a downstream
    * plan reads it as an RDD scan.
    */
  def jaccardPairs(docs: DataFrame, n: Int = 3, dfCap: Int = 100,
      tau: Double = 0.05): DataFrame = {
    // eager one-job materialization, not .cache(): the shingle stream
    // feeds several independent exchanges (sizes, stop, the rare join)
    // that AQE submits concurrently, and a lazy cache does not dedupe
    // concurrent first computation (the dedup_minhash_est JobProfile
    // finding, applied family-wide)
    val ss = shingles(docs, n).localCheckpoint(true)
    val sizes = ss.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    // Stop-shingle removal as groupBy-df → broadcast anti-join, NOT a
    // count-over-window: the window form sorts and shuffles every
    // (doc, shingle) row to find what is by construction a tiny
    // stop-shingle list; the groupBy is map-side combined (the shuffle
    // carries one partial count per distinct shingle per partition) and
    // the anti-join against the broadcast stop list never re-shuffles
    // the shingle stream at all.
    val stop = ss.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select(col("sh"))
    val rare = ss.join(broadcast(stop), Seq("sh"), "left_anti")
    val a = rare.select(col("doc_id").as("doc_a"), col("sh"))
    val b = rare.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = a.join(b, Seq("sh")).where(col("doc_a") < col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    val sa = sizes.select(col("doc_id").as("doc_a"), col("nsh").as("na"))
    val sb = sizes.select(col("doc_id").as("doc_b"), col("nsh").as("nb"))
    // materialize the (tiny) pair set eagerly; the shingle checkpoint is
    // reclaimed by the ContextCleaner once the result drops the reference
    inter.join(sa, "doc_a").join(sb, "doc_b")
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= tau)
      .localCheckpoint(true)
  }

  /** PPJoin-style prefix-filtered Jaccard pairs — the high-threshold
    * complement to [[jaccardPairs]]'s df-cap. The df-cap DROPS hot
    * shingles, which redefines the score as rare-set Jaccard; prefix
    * filtering keeps the EXACT full-set score: order each doc's
    * shingles by ascending global document frequency (rarest first)
    * and index only the first n − ⌈τ·n⌉ + 1 of them. Any pair with
    * full-set Jaccard ≥ τ must overlap by ≥ ⌈τ·max(n_a, n_b)⌉
    * shingles, and by the SSJoin/PPJoin prefix lemma two sets with
    * disjoint rarity-ordered prefixes of that length cannot reach the
    * overlap — candidate generation is lossless for the exact score
    * (PipelineSpec pins prefix == naive all-pairs in Spark), while hot
    * shingles sort to the END of every doc's order and never enter
    * the index.
    *
    * τ = tauNum/tauDen stays RATIONAL: prefix length, size filter, and
    * the final threshold are all integer cross-multiplications, so
    * both engines agree on boundary pairs with no float anywhere.
    *
    * Scale shape: index = Σ(1−τ)·n_d rows; the candidate join cost per
    * prefix shingle is its prefix-df², bounded by the number of docs
    * for which that shingle ranks in their rarest (1−τ) fraction —
    * exactly the docs it discriminates. The verify join touches only
    * candidate pairs (Σ_cand n rows), never the corpus cross product.
    */
  def jaccardPrefixPairs(docs: DataFrame, n: Int = 8, tauNum: Int = 7,
      tauDen: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // EXACT-DEDUP FIRST — the pipeline-order invariant that makes
    // prefix filtering viable at scale: identical texts collapse to
    // their min-doc_id representative (the [[exact]] keeper rule)
    // before any near-dup work. Without it, a corpus with c-fold
    // duplication gives every prefix shingle prefix-df ≈ c and the
    // candidate join grows as c² — measured 2.69e9 candidate rows at
    // the derived 10x volume, vs sampled-scale cost after the
    // collapse. Pair semantics are over distinct texts; expanding to
    // raw doc pairs is one join against the exact-dup groups.
    val uniq = docs.select(lower(col("text")).as("t"), col("doc_id"))
      .groupBy(col("t")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"), col("t").as("text"))
    // WORD shingles, not char n-grams: prefix filtering needs a
    // long-tailed shingle vocabulary (wordShingles scaladoc — char-8
    // degenerates to 2.69e9 candidates on this corpus at volume)
    // eager one-job materialization, not .cache(): ss feeds four
    // independent exchanges (sizes, dfreq, the pref join, arrs) that AQE
    // submits concurrently — a lazy cache let the exact-dedup groupBy +
    // shingle explode run 3–4× in overlapping stage jobs (JobProfile:
    // warm sum(job wall) 16.9 s vs 5.5 s total at sf0.1)
    val ss = wordShingles(uniq, n).localCheckpoint(true)
    val sizes = ss.groupBy(col("doc_id")).agg(count(lit(1)).as("nsh"))
    val dfreq = ss.groupBy(col("sh")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("sh"))
    val pref = ss.join(dfreq, "sh")
      .withColumn("rk", row_number().over(w))
      .join(sizes, "doc_id")
      .where(col("rk") <=
        col("nsh") - expr(s"($tauNum * nsh + ${tauDen - 1}) DIV $tauDen") + lit(1))
      .select(col("doc_id"), col("sh"), col("nsh"))
    val cand = pref.select(col("doc_id").as("doc_a"), col("sh"),
        col("nsh").as("na"))
      .join(pref.select(col("doc_id").as("doc_b"), col("sh"),
        col("nsh").as("nb")), Seq("sh"))
      .where(col("doc_a") < col("doc_b") &&
        lit(tauDen) * col("nb") >= lit(tauNum) * col("na") &&
        lit(tauDen) * col("na") >= lit(tauNum) * col("nb"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"))
      .distinct()
    // verify via per-doc collected sets + array_intersect: the
    // candidate count is inherently quadratic in duplication factor
    // (it approaches the OUTPUT size at high τ), so the verify must
    // be O(|cand|·n) work with |cand|-row shuffles — the exploded
    // (cand ⋈ shingles ⋈ shingles) form shuffled Σ_cand n rows
    // (~725M at the derived volume) and did not finish; this form
    // moves each doc's set once per candidate side
    val arrs = ss.groupBy(col("doc_id"))
      .agg(collect_list(col("sh")).as("arr"))
    val inter = cand
      .join(arrs.select(col("doc_id").as("doc_a"), col("arr").as("arr_a")),
        Seq("doc_a"))
      .join(arrs.select(col("doc_id").as("doc_b"), col("arr").as("arr_b")),
        Seq("doc_b"))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        size(array_intersect(col("arr_a"), col("arr_b"))).cast("long")
          .as("inter"))
    inter
      .where(lit(tauDen) * col("inter") >=
        lit(tauNum) * (col("na") + col("nb") - col("inter")))
      .withColumn("jac",
        col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .select(col("doc_a"), col("doc_b"), col("na"), col("nb"),
        col("inter"), col("jac"))
      .localCheckpoint(true)
  }

  /** Asymmetric shingle CONTAINMENT — the doc-in-doc / quote-detection
    * pass Jaccard cannot express: C(A→B) = |A∩B| / |A| is high when a
    * small doc is swallowed by a large one even though their Jaccard is
    * tiny (the size-skewed case MinHash-LSH is blind to by design, since
    * minhash collision probability estimates Jaccard, not containment).
    * Same inverted-index candidate shape as [[jaccardPairs]] — df-capped
    * rare shingles, so shuffle volume is Σ df² over rare shingles only —
    * but DIRECTED: each candidate pair is scored both ways and emitted
    * where the containment of the smaller side clears `tau`. Containment
    * is computed over the rare-shingle sets (declared semantics, same as
    * the Jaccard query's rare-set Jaccard).
    */
  def containmentPairs(docs: DataFrame, n: Int = 5, dfCap: Int = 50,
      tau: Double = 0.4): DataFrame = {
    // eager one-job materialization, not .cache() — the jaccardPairs/
    // dedup_minhash_est concurrent-first-computation finding
    val ss = shingles(docs, n).localCheckpoint(true)
    val stop = ss.groupBy(col("sh")).agg(count(lit(1)).as("df"))
      .where(col("df") > dfCap).select(col("sh"))
    val rare = ss.join(broadcast(stop), Seq("sh"), "left_anti")
    val rsz = rare.groupBy(col("doc_id")).agg(count(lit(1)).as("nr"))
    val a = rare.select(col("doc_id").as("doc_a"), col("sh"))
    val b = rare.select(col("doc_id").as("doc_b"), col("sh"))
    val inter = a.join(b, Seq("sh")).where(col("doc_a") =!= col("doc_b"))
      .groupBy(col("doc_a"), col("doc_b")).agg(count(lit(1)).as("inter"))
    inter
      .join(rsz.select(col("doc_id").as("doc_a"), col("nr").as("na")), "doc_a")
      .withColumn("cont", col("inter").cast("double") / col("na"))
      .where(col("cont") >= tau)
      .localCheckpoint(true)
  }

  /** Universal-hash modulus (Mersenne prime 2^31−1) and per-function
    * (a, b) coefficients, seeded — shared with the oracle SQL.
    */
  val MinhashP: Long = 2147483647L

  def minhashCoeffs(nHash: Int, seed: Long = 101L): Seq[(Long, Long)] = {
    val rnd = new java.util.Random(seed)
    Seq.fill(nHash)((1L + math.abs(rnd.nextLong()) % (MinhashP - 1),
      math.abs(rnd.nextLong()) % MinhashP))
  }

  /** Base 60-bit shingle hash: first 15 hex digits of md5, as BIGINT,
    * reduced mod P. ONE md5 per shingle; the nHash signature functions
    * are cheap `(a·h + b) mod P` variants of it (a·h < 2^62, no
    * overflow). 12× fewer md5 calls than hashing per-function — this is
    * what makes the signature pass scan-bound at corpus scale.
    */
  def shingleBaseHash(sh: Column): Column =
    conv(substring(md5(sh), 1, 15), 16, 10).cast("long") % lit(MinhashP)

  /** MinHash signature columns h0..h{n-1}: per doc, min over shingles of
    * the i-th universal hash. Pure integer arithmetic — identical in any
    * engine.
    */
  def minhashSignature(ss: DataFrame, nHash: Int): DataFrame = {
    val hm = ss.withColumn("hm", shingleBaseHash(col("sh")))
    val aggs = minhashCoeffs(nHash).zipWithIndex.map { case ((a, b), i) =>
      min((lit(a) * col("hm") + lit(b)) % lit(MinhashP)).as(s"h$i")
    }
    hm.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  /** Per-doc shingle-hash ARRAY — the narrow form: shingles never leave
    * the row (no string explode, no shuffle).
    */
  def shingleHashArray(docs: DataFrame, n: Int): DataFrame =
    spread(docs.select(col("doc_id"), lower(col("text")).as("t"))
        .where(length(col("t")) >= n))
      .select(col("doc_id"), transform(
        sequence(lit(1), length(col("t")) - (n - 1)),
        i => shingleBaseHash(col("t").substr(i, lit(n)))).as("hs"))

  /** Narrow MinHash signature: `array_min(transform(hs, h → (a·h+b) mod
    * P))` per hash function — the whole signature pass is ONE map stage
    * with zero shuffle (vs explode + 12-aggregate groupBy in
    * [[minhashSignature]]; same values, min over the same multiset).
    * This is the form that scales: signature cost is pure scan
    * bandwidth, and the only shuffled data in the whole LSH pipeline is
    * the 6-band keys.
    */
  def minhashSignatureNarrow(docs: DataFrame, n: Int, nHash: Int): DataFrame = {
    val hs = shingleHashArray(docs, n)
    val sigs = minhashCoeffs(nHash).zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("hs"),
        h => (lit(a) * h + lit(b)) % lit(MinhashP))).as(s"h$i")
    }
    hs.select(col("doc_id") +: sigs: _*)
  }

  /** Fastest signature path: the native one-pass kernel
    * (graft.functions.MinhashKernel — no hex round trip, no intermediate
    * hash array; identical values to [[minhashSignatureNarrow]], proven
    * in KernelSpec).
    */
  def minhashSignatureFast(docs: DataFrame, n: Int, nHash: Int): DataFrame = {
    val coeffs = minhashCoeffs(nHash)
    spread(docs.select(col("doc_id"), lower(col("text")).as("t"))
        .where(length(col("t")) >= n))
      .select(col("doc_id"),
        graft.functions.MinhashKernel.minhashFast(col("t"), n, coeffs).as("sig"))
      .select(col("doc_id") +:
        (0 until nHash).map(i => element_at(col("sig"), i + 1).as(s"h$i")): _*)
  }

  /** LSH-banded near-dup pairs with exact-Jaccard verification.
    * bands of `rowsPerBand` signature rows each; same-bucket pairs are
    * candidates. The candidate set is tiny, so the verify join touches a
    * negligible fraction of the corpus — this is the 100-TB dedup path.
    */
  def minhashPairs(
      docs: DataFrame, n: Int = 8, nHash: Int = 12, rowsPerBand: Int = 2,
      tau: Double = 0.5): DataFrame = {
    val nBands = nHash / rowsPerBand
    // eager one-job materialization, not .cache(): each of these frames
    // feeds 2–3 independent exchanges that AQE submits concurrently, and
    // a lazy cache does not dedupe concurrent first computation (the
    // dedup_minhash_est JobProfile finding, applied family-wide)
    // native one-pass signature kernel (shuffle-free; see
    // minhashSignatureFast/MinhashKernel). Materialized: the band
    // self-join consumes it twice; one row per doc, so it is small at
    // any corpus size.
    val mh = minhashSignatureFast(docs, n, nHash).localCheckpoint(true)
    // band key = the raw signature rows (numeric join keys — no extra
    // hashing needed)
    val keyNames = (0 until rowsPerBand).map(r => s"k$r")
    val bandCols = (0 until nBands).map { bi =>
      struct(lit(bi).as("band") +:
        (0 until rowsPerBand).map(r =>
          col(s"h${bi * rowsPerBand + r}").as(s"k$r")): _*)
    }
    val bands = mh.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id") +: col("b.band").as("band") +:
        keyNames.map(k => col(s"b.$k").as(k)): _*)
    // Candidate pairs via bucket self-join. (A groupBy-collect_list +
    // in-bucket pair expansion was tried — one band shuffle instead of
    // two — but it materializes a hot bucket's ENTIRE n²/2 pair array in
    // a single aggregation row before exploding, where the join streams
    // its output; the join's worst case degrades gracefully, the
    // collect's OOMs. Measured difference at sf0.1 was noise, so the
    // streaming shape wins.)
    // cache: cand is consumed three times (candDocs ×2, inter join) and
    // is tiny — without it the whole signature pipeline re-executes per
    // consumer
    val cand = bands.as("x").join(bands.as("y"), "band" +: keyNames)
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
      .localCheckpoint(true)
    // exact shingle SETS are materialized ONLY for candidate docs — at
    // corpus scale candidates are a sliver, so the expensive verify never
    // touches the non-candidate bulk. (The oracle computes sizes for
    // every doc but uses them only for candidates, so outputs are
    // identical.) Two shape decisions, both from profiling at sf0.1:
    //  - the candidate filter joins DOCUMENTS (one row per doc) BEFORE
    //    the shingle explode — filtering after would re-explode the full
    //    corpus a second time, costing more than the signature pass;
    //  - each doc's shingle set is packed into ONE array row
    //    (collect_set) and intersections are per-pair array_intersect —
    //    the exploded-row formulation shuffled |cand|·|set| rows
    //    (58M at sf0.1) through a join; this form moves |candDocs| array
    //    rows and computes each intersection in a codegen'd hash probe.
    // Jaccard is computed over 60-bit shingle HASHES, not strings: the
    // hash is deterministic md5-derived on both engines, so collisions
    // (if any) are identical and outputs still match — and long-array
    // intersection beats string-set intersection by the cost of string
    // hashing. array_distinct keeps even the set-building narrow.
    val candDocs = cand.select(col("doc_a").as("doc_id"))
      .union(cand.select(col("doc_b").as("doc_id"))).distinct()
    // sets are SORTED once per doc so the per-pair intersection is a
    // native sorted-merge count (graft_sorted_intersect_count) — no
    // per-pair hash relation, no materialized intersection array
    val sets = shingleHashArray(docs.join(broadcast(candDocs), "doc_id"), n)
      .select(col("doc_id"), array_sort(array_distinct(col("hs"))).as("shs"))
      .withColumn("nsh", size(col("shs")).cast("long"))
      .localCheckpoint(true) // consumed by both join sides
    // eagerly materialize the verified pairs (tiny); the intermediate
    // checkpoints are reclaimed by the ContextCleaner once the result
    // drops the references — see jaccardPairs note
    cand
      .join(sets.select(col("doc_id").as("doc_a"), col("shs").as("sha"),
        col("nsh").as("na")), "doc_a")
      .join(sets.select(col("doc_id").as("doc_b"), col("shs").as("shb"),
        col("nsh").as("nb")), "doc_b")
      .withColumn("inter",
        graft.functions.ArrayKernels.sortedIntersectCount(col("sha"), col("shb")))
      .withColumn("jac", col("inter").cast("double") / (col("na") + col("nb") - col("inter")))
      .where(col("jac") >= tau)
      .select(col("doc_a"), col("doc_b"), col("inter"), col("na"), col("nb"), col("jac"))
      .localCheckpoint(true)
  }

  /** Signature-only Jaccard ESTIMATE over the LSH candidates: matching
    * minhash components / nHash. This is the verify-FREE production
    * path — [[minhashPairs]] re-touches the candidate docs' shingle
    * sets to compute exact Jaccard, which at 100 TB is a second pass
    * over the near-dup sliver; at crawl scale you dedup on the
    * estimator (unbiased, σ = √(j(1−j)/nHash)) and sample-audit the
    * threshold instead. Everything here is integer arithmetic over the
    * signatures already in hand — no shingle materialization at all —
    * and the banding/candidate shape is identical to [[minhashPairs]]
    * (same keys, same streaming self-join; see the shape notes there).
    */
  def minhashEstimatePairs(docs: DataFrame, n: Int = 8, nHash: Int = 12,
      rowsPerBand: Int = 2, minMatches: Int = 6): DataFrame = {
    val nBands = nHash / rowsPerBand
    // EAGER one-job materialization, not .cache(): the signature table
    // feeds three independent exchanges (bands, sigA, sigB) that AQE
    // submits CONCURRENTLY, and a lazy cache does not dedupe concurrent
    // first computation — JobProfile measured the signature pass running
    // 3× in overlapping stage jobs (sum of job wall 5.8 s vs 4.6 s total
    // at sf0.1 warm). One row per doc, same bytes the cache held.
    val mh = minhashSignatureFast(docs, n, nHash).localCheckpoint(true)
    val keyNames = (0 until rowsPerBand).map(r => s"k$r")
    val bandCols = (0 until nBands).map { bi =>
      struct(lit(bi).as("band") +:
        (0 until rowsPerBand).map(r =>
          col(s"h${bi * rowsPerBand + r}").as(s"k$r")): _*)
    }
    val bands = mh.select(col("doc_id"), explode(array(bandCols: _*)).as("b"))
      .select(col("doc_id") +: col("b.band").as("band") +:
        keyNames.map(k => col(s"b.$k").as(k)): _*)
    val cand = bands.as("x").join(bands.as("y"), "band" +: keyNames)
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"))
      .distinct()
    val sigA = mh.select(col("doc_id").as("doc_a") +:
      (0 until nHash).map(i => col(s"h$i").as(s"a$i")): _*)
    val sigB = mh.select(col("doc_id").as("doc_b") +:
      (0 until nHash).map(i => col(s"h$i").as(s"b$i")): _*)
    val matchCount = (0 until nHash)
      .map(i => when(col(s"a$i") === col(s"b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    // mh is a localCheckpoint (no unpersist handle); the ContextCleaner
    // reclaims it once the result drops the reference
    cand.join(sigA, "doc_a").join(sigB, "doc_b")
      .withColumn("matches", matchCount)
      .where(col("matches") >= minMatches)
      .select(col("doc_a"), col("doc_b"), col("matches"),
        (col("matches").cast("double") / lit(nHash.toDouble)).as("est"))
      .localCheckpoint(true)
  }

  /** 64-bit SimHash per doc over distinct whitespace tokens.
    *
    * Bit b of a token's hash = bit of the hex digit at md5 position
    * 1+b/4 (the first 16 of md5's 32 hex digits), extracted with
    * instr/floor/% integer arithmetic (identical on both engines);
    * fingerprint bit b = sign of the per-doc sum of (2·bit−1).
    *
    * 64 bits, not 32: with 32-bit fingerprints over 8-bit LSH blocks the
    * candidate buckets hold ≤256 distinct keys, and on a low-entropy
    * corpus same-bucket candidates go quadratic (15k pairs on 5k docs
    * measured at sf0.1). 16-bit blocks over a 64-bit fingerprint give
    * 65536 keys per block and an order of magnitude fewer candidates,
    * while the pigeonhole completeness argument (4 blocks, Ham ≤ 3) is
    * unchanged.
    */
  def simhash(docs: DataFrame): DataFrame =
    spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        graft.functions.SimhashKernel.simhashFast(lower(col("text"))).as("fp"))
      .where(col("fp").isNotNull)

  /** Expression-form twin of [[simhash]] — token explode + 64-sum
    * aggregate whose SQL text is shared with the oracle verbatim. Kept
    * as the cross-check anchor (KernelSpec pins kernel ≡ expression);
    * the kernel is the default because this form shuffles every
    * (doc, token) row where the kernel shuffles nothing.
    */
  def simhashExpr(docs: DataFrame): DataFrame = {
    val toks = spread(docs.select(col("doc_id"), col("text")))
      .select(col("doc_id"),
        explode(split(lower(col("text")), "\\s+")).as("tok"))
      .where(col("tok") =!= "").distinct()
      .withColumn("h", md5(col("tok")))
    val sums = toks.groupBy(col("doc_id")).agg(
      simhashBitSums.head, simhashBitSums.tail: _*)
    sums.select(col("doc_id"), expr(simhashFpSql).as("fp"))
  }

  /** Fingerprint width in bits (4 LSH blocks of FpBits/4 each). */
  val SimhashBits = 64

  /** SUM(±1) aggregate expressions s0..s63 (shared SQL text with the
    * oracle — see DedupQueries).
    */
  private def simhashBitSums: Seq[Column] =
    (0 until SimhashBits).map(b => expr(s"sum(${simhashContribSql(b, "h")})").as(s"s$b"))

  /** SQL text for one token's ±1 contribution on bit b. */
  def simhashContribSql(b: Int, h: String): String = {
    val pos = 1 + b / 4
    val p = 1 << (3 - b % 4)
    s"(2 * (CAST(floor((instr('0123456789abcdef', substr($h, $pos, 1)) - 1) / $p.0) AS INT) % 2) - 1)"
  }

  /** SQL text folding s0..s63 into the BIGINT fingerprint. Bit 63's
    * weight is Long.MinValue, which neither engine can parse as a
    * literal (DuckDB promotes 9223372036854775808 to HUGEINT, and a
    * left shift 1<<63 is an overflow error there) — so it is written as
    * MaxValue − 1 + (−1)... i.e. `CAST(-9223372036854775807 AS BIGINT)
    * - 1`, which both engines evaluate to the exact min BIGINT. The
    * addition chain never overflows: bits 0..62 prefix-sum to at most
    * 2^63−1 and the (negative) bit-63 term is added last.
    */
  def simhashFpSql: String =
    (0 until SimhashBits).map {
      case 63 => "(CASE WHEN s63 > 0 THEN (CAST(-9223372036854775807 AS BIGINT) - 1) ELSE CAST(0 AS BIGINT) END)"
      case b => s"(CASE WHEN s$b > 0 THEN CAST(${1L << b} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }.mkString("(", " + ", ")")

  /** SimHash near-dup pairs at Hamming distance ≤ `maxHam` via block
    * LSH: the 64-bit fingerprint splits into 4 16-bit blocks; any pair
    * within Hamming 3 must agree EXACTLY on at least one block
    * (pigeonhole over 4 blocks), so same-(block, key) candidates + a
    * bit_count(xor) verify is complete for maxHam ≤ 3 — never a corpus²
    * comparison. (`>>` on the negative high-bit fingerprint
    * sign-extends identically on both engines; the & 65535 mask makes
    * the block key non-negative.)
    */
  def simhashPairs(docs: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3, "4-block LSH is only complete for maxHam <= 3")
    val fp = simhash(docs).cache()
    val res = hammingBlockPairs(fp, maxHam).localCheckpoint(true)
    fp.unpersist(blocking = true)
    res
  }

  /** Generic 4×16-bit Hamming-block LSH over any (doc_id, fp BIGINT)
    * fingerprint table — the banded candidate join + bit_count verify
    * extracted from [[simhashPairs]] so OTHER fingerprint families
    * (perceptual image hashes — see
    * [[graft.operators.Multimodal.phashPairs]]) reuse the identical
    * pigeonhole machinery. Returns (doc_a, doc_b, ham), doc_a < doc_b.
    */
  def hammingBlockPairs(fp: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3, "4-block LSH is only complete for maxHam <= 3")
    val blocks = fp.select(col("doc_id"), col("fp"),
      explode(array((0 to 3).map(b =>
        struct(lit(b).as("b"), expr(s"(fp >> ${16 * b}) & 65535").as("k"))): _*)).as("blk"))
      .select(col("doc_id"), col("fp"), col("blk.b").as("b"), col("blk.k").as("k"))
    val cand = blocks.as("x").join(blocks.as("y"), Seq("b", "k"))
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("doc_a"), col("x.fp").as("fp_a"),
        col("y.doc_id").as("doc_b"), col("y.fp").as("fp_b"))
      .distinct()
    cand
      .withColumn("ham", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))).cast("int"))
      .where(col("ham") <= maxHam)
      .select(col("doc_a"), col("doc_b"), col("ham"))
  }

  /** Explode a (doc_id, fp BIGINT) fingerprint table into its 4
    * pigeonhole LSH block keys as ONE combined `bk = b·2^16 + block16`
    * BIGINT column — the persistable/bucketable form of the banded
    * index [[hammingBlockPairs]] builds in-flight. A signature STORE
    * written bucketed on `bk` (see StagedLayouts.simhashStore) is what
    * turns whole-corpus dedup into incremental ingest: each new batch
    * probes the store by `bk` instead of re-fingerprinting the corpus.
    */
  def fpBlockKeys(fp: DataFrame): DataFrame =
    fp.select(col("doc_id"), col("fp"),
      explode(array((0 to 3).map(b =>
        expr(s"CAST($b AS BIGINT) * 65536 + ((fp >> ${16 * b}) & 65535)")): _*))
        .as("bk"))

  /** Incremental corpus-ingest dedup — the daily-batch shape of a
    * production pipeline: fingerprint ONLY the new batch, probe the
    * persisted signature store (all previously-ingested docs' simhash
    * block keys, `storeBlocks` = (bk, doc_id, fp)) for Hamming-≤maxHam
    * near-dups, and pair within the batch itself; a batch doc is kept
    * iff NO prior doc (store or smaller-id batch doc) is a near-dup.
    *
    * Semantics are ORDER-FREE by design: the drop predicate is "∃ ANY
    * earlier-ingested near-dup", not "∃ earlier KEPT near-dup", and the
    * store appends every ingested doc's signature (kept and dropped —
    * 16 bytes/doc). That makes ingestion associative: splitting a batch
    * into sub-batches with store appends between them lands on the
    * byte-identical decision table (IncrementalSpec pins it), and the
    * whole result equals the whole-corpus recompute — which is exactly
    * what the DuckDB oracle re-derives from scratch. Transitive dup
    * chains collapse to the earliest representative, the same
    * first-occurrence retention as the whole-corpus queries.
    *
    * 100-TB shape: the store is a bucketed-by-`bk` table that is never
    * rewritten, only appended; the batch side (≪ store by definition)
    * is BROADCAST against it, so the probe streams the store scan with
    * NO shuffle and no state beyond the batch's 4·|batch| block keys.
    * Only verified candidates (a distinct + one bit_count per pair)
    * ever shuffle. Text never travels — fingerprints only.
    *
    * Returns one row per fingerprinted batch doc:
    * (doc_id, kept, n_prior_dups, nearest_prior, min_ham).
    */
  def incrementalDedup(storeBlocks: DataFrame, batch: DataFrame,
                       maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3, "4-block LSH is only complete for maxHam <= 3")
    val bfp = simhash(batch).localCheckpoint(true)
    val bblk = fpBlockKeys(bfp)
      .select(col("bk"), col("doc_id").as("b_doc"), col("fp").as("b_fp"))
    // store probe: broadcast the small batch index; p_doc < b_doc is
    // the ingest-order contract (defensive — a store that already holds
    // the batch must not self-match)
    val probe = storeBlocks
      .select(col("bk"), col("doc_id").as("p_doc"), col("fp").as("p_fp"))
      .join(broadcast(bblk), Seq("bk"))
      .where(col("p_doc") < col("b_doc"))
      .select(col("b_doc"), col("b_fp"), col("p_doc"), col("p_fp"))
      .distinct()
      .withColumn("ham",
        bit_count(col("b_fp").bitwiseXOR(col("p_fp"))).cast("int"))
      .where(col("ham") <= maxHam)
      .select(col("b_doc").as("doc_id"), col("p_doc").as("prior"), col("ham"))
    val inBatch = hammingBlockPairs(bfp, maxHam)
      .select(col("doc_b").as("doc_id"), col("doc_a").as("prior"), col("ham"))
    val agg = probe.unionByName(inBatch)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_prior_dups"),
        min(col("prior")).as("nearest_prior"),
        min(col("ham")).as("min_ham"))
    bfp.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_prior_dups").isNull.as("kept"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        col("nearest_prior"), col("min_ham"))
  }

  /** Incremental near-dup CLUSTER maintenance — the label half of
    * [[incrementalDedup]]: the prefix corpus's cluster state is a pair
    * of persisted artifacts (the bucketed block-key signature store +
    * the CONVERGED prefix labels), and a new batch updates the
    * labeling WITHOUT touching prefix-prefix pairs again. The delta
    * graph is: batch↔store verified pairs with the old endpoint
    * COLLAPSED to its component label (hash-min labels are component
    * min-ids, so a label node stands for its whole component), plus
    * batch↔batch pairs; a converged hash-min CC over that (small)
    * delta graph yields the merge map, and composition re-roots every
    * previously-clustered doc through its old label while
    * newly-clustered docs (batch, or old singletons first touched by
    * the batch) take their delta label directly.
    *
    * Correctness is the union-find composition identity: min-ids are
    * associative under merging, so the composed labeling equals the
    * whole-corpus CONVERGED recompute — which is exactly what the
    * DuckDB oracle re-derives (shared with `dedup_cluster`, which
    * never sees the store/batch split), and batch-split ingestion is
    * associative (IncrementalSpec pins both). At 100 TB the delta
    * graph is O(batch pairs), never O(corpus pairs): cluster
    * maintenance costs the day's ingest, not the corpus.
    *
    * Returns (d, lbl) for EVERY clustered doc corpus-wide (prefix
    * members re-rooted + newly clustered).
    */
  def incrementalCluster(storeBlocks: DataFrame, prefixLabels: DataFrame,
                         batch: DataFrame, maxHam: Int = 3): DataFrame = {
    require(maxHam <= 3, "4-block LSH is only complete for maxHam <= 3")
    val bfp = simhash(batch).localCheckpoint(true)
    val bblk = fpBlockKeys(bfp)
      .select(col("bk"), col("doc_id").as("b_doc"), col("fp").as("b_fp"))
    val probe = storeBlocks
      .select(col("bk"), col("doc_id").as("p_doc"), col("fp").as("p_fp"))
      .join(broadcast(bblk), Seq("bk"))
      .where(col("p_doc") < col("b_doc"))
      .select(col("p_doc"), col("b_doc"), col("p_fp"), col("b_fp"))
      .distinct()
      .where(bit_count(col("p_fp").bitwiseXOR(col("b_fp"))) <= maxHam)
      .select(col("p_doc").as("doc_a"), col("b_doc").as("doc_b"))
    // collapse the old endpoint to its converged component label; old
    // singletons (no label row) stand for themselves
    val lbl = prefixLabels.select(col("d").as("doc_a"), col("lbl"))
    val collapsed = probe.join(lbl, Seq("doc_a"), "left")
      .select(coalesce(col("lbl"), col("doc_a")).as("doc_a"), col("doc_b"))
    val inBatch = hammingBlockPairs(bfp, maxHam)
      .select(col("doc_a"), col("doc_b"))
    val delta = connectedComponentsConverged(
      collapsed.unionByName(inBatch).localCheckpoint(true))
    // previously-clustered docs re-root through their old label …
    val reRooted = prefixLabels.select(col("d"), col("lbl").as("l0"))
      .join(delta.select(col("d").as("l0"), col("lbl").as("root")),
        Seq("l0"), "left")
      .select(col("d"), coalesce(col("root"), col("l0")).as("lbl"))
    // … newly-clustered nodes (batch docs + first-touched old
    // singletons — never previously members) take their delta label
    val fresh = delta.join(prefixLabels.select(col("d")), Seq("d"), "left_anti")
    reRooted.unionByName(fresh)
  }

  /** DELETE maintenance for the cluster state — the inverse operation
    * [[incrementalCluster]] can't express: removing docs can SPLIT a
    * component (the deleted doc may have been the only bridge), so
    * min-label composition is not reversible and the affected
    * components must be RE-SOLVED. The affected set is exactly the
    * components containing a deleted doc; their surviving members'
    * fingerprints are already IN the signature store (every ingested
    * doc's fp, 16 bytes/doc), so the re-solve is: recompute verified
    * pairs among the survivors (the same pigeonhole LSH — a few
    * cluster-sized groups, never the corpus) and run a converged CC
    * over them; members left with no pair drop out of the label table
    * (they are singletons now), and every untouched component keeps
    * its label row verbatim.
    *
    * Cost at 100 TB: O(members of touched clusters), not O(corpus) —
    * near-dup clusters are small by construction (they'd have been
    * collapsed otherwise), so a delete batch costs about as much as
    * an ingest batch. Correctness: converged min-id labels of the
    * affected survivors equal the whole-corpus-minus-deleted
    * recompute's labels for those docs (IncrementalSpec pins the
    * step; the `dedup_cluster_delete` oracle pins delete + re-ingest
    * end to end).
    *
    * Returns the post-delete (d, lbl) label table.
    */
  def deleteFromCluster(storeBlocks: DataFrame, prefixLabels: DataFrame,
      deleted: DataFrame, maxHam: Int = 3): DataFrame = {
    val del = deleted.select(col("doc_id")).distinct().localCheckpoint(true)
    // labels of components that lost a member
    val delLbl = prefixLabels
      .join(del.select(col("doc_id").as("d")), Seq("d"))
      .select(col("lbl")).distinct()
    // all members of those components, minus the deleted docs
    val affected = prefixLabels.join(broadcast(delLbl), Seq("lbl"))
    val survivors = affected
      .join(del.select(col("doc_id").as("d")), Seq("d"), "left_anti")
    // fingerprints straight from the store (no re-hash of text)
    val fps = storeBlocks.select(col("doc_id"), col("fp")).distinct()
      .join(survivors.select(col("d").as("doc_id")), Seq("doc_id"))
      .localCheckpoint(true)
    val relabeled = connectedComponentsConverged(
      hammingBlockPairs(fps, maxHam)
        .select(col("doc_a"), col("doc_b")))
    prefixLabels.join(broadcast(delLbl), Seq("lbl"), "left_anti")
      .select(col("d"), col("lbl"))
      .unionByName(relabeled)
  }

  /** MinHash band rows for a signature frame (doc_id, h0..h{n-1}):
    * (band, k0..k{rowsPerBand-1}, doc_id, h0..h{n-1}) — the signature
    * rides on every band row so a probe can verify (count matching
    * components) straight out of the band join, no signature re-join.
    * This is the persistable form of the banded index
    * ([[minhashPairs]] builds it in-flight); written bucketed on the
    * band key it is the MinHash signature STORE for incremental ingest.
    */
  def minhashBandRows(mh: DataFrame, nHash: Int, rowsPerBand: Int): DataFrame = {
    val nBands = nHash / rowsPerBand
    val keyNames = (0 until rowsPerBand).map(r => s"k$r")
    val bandCols = (0 until nBands).map { bi =>
      struct(lit(bi).as("band") +:
        (0 until rowsPerBand).map(r =>
          col(s"h${bi * rowsPerBand + r}").as(s"k$r")): _*)
    }
    mh.select(col("doc_id") +: explode(array(bandCols: _*)).as("b") +:
        (0 until nHash).map(i => col(s"h$i")): _*)
      .select(col("b.band").as("band") +: keyNames.map(k => col(s"b.$k").as(k)) ++:
        col("doc_id") +: (0 until nHash).map(i => col(s"h$i")): _*)
  }

  /** [[incrementalDedup]]'s MinHash twin — the banded-Jaccard failure
    * mode the simhash store can't catch (shingle-set similarity vs
    * token-frequency profile). The persisted store is
    * [[minhashBandRows]] over the already-ingested corpus, bucketed on
    * the band key; a new batch signatures ONLY itself, broadcasts its
    * band rows against the exchange-free store scan, verifies by
    * counting matching signature components IN the join output
    * (signatures ride the band rows — no re-join), and pairs within
    * itself the same way. Same order-free semantics and batch-split
    * associativity as the simhash form (IncrementalSpec pins both).
    *
    * Returns (doc_id, kept, n_prior_dups, nearest_prior, best_matches)
    * per signatured batch doc; a doc is kept iff no prior doc shares a
    * band AND agrees on ≥ `minMatches` of the `nHash` components.
    */
  def incrementalMinhash(storeBands: DataFrame, batch: DataFrame,
      n: Int = 8, nHash: Int = 12, rowsPerBand: Int = 2,
      minMatches: Int = 6): DataFrame = {
    val mh = minhashSignatureFast(batch, n, nHash).localCheckpoint(true)
    val keyNames = (0 until rowsPerBand).map(r => s"k$r")
    val bandKey = "band" +: keyNames
    val bb = minhashBandRows(mh, nHash, rowsPerBand)
    def matches(a: String, b: String): Column = (0 until nHash)
      .map(i => when(col(s"$a$i") === col(s"$b$i"), 1L).otherwise(0L))
      .reduce(_ + _)
    val probe = storeBands
      .select(bandKey.map(col) ++: col("doc_id").as("p_doc") +:
        (0 until nHash).map(i => col(s"h$i").as(s"p$i")): _*)
      .join(broadcast(bb.select(bandKey.map(col) ++:
          col("doc_id").as("b_doc") +:
          (0 until nHash).map(i => col(s"h$i").as(s"b$i")): _*)),
        bandKey)
      .where(col("p_doc") < col("b_doc"))
      .select(col("b_doc").as("doc_id"), col("p_doc").as("prior"),
        matches("b", "p").as("matches"))
      .distinct()
    val inBatch = bb.as("x").join(bb.as("y"), bandKey)
      .where(col("x.doc_id") < col("y.doc_id"))
      .select(col("y.doc_id").as("doc_id"), col("x.doc_id").as("prior"),
        (0 until nHash)
          .map(i => when(col(s"x.h$i") === col(s"y.h$i"), 1L).otherwise(0L))
          .reduce(_ + _).as("matches"))
      .distinct()
    val agg = probe.unionByName(inBatch)
      .where(col("matches") >= minMatches)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_prior_dups"),
        min(col("prior")).as("nearest_prior"),
        max(col("matches")).as("best_matches"))
    mh.select(col("doc_id")).join(agg, Seq("doc_id"), "left")
      .select(col("doc_id"),
        col("n_prior_dups").isNull.as("kept"),
        coalesce(col("n_prior_dups"), lit(0L)).as("n_prior_dups"),
        col("nearest_prior"), col("best_matches"))
  }

  /** Benchmark-contamination check — the decontamination pass every
    * pretraining pipeline runs: for each corpus doc, the fraction of its
    * distinct 8-char shingle hashes that appear in the benchmark set
    * (here: docs with id < benchIds stand in for the held-out eval
    * suite). Scale shape: the benchmark shingle set is SMALL by
    * definition (the held-out eval suite, not the corpus), so it is
    * reduced to ONE sorted long array and broadcast; the corpus side is
    * then a single narrow map — sorted-merge intersect per doc via the
    * codegen'd [[graft.functions.SortedIntersectCount]] kernel. Zero
    * corpus-side explode, zero shuffle beyond the source scan (the
    * earlier explode→join→groupBy form re-shuffled one row per corpus
    * shingle — ~50× the doc count — and recomputed the shingle pass for
    * the bench branch; this form computes shingles once, cached across
    * the two branches). A bench set beyond single-array broadcast budget
    * would stage as a sorted broadcast TABLE instead — same merge, same
    * semantics. Returns (doc_id, nsh, inter) for contaminated docs only
    * (inter > 0); ratio computation is left to the caller so rounding
    * stays at the query layer.
    */
  def contamination(docs: DataFrame, benchIds: Long, n: Int = 8): DataFrame = {
    import graft.functions.ArrayKernels
    val sets = shingleHashArray(docs, n)
      .select(col("doc_id"), array_distinct(col("hs")).as("shs"))
      .cache()
    val benchArr = sets.where(col("doc_id") < benchIds)
      .agg(sort_array(array_distinct(flatten(collect_list(col("shs")))))
        .as("bench"))
    val out = sets.where(col("doc_id") >= benchIds)
      .crossJoin(broadcast(benchArr))
      .select(col("doc_id"), size(col("shs")).cast("long").as("nsh"),
        ArrayKernels.sortedIntersectCount(sort_array(col("shs")), col("bench"))
          .as("inter"))
      .where(col("inter") > 0)
    val res = out.localCheckpoint(true)
    sets.unpersist(blocking = true)
    res
  }

  /** Bloom-filter decontamination — the constant-memory variant of
    * [[contamination]]. The broadcast there is the bench set's FULL
    * sorted shingle-hash array (linear in the eval suite's distinct
    * shingles — gigabytes once the benchmark battery is itself
    * web-scale); here it is a fixed mBits-bit [[Bloom]] filter, so the
    * per-executor footprint no longer grows with the bench set at all.
    * The trade: reported overlap counts include the filter's false
    * positives — acceptable for a REJECT decision (superset of the true
    * contaminated set, no false negatives), not for overlap ratios.
    *
    * Both engines rebuild the identical deterministic filter, so the
    * flagged set — false positives included — hash-gates exactly
    * (Bloom scaladoc).
    */
  def contaminationBloom(docs: DataFrame, benchIds: Long, n: Int = 8,
      mBits: Int = 4096): DataFrame = {
    // split scans instead of one cached frame (optimization round 19,
    // guide §2.4/§6): the bench branch is a K-doc prefix, so re-running
    // its shingle pass costs nothing while the shared `.cache()` forced
    // a full-corpus array materialization (and an eager checkpoint to
    // unpersist safely) just to serve it — and blocked the doc_id
    // predicates from reaching the parquet scan. Each branch now pushes
    // its own doc_id filter into its own scan (PushedFilters), the
    // probe is one codegen'd pass ([[graft.functions.BloomHitCount]] —
    // the interpreted `filter(shs, mightContain)` HOF never entered
    // whole-stage codegen), and no materialization happens at all.
    def sets(d: DataFrame) = shingleHashArray(d, n)
      .select(col("doc_id"), array_distinct(col("hs")).as("shs"))
    // explode_outer + null-drop, NOT explode: InferFiltersFromGenerate
    // clones the whole interpreted shingle transform into a size>0
    // scan filter (the lmRhoScore rule; measured 4.8 s vs 0.1 s here
    // even on the K-doc bench branch)
    val bits = Bloom.buildBits(
      sets(docs.where(col("doc_id") < benchIds))
        .select(explode_outer(col("shs")).as("hm"))
        .where(col("hm").isNotNull),
      mBits)
    sets(docs.where(col("doc_id") >= benchIds))
      .crossJoin(broadcast(bits))
      .select(col("doc_id"), size(col("shs")).cast("long").as("nsh"),
        graft.functions.BloomKernel.hitCount(col("shs"), col("bits"), mBits)
          .as("n_hits"))
      .where(col("n_hits") > 0)
  }

  /** Connected components over a near-dup pair set via FIXED-iteration
    * hash-min label propagation: every member starts labeled with its
    * own id; each round every node takes the min of its own and its
    * neighbors' labels. `iters` rounds resolve any component of
    * diameter ≤ iters; the iteration count is FIXED (not
    * run-to-convergence) so the result is deterministic and the oracle
    * can replay the identical rounds as unrolled CTEs. Near-dup
    * components are dense (near-cliques from LSH buckets), so small
    * fixed iteration counts are exact in practice.
    *
    * Scale shape: each round is one equi-join on the edge list + one
    * min-aggregate — O(|E|) shuffled per round, the textbook
    * distributed CC. (At extreme diameters large-star/small-star
    * halves round counts; not needed for dedup graphs.) Returns
    * (d, lbl): member doc → component label (= min doc id within
    * iters hops).
    */
  def connectedComponents(pairs: DataFrame, iters: Int): DataFrame = {
    // two-regime driver replay (optimization round 19 — the
    // family-wide precedent, but NOT the union-find gate: this
    // operator's declared result is the ROUND-TRUNCATED labeling, so
    // the replay runs the identical synchronous hash-min rounds and
    // stops at `iters`, under-merging exactly where the distributed
    // form would)
    val d = ccFixedRoundsDriver(pairs, iters)
    if (d.isDefined) return d.get
    val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .cache()
    var labels = e.select(col("u").as("d")).distinct()
      .withColumn("lbl", col("d"))
    for (_ <- 1 to iters) {
      labels = ccRound(e, labels)
    }
    e.unpersist(blocking = true)
    labels
  }

  /** Exact driver replay of `iters` SYNCHRONOUS hash-min rounds over a
    * sub-threshold pair set (the [[DriverRegime]] gate, shared with the
    * converged form). Two-map rounds matter: an
    * in-place sweep would over-propagate within a round and resolve
    * deeper chains than the declared truncation (the Scc.sccDriver
    * lesson).
    */
  private def ccFixedRoundsDriver(pairs: DataFrame,
      iters: Int): Option[DataFrame] = {
    val pairCols = pairs.select(col("doc_a"), col("doc_b"))
    if (!pairCols.schema.fields.forall(_.dataType == LongType)) return None
    val rows = DriverRegime.pull(pairCols).getOrElse(return None)
    val n2 = rows.length * 2
    val eu = new Array[Long](n2); val ev = new Array[Long](n2)
    var i = 0
    while (i < rows.length) {
      eu(2 * i) = rows(i).getLong(0); ev(2 * i) = rows(i).getLong(1)
      eu(2 * i + 1) = rows(i).getLong(1); ev(2 * i + 1) = rows(i).getLong(0)
      i += 1
    }
    var labels = scala.collection.mutable.LongMap.empty[Long]
    i = 0
    while (i < n2) { labels.getOrElseUpdate(eu(i), eu(i)); i += 1 }
    (1 to iters).foreach { _ =>
      val next = labels.clone()
      i = 0
      while (i < n2) {
        val l = labels(ev(i))
        if (l < next(eu(i))) next(eu(i)) = l
        i += 1
      }
      labels = next
    }
    Some(DriverRegime.frame(pairs.sparkSession,
      labels.toSeq.map { case (d0, lbl) => Row(d0, lbl) },
      DriverRegime.schema("d" -> LongType, "lbl" -> LongType)))
  }

  /** One hash-min round: every member takes the min of its own and its
    * neighbors' labels. Eager per-round checkpoint: the label table is
    * tiny (one row per member), but without lineage truncation every
    * round's plan re-nests the previous rounds' joins and PLANNING
    * grows superlinearly (measured 10.3 s for 6 rounds at sf0.1 vs
    * ~3 s flat) — the iterative-algorithm twin of the staged-argmin
    * lesson.
    */
  private def ccRound(e: DataFrame, labels: DataFrame): DataFrame = {
    val viaNbr = e.join(labels, e("v") === labels("d"))
      .select(e("u").as("d"), col("lbl"))
    labels.unionAll(viaNbr)
      .groupBy(col("d")).agg(min(col("lbl")).as("lbl"))
      .localCheckpoint(true)
  }

  /** Run-to-fixpoint variant of [[connectedComponents]]: iterates until
    * a round changes no label, so components of ANY diameter resolve
    * (the fixed-iteration form silently splits a chain of diameter >
    * iters — an invisible under-merge, because the unrolled-CTE oracle
    * replays the same truncated rounds and stays green).
    *
    * Convergence detection is O(members) and driver-cheap: hash-min
    * labels are monotone non-increasing, so the label-sum strictly
    * decreases until fixpoint and two equal consecutive sums ⟺ zero
    * changed labels — one decimal aggregate per round (no join, no
    * second pass over the edges, overflow-proof at any member count).
    * Throws if `maxIters` rounds pass without converging rather than
    * returning a silently under-merged labeling; hash-min needs at most
    * diameter(G) rounds, so `maxIters` bounds the diameter we accept,
    * not the component count. Near-dup graphs are near-cliques
    * (diameter ≤ ~3) — the fixed-6 production form stays the default
    * and this is the audit mode that proves the choice safe.
    */
  def connectedComponentsConverged(pairs: DataFrame, maxIters: Int = 64): DataFrame = {
    // optimization round 19: same two-regime small-graph gate as
    // ConnectedComponents.run — the converged labeling is
    // schedule-free, so a sub-threshold pair set takes one exact
    // driver union-find instead of diameter-many 2-job rounds
    // (dedup_cluster_delete runs this twice per call)
    ConnectedComponents.smallGraphLabels(pairs, "doc_a", "doc_b", "d", "lbl")
      match { case Some(labels) => return labels case None => }
    val e = pairs.select(col("doc_a").as("u"), col("doc_b").as("v"))
      .unionAll(pairs.select(col("doc_b").as("u"), col("doc_a").as("v")))
      .cache()
    var labels = e.select(col("u").as("d")).distinct()
      .withColumn("lbl", col("d"))
      .localCheckpoint(true)
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(sum(col("lbl").cast("decimal(38,0)"))).head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    var round = 0
    while (!converged && round < maxIters) {
      round += 1
      labels = ccRound(e, labels)
      val curSum = labelSum(labels)
      converged = curSum.compareTo(prevSum) == 0
      prevSum = curSum
    }
    e.unpersist(blocking = true)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponentsConverged: no fixpoint after $maxIters rounds — " +
          "component diameter exceeds the bound; raise maxIters")
    labels
  }

  /** Exact substring-span dedup — the C4/RefinedWeb "remove any W-token
    * span seen before" pass, the sub-record granularity the doc-level
    * ladder (exact/near/containment/contamination) cannot reach: on
    * real crawls boilerplate spans survive every doc-level pass.
    * (Reference analogue: S1's full-scan shape applied below record
    * granularity — `/root/reference/mapper.py:60-68` streams whole
    * records; this streams their token windows.)
    *
    * Three narrow/bounded stages, all 100-TB-shaped:
    *  1. window generation: per-doc sliding W-token windows as one
    *     `explode(transform(sequence(...)))` — a narrow map, ≤ one
    *     window per token of corpus;
    *  2. duplicate detection: groupBy on the window's 60-bit md5 hash
    *     (the shuffle carries (doc, start, hash8B) — never text), then
    *     a hash-keyed join back to window positions. Window hashes that
    *     occur at ≥2 (doc, start) positions corpus-wide are "seen
    *     elsewhere" (within-doc repeats count — the C4 rule);
    *  3. span merge: per-doc gaps-and-islands over the duplicated
    *     window starts (fixed width ⇒ ends are monotone in starts, so
    *     a lag-gap island break is exact interval merge). Per-doc
    *     window state is bounded by doc length — partition-safe at any
    *     corpus size.
    *
    * Output: one row per maximal duplicated span —
    * (doc_id, span_start, span_end, n_windows), token offsets 1-based
    * inclusive. All-integer columns, so the oracle gates by hash.
    *
    * `w` is the span width in whitespace tokens: 50 in the C4 paper;
    * the fixture queries use 8 (fixture docs average ~50 tokens).
    */
  /** The sliding W-token window stream (doc_id, start, h) — shared by
    * the substring-dedup family, materialized once (it is always
    * scanned at least twice downstream).
    */
  private def substringWindows(docs: DataFrame, w: Int): DataFrame = {
    val toks = spread(docs.select(col("doc_id"),
        filter(split(lower(col("text")), "\\s+"), t => t =!= "").as("ts")))
      .where(size(col("ts")) >= w)
    toks.select(col("doc_id"),
        explode(transform(sequence(lit(1), size(col("ts")) - (w - 1)),
          i => struct(i.cast("long").as("start"),
            DistinctSketch.hash60(concat_ws(" ", slice(col("ts"), i, lit(w))))
              .as("h")))).as("wn"))
      .select(col("doc_id"), col("wn.start").as("start"), col("wn.h").as("h"))
      .localCheckpoint(true)
  }

  /** Merge a (doc_id, start) window-position stream into maximal
    * per-doc spans: gaps-and-islands — same-width intervals sorted by
    * start have monotone ends, so "gap > w" via lag is exact
    * overlap/adjacency merge (first row's null diff falls to
    * otherwise(1) = new island).
    */
  private def mergeSpans(positions: DataFrame, w: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wd = Window.partitionBy(col("doc_id")).orderBy(col("start"))
    positions
      .withColumn("brk",
        when(col("start") - lag(col("start"), 1).over(wd) <= w, lit(0L))
          .otherwise(lit(1L)))
      .withColumn("g", sum(col("brk")).over(wd))
      .groupBy(col("doc_id"), col("g"))
      .agg(min(col("start")).as("span_start"),
        (max(col("start")) + lit(w - 1L)).as("span_end"),
        count(lit(1)).as("n_windows"))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        col("n_windows"))
  }

  def substringSpans(docs: DataFrame, w: Int): DataFrame = {
    val wins = substringWindows(docs, w)
    val dupHashes = wins.groupBy(col("h"))
      .agg(count(lit(1)).as("c")).where(col("c") > 1).select(col("h"))
    mergeSpans(wins.join(dupHashes, "h").select(col("doc_id"), col("start")), w)
  }

  /** First-occurrence-retention removal stats — the cleaning pass the
    * span table implies: of every duplicated W-token window, the
    * occurrence with the globally smallest (doc_id, start) is KEPT and
    * every other occurrence is removed. Semantics are positional-cover:
    * a token is removed iff some non-first duplicated window covers it
    * (so a kept first occurrence can still lose tokens to an
    * overlapping later window in the same doc — the classic wrinkle of
    * span-removal cleaners, documented rather than hidden).
    *
    * Returns per doc (ALL docs): (doc_id, n_tokens, removed_tokens,
    * kept_tokens). All-integer ⇒ exact hash gate. One extra
    * hash-keyed aggregate vs [[substringSpans]] (the per-hash
    * first-occurrence min(struct)) — same shuffle bounds.
    */
  def substringRemovalStats(docs: DataFrame, w: Int): DataFrame = {
    val wins = substringWindows(docs, w)
    val firsts = wins.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("start"))).as("f"),
        count(lit(1)).as("c"))
      .where(col("c") > 1)
    val removable = wins.join(firsts, "h")
      .where(!(col("doc_id") === col("f.doc_id") &&
        col("start") === col("f.start")))
      .select(col("doc_id"), col("start"))
    val removed = mergeSpans(removable, w)
      .groupBy(col("doc_id"))
      .agg(sum(col("span_end") - col("span_start") + 1).as("rt"))
    val nt = docs.select(col("doc_id"),
      size(filter(split(lower(col("text")), "\\s+"), t => t =!= ""))
        .cast("long").as("n_tokens"))
    nt.join(removed, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("rt"), lit(0L)).as("removed_tokens"),
        (col("n_tokens") - coalesce(col("rt"), lit(0L))).as("kept_tokens"))
  }
}
