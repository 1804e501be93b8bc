package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Unigram-LM (SentencePiece-style) tokenizer TRAINING — the EM
  * alternative to [[BpeTrain]]'s merge loop (Kudo 2018): seed a
  * substring vocabulary, then alternate Viterbi segmentation of the
  * word dict under the current piece probabilities (E-step) with
  * count re-estimation (M-step). Completes the tokenizer family:
  * BPE fits merges bottom-up; this fits a piece LM top-down.
  *
  * Scale shape (the BpeTrain discipline): training runs over the
  * WORD-FREQUENCY DICT, never the corpus — one corpus-wide token
  * count up front, then every round touches |dict| rows. The seed
  * vocabulary is BUDGET-BOUNDED: single chars (the alphabet) plus the
  * top-`vocabCap` multi-char substrings by occurrence count (ties
  * lexicographic — the `text_lm_score` top-1000 discipline), so the
  * model is ≤ |alphabet| + vocabCap rows at ANY corpus size — an
  * absolute-count threshold would admit every common substring at
  * 100 TB and grow with corpus vocabulary instead. The K-row model is
  * carried to the segmenter as one map literal per round (the centroid
  * broadcast discipline, collected under the K-row RPC rule);
  * [[encodeBroadcast]] is the model-as-broadcast-TABLE twin whose plan
  * size is independent of the vocab budget (the `sim_ivf_pq_bt`
  * pattern). The E-step is a pure per-row `aggregate` fold (zero
  * shuffle); the M-step is one narrow explode + map-side-combined
  * groupBy.
  *
  * Cross-engine determinism WITHOUT logs: Viterbi compares products of
  * Laplace-smoothed piece weights w(p) = (c(p)+1)/(T+P), where every
  * weight is ONE exact IEEE double division of exact BIGINTs and the
  * DP multiplies them left-to-right in position order — multiplication
  * and comparison of doubles are exact-rounded IEEE ops, identical in
  * Spark and DuckDB, so no libm (ln/exp) ever runs and a fixed-round
  * fit replays as unrolled SQL CTEs under the exact hash gate. Score
  * ties break to the LARGEST previous boundary (shortest final piece)
  * in both engines: the fold's strict-> chain starts at j = i−1, the
  * SQL twin takes max(j) among max-score candidates. In [[fit]] the
  * vocabulary is FIXED after seeding (hard-EM counts may hit 0;
  * smoothing keeps every weight positive), so prune-vs-keep never
  * depends on floats; [[fitPruned]] adds the vocabulary-PRUNING half
  * of real SentencePiece training as a deterministic integer rank
  * filter per round.
  */
object UnigramLm {

  /** Corpus word-frequency dict, words longer than `maxLen` dropped
    * (bounds the DP depth and the oracle's unroll in both engines).
    */
  def wordDict(docs: DataFrame, maxLen: Int): DataFrame =
    docs.select(explode(
        filter(split(lower(col("text")), "\\s+"), t => t =!= "")).as("word"))
      .where(length(col("word")) <= maxLen)
      .groupBy(col("word")).agg(count(lit(1)).as("freq"))

  /** Seed vocabulary: every single char (they keep every position
    * segmentable) plus the top-`vocabCap` substrings of length
    * 2..`maxPiece` by freq-weighted occurrence count, ties broken
    * lexicographic. The cap — not an absolute occurrence threshold —
    * is what bounds the model at corpus scale: |seed| ≤ |alphabet| +
    * vocabCap whatever the corpus volume (TextOpsSpec pins size == cap
    * under a corpus that would blow an absolute threshold). The top-K
    * is a TakeOrderedAndProject over the piece-count aggregate —
    * distributed, never a full sort.
    */
  def seedPieces(dict: DataFrame, maxPiece: Int, vocabCap: Int): DataFrame = {
    val occ = dict.select(col("freq"), explode(flatten(
        transform(sequence(lit(1), lit(maxPiece)), l =>
          when(length(col("word")) >= l,
            transform(sequence(lit(1), length(col("word")) - l + lit(1)),
              i => col("word").substr(i, l)))
            .otherwise(array().cast("array<string>"))))).as("p"))
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
    occ.where(length(col("p")) === 1).unionAll(
      occ.where(length(col("p")) > 1)
        .orderBy(col("cnt").desc, col("p")).limit(vocabCap))
  }

  /** Viterbi DP over one word as a pure fold: dp[i] = best (score, j)
    * over candidates j = i−1 … i−maxPiece with word[j+1..i] in the
    * model map. Returns the dp array (element i+1 = position i;
    * dp[0] = (1.0, −1)).
    */
  private[graft] def dpArray(word: Column, wmap: Column, maxPiece: Int): Column =
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(1.0).as("score"), lit(-1).as("j"))),
      (acc, i) => {
        val cands = (1 to maxPiece).map { l =>
          val j = i - lit(l)
          val wt = element_at(wmap, word.substr(j + lit(1), lit(l)))
          when(j >= 0 && wt.isNotNull,
            struct((element_at(acc, j + lit(1)).getField("score") * wt)
              .as("score"), j.cast("int").as("j")))
        }
        val best = cands.reduce((a, b) => when(a.isNull, b).otherwise(
          when(b.isNull, a).otherwise(
            when(b.getField("score") > a.getField("score"), b).otherwise(a))))
        concat(acc, array(best))
      })

  /** Backward walk over the dp array: the segmentation as a piece
    * array (leftmost piece first). At most |word| steps; exhausted
    * steps no-op at pos 0.
    */
  private[graft] def segments(word: Column, dp: Column): Column =
    aggregate(
      sequence(lit(1), length(word)),
      struct(length(word).cast("int").as("pos"),
        array().cast("array<string>").as("ps")),
      (st, _) => {
        val pos = st.getField("pos")
        val j = element_at(dp, pos + lit(1)).getField("j")
        when(pos > lit(0),
          struct(j.as("pos"),
            concat(array(word.substr(j + lit(1), pos - j)),
              st.getField("ps")).as("ps")))
          .otherwise(st)
      },
      st => st.getField("ps"))

  /** Laplace weights for a model state as driver pairs:
    * w(p) = (c+1)/(T+P) with T = Σ counts and P = |model| — each weight
    * ONE exact IEEE division of exact longs, shared verbatim by the
    * map-literal and broadcast-table carriers so both are bit-identical.
    */
  private def weights(model: Seq[(String, Long)], p: Int): Seq[(String, Double)] = {
    val t = model.map(_._2).sum
    model.map { case (pc, c) => pc -> (c + 1).toDouble / (t + p).toDouble }
  }

  private def weightMap(model: Seq[(String, Long)], p: Int): Column =
    typedLit(weights(model, p).toMap)

  /** One E/M step: Viterbi-segment the dict under `wmap`, re-count
    * piece usage (freq-weighted), collect the K-row count table.
    */
  private def emCount(dict: DataFrame, wmap: Column,
                      maxPiece: Int): Map[String, Long] =
    // optimization round 19: the dpArray+segments HOF pair replaced by
    // the single-node codegen-era kernel (UnigramViterbiSegments
    // scaladoc — identical DP, identical null semantics; TextOpsSpec's
    // hand-computed traces and the oracle hash gates pin it).
    // explode_outer + null-drop per the InferFiltersFromGenerate rule
    // (an inner explode would clone the kernel into a size>0
    // pre-filter); the GENERATED column's null rows are exactly the
    // rows a plain explode never emits.
    dict
      .withColumn("ps", graft.functions.UnigramViterbiKernel
        .viterbiSegments(col("word"), wmap, maxPiece))
      .select(col("freq"), explode_outer(col("ps")).as("p"))
      .where(col("p").isNotNull)
      .groupBy(col("p")).agg(sum(col("freq")).as("cnt"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** The hard-EM loop over a checkpointed dict: seed, then `rounds`
    * E/M steps over the FIXED seed vocabulary. Returns the final
    * (piece, cnt) model, collect-bounded by the vocab cap (the
    * centroid discipline).
    */
  private def emSteps(dict: DataFrame, rounds: Int, maxPiece: Int,
                      vocabCap: Int): Seq[(String, Long)] = {
    var model: Seq[(String, Long)] = seedPieces(dict, maxPiece, vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    val p = model.size
    for (_ <- 1 to rounds) {
      val segs = emCount(dict, weightMap(model, p), maxPiece)
      model = model.map { case (pc, _) => pc -> segs.getOrElse(pc, 0L) }
    }
    model
  }

  /** Fixed-`rounds` hard-EM fit. Returns the final model (piece, cnt),
    * cnt = freq-weighted Viterbi usage after the last round (0 for
    * pieces the final segmentation abandoned — the LM's natural prune
    * signal, kept in the output so the gate pins it).
    */
  def fit(docs: DataFrame, rounds: Int = 2, maxLen: Int = 12,
          maxPiece: Int = 4, vocabCap: Int = 200): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = wordDict(docs, maxLen).localCheckpoint(true)
    val model = emSteps(dict, rounds, maxPiece, vocabCap)
    dict.unpersist(blocking = false)
    model.toDF("piece", "cnt")
  }

  /** Hard-EM with per-round vocabulary PRUNING — the half of real
    * SentencePiece training [[fit]] fixes away (and the knob a
    * tokenizer-fitting user actually tunes): after each M-step the
    * model keeps the alphabet plus the top-`pruneTo` multi-char pieces
    * by re-estimated count (ties lexicographic — a deterministic
    * integer rank filter, so prune-vs-keep never touches a float), and
    * the next round's Laplace weights renormalize over the SURVIVING
    * vocabulary (P = |pruned model|, T = its count sum). Dropped
    * pieces leave the Viterbi lattice entirely, so pruning feeds back
    * into segmentation (TextOpsSpec pins a trace where it changes the
    * final split). Returns the final pruned (piece, cnt) model.
    */
  def fitPruned(docs: DataFrame, rounds: Int = 2, maxLen: Int = 12,
                maxPiece: Int = 4, vocabCap: Int = 200,
                pruneTo: Int = 24): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = wordDict(docs, maxLen).localCheckpoint(true)
    var model: Seq[(String, Long)] = seedPieces(dict, maxPiece, vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    for (_ <- 1 to rounds) {
      val segs = emCount(dict, weightMap(model, model.size), maxPiece)
      val recounted = model.map { case (pc, _) => pc -> segs.getOrElse(pc, 0L) }
      val (singles, multis) = recounted.partition(_._1.length == 1)
      val kept = multis.sortBy { case (pc, c) => (-c, pc) }.take(pruneTo)
      model = (singles ++ kept).sortBy(_._1)
    }
    dict.unpersist(blocking = false)
    model.toDF("piece", "cnt")
  }

  /** The SentencePiece training loop proper (Kudo 2018 §3.2): seed
    * LARGE (2× the target), hard-EM, then prune to target size by
    * LIKELIHOOD LOSS — the utility a piece's occurrences would lose if
    * it were dropped and they fell back to character segmentation —
    * and re-EM over the survivors. [[fitPruned]] ranks the prune by
    * raw count; this ranks by the published criterion:
    *
    *   loss(p) = c_p · (ln w(p) − Σ_{ch ∈ p} ln w(ch))
    *
    * with w the current round's Laplace weights. Because every weight
    * shares the denominator T+P, the formula canonicalizes to
    * c_p · (ln(c_p+1) + (len−1)·ln(T+P) − Σ ln(c_ch+1)) — computed in
    * integer MICROS (floor(·1e6 + 0.5)) with a FIXED left-to-right
    * ln-sum order, the WordpieceTrain.scoreU discipline: identical
    * IEEE ops in identical order on both engines, exact BIGINT
    * compare, ties lexicographic. A high-count piece barely better
    * than its own characters prunes before a rarer piece that
    * compresses strongly — the distinction count ranking cannot make
    * (TextOpsSpec pins a trace where the two orders differ).
    *
    * The ranking itself runs DRIVER-SIDE over the K-row collected
    * model (the centroid discipline — the model is already a driver
    * Seq between EM rounds); every char of a multi-char piece is in
    * the model by seeding, so the lookup is total. Returns the final
    * pruned (piece, cnt) model: alphabet + ≤ `pruneTo` multi-char
    * survivors.
    */
  def fitLossPruned(docs: DataFrame, rounds: Int = 2, maxLen: Int = 12,
                    maxPiece: Int = 4, vocabCap: Int = 48,
                    pruneTo: Int = 24): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val dict = wordDict(docs, maxLen).localCheckpoint(true)
    var model: Seq[(String, Long)] = seedPieces(dict, maxPiece, vocabCap)
      .collect().map(r => r.getString(0) -> r.getLong(1)).sortBy(_._1).toSeq
    for (_ <- 1 to rounds) {
      val segs = emCount(dict, weightMap(model, model.size), maxPiece)
      val recounted = model.map { case (pc, _) => pc -> segs.getOrElse(pc, 0L) }
      val byPiece = recounted.toMap
      val lt = math.log((recounted.map(_._2).sum + recounted.size).toDouble)
      def lossU(pc: String, c: Long): Long = {
        // ln-sum strictly left-to-right over positions (the oracle's
        // l1 + l2 + coalesce(l3, 0) + coalesce(l4, 0) chain — adding
        // +0.0 for absent positions is IEEE-exact)
        val lnch = (0 until maxPiece).map { i =>
          if (i < pc.length)
            math.log((byPiece(pc.substring(i, i + 1)) + 1L).toDouble)
          else 0.0
        }.reduceLeft(_ + _)
        math.floor(c.toDouble * ((math.log((c + 1L).toDouble)
          + (pc.length - 1).toDouble * lt) - lnch) * 1e6 + 0.5).toLong
      }
      val (singles, multis) = recounted.partition(_._1.length == 1)
      val kept = multis.map { case (pc, c) => (pc, c, lossU(pc, c)) }
        .sortBy { case (pc, _, lu) => (-lu, pc) }.take(pruneTo)
      model = (singles ++ kept.map(k => (k._1, k._2))).sortBy(_._1)
    }
    dict.unpersist(blocking = false)
    model.toDF("piece", "cnt")
  }

  /** Train-then-ENCODE — [[BpeTrain.encode]]'s unigram twin: the
    * fitted model applied back through one more Viterbi pass under the
    * FINAL weights, emitting each dict word's subword count (the
    * corpus token budget a pipeline plans by, under the real learned
    * LM). Encoding a NEW corpus at 100 TB is this same narrow per-row
    * fold under one broadcast map — no training-loop cost.
    */
  def encode(docs: DataFrame, rounds: Int = 2, maxLen: Int = 12,
             maxPiece: Int = 4, vocabCap: Int = 200): DataFrame = {
    val dict = wordDict(docs, maxLen).localCheckpoint(true)
    val model = emSteps(dict, rounds, maxPiece, vocabCap)
    val wmap = weightMap(model, model.size)
    // no unpersist here: the returned frame still reads the
    // checkpointed dict (truncated lineage — eviction would be data
    // loss, not recompute); the ContextCleaner reclaims it on GC
    dict
      .select(col("word"), col("freq"),
        size(graft.functions.UnigramViterbiKernel
          .viterbiSegments(col("word"), wmap, maxPiece)).cast("long")
          .as("n_subwords"))
  }

  /** The broadcast-model Viterbi encode tail shared by
    * [[encodeBroadcast]] and [[encodeFromModel]]: each word's DISTINCT
    * candidate substrings (the only keys its DP can ever probe)
    * inner-joined against the broadcast (p, w) weight table — every
    * word matches at least its single chars, so no word is lost,
    * PROVIDED the weight table covers every character of the corpus
    * being encoded (true by construction when serving the fit corpus;
    * [[encodeFromModel]] augments the table with OOV-character
    * fallback weights so it also holds for a fresh serving corpus) —
    * re-assembled into a PER-ROW weight map (`map_from_entries`), then
    * the identical Viterbi fold over that column.
    */
  private def viterbiEncode(dict: DataFrame, wdf: DataFrame,
                            maxPiece: Int): DataFrame = {
    val cands = dict.select(col("word"), col("freq"),
      explode(array_distinct(flatten(
        transform(sequence(lit(1), lit(maxPiece)), l =>
          when(length(col("word")) >= l,
            transform(sequence(lit(1), length(col("word")) - l + lit(1)),
              i => col("word").substr(i, l)))
            .otherwise(array().cast("array<string>")))))).as("cp"))
    cands.join(broadcast(wdf), col("cp") === col("p"))
      .groupBy(col("word"), col("freq"))
      .agg(map_from_entries(collect_list(struct(col("cp"), col("w"))))
        .as("wmap"))
      .select(col("word"), col("freq"),
        size(graft.functions.UnigramViterbiKernel
          .viterbiSegments(col("word"), col("wmap"), maxPiece)).cast("long")
          .as("n_subwords"))
  }

  /** Model-as-broadcast-TABLE encode — [[encode]]'s production twin
    * (the `sim_ivf_pq_bt` discipline): the fitted weights travel as a
    * tiny (piece, w) DataFrame instead of a map literal, so plan size
    * is independent of the vocab budget and the encode plans at any
    * `vocabCap` where the literal carrier would blow analysis/codegen.
    * Output is bit-identical to [[encode]] (same driver-computed IEEE
    * weights, same fold; TextOpsSpec pins the equality), so it shares
    * the literal form's oracle SQL.
    */
  def encodeBroadcast(docs: DataFrame, rounds: Int = 2, maxLen: Int = 12,
                      maxPiece: Int = 4, vocabCap: Int = 200): DataFrame = {
    val dict = wordDict(docs, maxLen).localCheckpoint(true)
    val model = emSteps(dict, rounds, maxPiece, vocabCap)
    val spark = docs.sparkSession
    import spark.implicits._
    viterbiEncode(dict, weights(model, model.size).toDF("p", "w"), maxPiece)
  }

  /** Encode against a PERSISTED model table (piece, cnt) — the
    * serving shape of a production tokenizer: the model was fitted
    * once (yesterday) and written as a table; today's corpus is
    * encoded with ZERO driver-side steps — T and P come from one
    * 1-row aggregate broadcast back (the text_bm25 discipline), each
    * Laplace weight is the same single IEEE division of exact longs
    * computed IN-PLAN, and the Viterbi tail is [[viterbiEncode]].
    * Output is bit-identical to [[encode]] over the same corpus +
    * fitted model (TextOpsSpec pins it): Long→Double casts and the
    * division are exact-rounded IEEE ops wherever they run.
    *
    * OOV contract: the fit corpus seeds every single character it
    * contains into the model, but TODAY'S corpus can carry characters
    * the model never saw — without a defined fallback the candidate
    * inner join has no weight for them, the DP cannot cross the
    * unknown position, and the word either stalls (partially-unknown)
    * or vanishes from the output entirely (fully-unknown — the
    * silent-row-loss serving bug). So the weight table is augmented
    * IN-PLAN with today's OOV single characters at the natural
    * Laplace-unseen weight (0+1)/(T+P): character-level segmentation
    * is always reachable, every word of the serving corpus yields
    * exactly one deterministic row (TextOpsSpec pins it), and serving
    * the fit corpus is unchanged (its OOV set is empty by
    * construction, so `text_unigram_encode_store`'s oracle is
    * untouched).
    */
  def encodeFromModel(docs: DataFrame, model: DataFrame, maxLen: Int = 12,
                      maxPiece: Int = 4): DataFrame = {
    val tp = model.agg(sum(col("cnt")).as("t"), count(lit(1)).as("np"))
    val wdf = model.crossJoin(broadcast(tp))
      .select(col("piece").as("p"),
        ((col("cnt") + lit(1L)).cast("double")
          / (col("t") + col("np")).cast("double")).as("w"))
    val dict = wordDict(docs, maxLen).localCheckpoint(true)
    val oov = dict
      .select(explode(split(col("word"), "")).as("p"))
      .where(col("p") =!= "").distinct()
      .join(model.select(col("piece").as("p")), Seq("p"), "left_anti")
      .crossJoin(broadcast(tp))
      .select(col("p"),
        (lit(1L).cast("double")
          / (col("t") + col("np")).cast("double")).as("w"))
    viterbiEncode(dict, wdf.unionByName(oov), maxPiece)
  }

  /** WordPiece-style GREEDY longest-match-first encoding (Wu et al.
    * 2016; the serving algorithm of BERT-family tokenizers) from the
    * fitted model's piece set — the third serving geometry of the
    * tokenizer family: BPE replays merges, unigram maximizes a Viterbi
    * product, WordPiece commits to the longest vocab piece at each
    * position and never backtracks. A word with a position no piece
    * covers becomes UNK wholesale (the published contract; with the
    * model's alphabet seeded from the fit corpus this cannot fire when
    * serving that corpus, and the flag is in the output so the gate
    * sees it either way).
    *
    * Execution is one narrow fold per DISTINCT word against the 1-row
    * broadcast piece map (the pipeline_dsir_select shape): the
    * accumulator (pos, n, unk) advances by the longest matching piece
    * per step, `maxLen` steps bound the walk, zero shuffle beyond the
    * word-dict aggregate. Piece lookups try the length-`maxPiece`
    * window first; at the word tail the window shortens itself, so the
    * first hit IS the longest match.
    *
    * Output: (word, freq, n_pieces, is_unk) — all integers/booleans,
    * exact hash gate.
    */
  def wordpieceEncode(docs: DataFrame, model: DataFrame, maxLen: Int = 12,
                      maxPiece: Int = 4): DataFrame = {
    val vm = model.agg(map_from_entries(
      collect_list(struct(col("piece"), lit(1)))).as("vm"))
    def acc(pos: Column, n: Column, unk: Column): Column =
      struct(pos.cast("int").as("pos"), n.cast("int").as("n"),
        unk.cast("int").as("unk"))
    wordDict(docs, maxLen).crossJoin(broadcast(vm))
      .withColumn("fin",
        aggregate(sequence(lit(1), lit(maxLen)), acc(lit(1), lit(0), lit(0)),
          (a, _) => {
            val done = a.getField("unk") === 1 ||
              a.getField("pos") > length(col("word"))
            // longest-match: the maxPiece..1 windows; at the tail the
            // window shortens itself, so the first hit is longest
            // each arm is NULL unless its window matches, so coalesce
            // in maxPiece..1 order IS longest-match-first
            val adv = coalesce((maxPiece to 1 by -1).map { l =>
              val key = col("word")
                .substr(a.getField("pos").cast("int"), lit(l))
              when(element_at(col("vm"), key).isNotNull, length(key))
            }: _*)
            when(done, a).otherwise(
              when(adv.isNull, acc(a.getField("pos"), a.getField("n"), lit(1)))
                .otherwise(acc(a.getField("pos") + adv,
                  a.getField("n") + 1, lit(0))))
          }))
      .select(col("word"), col("freq"),
        when(col("fin.unk") === 1, lit(0))
          .otherwise(col("fin.n")).as("n_pieces"),
        (col("fin.unk") === 1).as("is_unk"))
  }
}
