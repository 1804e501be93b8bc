package graft

import org.apache.spark.sql.functions._
import graft.operators.TextAnalysis

/** Semantics pins for the round-4 text ops on SYNTHETIC inputs — the
  * fixture corpus contains no URLs/PII, so the oracle rows only prove
  * cross-engine digest equality; these tests prove the transforms
  * actually normalize/redact/count what they claim to.
  */
class TextOpsSpec extends SparkSpec {

  import spark.implicits._

  private def docsOf(texts: (Long, String)*) =
    texts.toDF("doc_id", "text")

  test("normalize strips URLs, collapses whitespace, lowercases, trims") {
    val d = docsOf(
      1L -> "  Visit https://example.com/a?b=c NOW\t\tplease  ",
      2L -> "plain text")
    val norm = d.select(col("doc_id"), trim(regexp_replace(
      regexp_replace(lower(col("text")), "https?://\\S+", ""), "\\s+", " "))
      .as("norm")).collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(norm(1L) == "visit now please")
    assert(norm(2L) == "plain text")
    // the shipped op emits the md5 of exactly that normalization
    val got = TextAnalysis.normalize(d).collect()
      .map(r => r.getLong(0) -> r.getString(2)).toMap
    val md5Of = (s: String) =>
      java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
    assert(got(1L) == md5Of("visit now please"))
  }

  test("bm25: closed-form score on a 3-doc corpus; absent terms score 0") {
    val d = docsOf(
      1L -> "join join scan",
      2L -> "scan other words here",
      3L -> "nothing relevant at all whatsoever")
    val rows = TextAnalysis.bm25(d, Seq("join", "scan")).collect()
      .map(r => r.getLong(0) -> r).toMap
    // N=3, sumdl=12, avgdl=4; df(join)=1, df(scan)=2
    def contrib(tf: Int, df: Long, dl: Int): Double =
      if (tf == 0) 0.0
      else (3.0 - df + 0.5) / (df + 0.5) * tf * 2.2 /
        (tf + 1.2 * (0.25 + 0.75 * dl / 4.0))
    assert(rows(3L).getDouble(4) == 0.0)
    val exp1 = contrib(2, 1, 3) + contrib(1, 2, 3)
    assert(math.abs(rows(1L).getDouble(4) - exp1) < 1e-12)
    val exp2 = contrib(0, 1, 4) + contrib(1, 2, 4)
    assert(math.abs(rows(2L).getDouble(4) - exp2) < 1e-12)
    // tf columns surface the per-term counts
    assert(rows(1L).getInt(2) == 2 && rows(1L).getInt(3) == 1)
  }

  test("repetition: dup 3-gram fraction; short docs excluded") {
    val d = docsOf(
      1L -> "a b c a b c a b c", // 7 trigrams, 3 distinct -> 4 dups
      2L -> "all words differ here now",
      3L -> "too short")
    val got = TextAnalysis.repetition(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(got == Set((1L, 7, 4), (2L, 3, 0)))
  }

  test("pii redaction finds and replaces emails and phone shapes") {
    val d = docsOf(
      1L -> "mail me at a.user+x@example.org or call +1 (555) 123-4567 ok",
      2L -> "no pii here")
    val out = TextAnalysis.piiRedact(d).collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2))).toSet
    assert(out == Set((1L, 1, 1), (2L, 0, 0)))
    val red = d.select(regexp_replace(regexp_replace(col("text"),
      TextAnalysis.emailRe, "<EMAIL>"), TextAnalysis.phoneRe, "<PHONE>"))
      .as[String].collect().toSet
    assert(red.contains("mail me at <EMAIL> or call <PHONE> ok"))
  }

  test("domain mix keeps an approximately rate-proportional subset") {
    val rows = graft.queries.PipelineQueries.queries("q_domain_mix")(spark, sf)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (rate, total, kept) =
        (r.getDouble(1), r.getLong(2), r.getLong(3))
      assert(kept <= total)
      // loose binomial check: small strata, just pin the direction
      if (rate == 1.0) assert(kept == total)
    }
  }

  test("dedup_embedding survivors = all docs minus near-dup higher ids") {
    val all = graft.Tables.documents(spark, sf).count()
    val survivors = graft.queries.SimilarityQueries.queries("dedup_embedding")(spark, sf)
    val n = survivors.count()
    assert(n <= all && n > 0)
    // survivor set contains no id that appears as id_b in an LSH pair
    val planes = graft.operators.Similarity.hyperplanes(8, 64, 13L)
    val e = graft.operators.Similarity.emb(spark, sf)
    val dropped = graft.operators.Similarity.nearPairsLsh(e, planes, 0.4)
      .select(col("id_b")).distinct().as[Long].collect().toSet
    val kept = survivors.select(col("doc_id")).as[Long].collect().toSet
    assert(kept.intersect(dropped).isEmpty)
    assert(kept.size + dropped.size == all)
  }

  test("connectedComponents labels chains and keeps components separate") {
    // path 1-2-3-4 (diameter 3), clique 10-11-12, isolated pair 20-21
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L), (10L, 12L),
      (11L, 12L), (20L, 21L)).toDF("doc_a", "doc_b")
    val got = graft.operators.Dedup.connectedComponents(pairs, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(got(_) == 1L))
    assert(Seq(10L, 11L, 12L).forall(got(_) == 10L))
    assert(Seq(20L, 21L).forall(got(_) == 20L))
    assert(got.size == 9) // members only — no singleton inflation
  }

  test("unigram Viterbi kernel == HOF fold, including OOV null edges") {
    // round-19 optimization pin: UnigramViterbiSegments must replicate
    // the dpArray+segments HOF semantics branch-for-branch — tie-breaks
    // (first valid candidate wins), multi-piece backtracks, AND the
    // null edges the fit paths never hit: a word with a mid-word char
    // ABSENT from the model yields null dp entries, whose backward walk
    // prepends one null piece and freezes.
    import graft.operators.UnigramLm
    val words = Seq("abab", "abcab", "axb", "xab", "abx", "x", "ab",
      "aaaa", "ba", "abcabc").toDF("word")
    val wmap = typedLit(Map(
      "a" -> 0.30, "b" -> 0.25, "c" -> 0.10, "ab" -> 0.20, "abc" -> 0.05,
      "ba" -> 0.15))
    (1 to 4).foreach { mp =>
      val hof = words
        .withColumn("dp", UnigramLm.dpArray(col("word"), wmap, mp))
        .select(col("word"), UnigramLm.segments(col("word"), col("dp"))
          .as("ps"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      val kern = words
        .select(col("word"), graft.functions.UnigramViterbiKernel
          .viterbiSegments(col("word"), wmap, mp).as("ps"))
        .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
      assert(kern == hof, s"kernel diverged from the HOF at maxPiece=$mp")
    }
    // the OOV rows really exercised the null path (x not in the model)
    val k2 = words.select(col("word"), graft.functions.UnigramViterbiKernel
        .viterbiSegments(col("word"), wmap, 4).as("ps"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1)).toMap
    assert(k2("axb").contains(null))
  }

  test("fixed-6 CC splits a diameter-9 chain; converged mode resolves it") {
    // path 1-2-...-10: diameter 9 > 6 rounds of hash-min propagation
    val pairs = (1L to 9L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val fixed = graft.operators.Dedup.connectedComponents(pairs, iters = 6)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // after 6 rounds node 10 only sees min-label within 6 hops (= 4):
    // the silent under-merge the fixpoint mode exists to catch
    assert(fixed(10L) == 4L)
    assert(fixed.values.toSet.size > 1)
    val conv = graft.operators.Dedup.connectedComponentsConverged(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert((1L to 10L).forall(conv(_) == 1L))
    assert(conv.size == 10)
    // two-regime gate (round 19): the distributed loop must produce the
    // identical fixpoint labels as the driver union-find fast path, and
    // its under-diameter bound must still fail loudly, never under-merge
    withDistributed {
      val dist = graft.operators.Dedup.connectedComponentsConverged(pairs)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(dist == conv, "distributed fixpoint != driver union-find")
      // the FIXED-round forms must also agree — including the round-6
      // truncation (the driver replay runs synchronous rounds, not
      // union-find, precisely to preserve the under-merge)
      val distFixed = graft.operators.Dedup
        .connectedComponents(pairs, iters = 6)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(distFixed == fixed, "distributed fixed-6 != driver replay")
      intercept[IllegalStateException] {
        graft.operators.Dedup.connectedComponentsConverged(pairs, maxIters = 3)
      }
    }
  }

  test("char entropy: closed-form values and permutation invariance") {
    val d = docsOf(
      1L -> "aabb",           // 2 equiprobable symbols → ln 2
      2L -> "abcd",           // 4 equiprobable symbols → ln 4
      3L -> "aaaa",           // single symbol → 0
      4L -> "bbaa")           // permutation of doc 1 → same entropy
    val got = graft.operators.TextAnalysis.charEntropy(d)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(got(1L)._1 == 4 && got(1L)._2 == 2)
    assert(math.abs(got(1L)._3 - math.log(2)) < 1e-12)
    assert(math.abs(got(2L)._3 - math.log(4)) < 1e-12)
    assert(math.abs(got(3L)._3 - 0.0) < 1e-12)
    assert(got(4L)._3 == got(1L)._3, "entropy must be order-invariant")
  }

  test("tfidf ranks a term unique to the probe doc above corpus-wide terms") {
    val d = docsOf(
      0L -> "zebra common common common",
      1L -> "common words only here",
      2L -> "common words only here",
      3L -> "common words only here")
    val top = graft.operators.TextAnalysis.tfidfTopK(d, nProbe = 1, k = 2)
      .orderBy("rk").collect()
    // zebra: df=1 beats common: df=4 even at tf=3
    assert(top(0).getAs[String]("term") == "zebra")
    assert(top(1).getAs[String]("term") == "common")
    val sZebra = top(0).getAs[Double]("score")
    val sCommon = top(1).getAs[Double]("score")
    assert(sZebra > sCommon)
    // rational idf, not log: score = tf * (N - df + 0.5) / (df + 0.5)
    assert(math.abs(sZebra - 1.0 * (4 - 1 + 0.5) / 1.5) < 1e-12)
    assert(math.abs(sCommon - 3.0 * (4 - 4 + 0.5) / 4.5) < 1e-12)
  }

  test("vocabCoverage: top-v by occurrence with lexicographic ties; exact per-doc counts") {
    // occurrences: aa=4, bb=3, cc=2, dd=2, zz=1 → v=3 vocab = {aa, bb, cc}
    // (cc beats dd on the lexicographic tie at count 2)
    val d = docsOf(
      1L -> "aa aa bb cc dd",
      2L -> "aa bb cc dd zz",
      3L -> "aa bb aa")
    val got = TextAnalysis.vocabCoverage(d, v = 3).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    assert(got(1L) == ((4L, 3L))) // {aa,bb,cc,dd}: aa,bb,cc in vocab
    assert(got(2L) == ((5L, 3L))) // {aa,bb,cc,dd,zz}: aa,bb,cc
    assert(got(3L) == ((2L, 2L))) // {aa,bb}: both in vocab
    // vocabulary smaller than v degrades to the full token set
    val all = TextAnalysis.vocabCoverage(d, v = 100).collect()
    assert(all.forall(r => r.getLong(2) == r.getLong(1)),
      "with v >= |alphabet| every distinct token is in-vocab")
  }

  test("bpe merge fold: greedy leftmost non-overlap on adversarial traces") {
    import graft.operators.BpeTrain
    def fold(syms: Seq[String], l: String, r: String): Seq[String] =
      Seq(Tuple1(syms)).toDF("syms")
        .select(BpeTrain.mergeFold(col("syms"), l, r).as("m"))
        .head().getSeq[String](0)
    // hand-computed traces — runs of a repeated char are where greedy
    // left-to-right and naive "merge every match" diverge
    assert(fold(Seq("a", "a", "a"), "a", "a") == Seq("aa", "a"))
    assert(fold(Seq("a", "a", "a", "a"), "a", "a") == Seq("aa", "aa"))
    assert(fold(Seq("a", "a", "a", "a", "a"), "a", "a") == Seq("aa", "aa", "a"))
    // overlapping different-pair candidates: only the leftmost fires
    assert(fold(Seq("a", "b", "a", "b"), "b", "a") == Seq("a", "ba", "b"))
    // no match / single symbol / merged symbol participates next round
    assert(fold(Seq("x"), "a", "b") == Seq("x"))
    assert(fold(Seq("a", "b", "c"), "b", "c") == Seq("a", "bc"))
    assert(fold(Seq("a", "bc"), "a", "bc") == Seq("abc"))
  }

  test("bpe training: hand-computed merge table on a tiny corpus") {
    import graft.operators.BpeTrain
    // words: ab freq 3, cd freq 3 -> pairs (a,b):3 and (c,d):3 tie;
    // lexicographic tie-break picks (a,b) first, then (c,d)
    val d = docsOf(1L -> "ab ab cd", 2L -> "ab cd cd")
    val got = BpeTrain.merges(d, iters = 2).orderBy("rank").collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.toSeq == Seq((1, "a", "b", 3L), (2, "c", "d", 3L)),
      s"merge table diverged: ${got.toSeq}")
    // encoding under the trained table: both words collapse to 1 subword
    val enc = BpeTrain.encode(d, iters = 2).orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    assert(enc.toSeq == Seq(("ab", 3L, 1L), ("cd", 3L, 1L)),
      s"encode diverged: ${enc.toSeq}")
  }

  test("lm bigram scoring: hand trace with v-cap ties and a no-bigram doc") {
    // all docs held-in (bucket < 100); bigram counts: "a b":2,
    // "b a":1, "b c":1 -> top-2 model = {"a b", "b a"} (lex tie-break)
    val d = docsOf(1L -> "a b a b", 2L -> "b c", 3L -> "x")
    val got = TextAnalysis.lmBigramScore(d, refBucketLt = 100, v = 2)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.toSeq == Seq(
      (1L, 3L, 3L, 5L), // [a b, b a, a b]: all hit; 2+1+2
      (2L, 1L, 0L, 0L), // "b c" fell off the v-cap
      (3L, 0L, 0L, 0L)  // single token: no bigrams, doc retained
    ), s"lm scores diverged: ${got.toSeq}")
  }

  test("unigram-lm: hand-computed hard-EM traces (whole-word vs multi-piece winners)") {
    import graft.operators.UnigramLm
    // vocabCap large enough to admit every multi-char substring — the
    // cap form degenerates to the keep-everything seed these traces
    // were hand-computed for
    def fitMap(text: String) = UnigramLm
      .fit(Seq(text).toDF("text"), rounds = 2, maxPiece = 4, vocabCap = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap

    // corpus "abab abab cd": T=23, P=10 → w(abab)=3/33 beats
    // w(ab)²=(5/33)² and w(cd)=2/33 beats (2/33)² — whole words win
    // both rounds, every sub-piece count prunes to 0
    assert(fitMap("abab abab cd") == Map(
      "abab" -> 2L, "cd" -> 1L, "a" -> 0L, "b" -> 0L, "ab" -> 0L,
      "ba" -> 0L, "aba" -> 0L, "bab" -> 0L, "c" -> 0L, "d" -> 0L))

    // "xy"×10 + one "xyxy": w(xy)²=(13/47)² BEATS w(xyxy)=2/47, so the
    // rare word segments into the frequent piece — the unigram-LM
    // behavior BPE can't express in one merge table. xy absorbs all
    // 12 occurrences; round 2 only reinforces.
    val t2 = (Seq.fill(10)("xy") :+ "xyxy").mkString(" ")
    assert(fitMap(t2) == Map(
      "xy" -> 12L, "x" -> 0L, "y" -> 0L, "yx" -> 0L, "xyx" -> 0L,
      "yxy" -> 0L, "xyxy" -> 0L))

    // encode under the final weights: the rare word costs TWO subwords
    // of the dominant piece, the frequent word one
    val enc = UnigramLm
      .encode(Seq(t2).toDF("text"), rounds = 2, maxPiece = 4, vocabCap = 100)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(enc == Map("xy" -> 1L, "xyxy" -> 2L))
  }

  test("unigram-lm: seed vocab is budget-bounded — size == cap under a corpus an absolute threshold would blow") {
    import graft.operators.UnigramLm
    // 300 distinct 2-char pieces (words "aa".."yx" over a 25-letter
    // alphabet via pairs), EACH occurring 150 times — the old absolute
    // minOcc=100 rule would admit all 300+; the cap keeps exactly 40
    val words = for {
      a <- 'a' to 'y'; b <- 'a' to 'y' if a != b
    } yield s"$a$b"
    val text = (1 to 150).flatMap(_ => words.take(300)).mkString(" ")
    val model = UnigramLm
      .fit(Seq(text).toDF("text"), rounds = 1, maxPiece = 4, vocabCap = 40)
      .collect().map(r => r.getString(0))
    val multis = model.count(_.length > 1)
    assert(multis == 40, s"multi-char seed must equal the cap, got $multis")
    // ties (all counts equal) broke lexicographic: the kept multis are
    // the 40 lexicographically-smallest pieces
    val kept = model.filter(_.length > 1).sorted.toSeq
    val expected = words.take(300).distinct.sorted.take(40)
    assert(kept == expected, s"tie-break must be lexicographic: $kept")
  }

  test("unigram-lm: per-round pruning changes the final segmentation vs the unpruned model") {
    import graft.operators.UnigramLm
    // "ab" dominates, "cd" is mid-frequency: unpruned, both words stay
    // whole pieces; pruneTo=1 keeps only "ab" after round 1, so "cd"
    // falls out of the lattice and must re-segment into single chars
    val text = ((1 to 30).map(_ => "ab") ++ (1 to 5).map(_ => "cd")).mkString(" ")
    val d = Seq(text).toDF("text")
    val unpruned = UnigramLm.fit(d, rounds = 2, maxPiece = 2, vocabCap = 100)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(unpruned("cd") == 5L, s"unpruned keeps cd whole: $unpruned")
    val pruned = UnigramLm
      .fitPruned(d, rounds = 2, maxPiece = 2, vocabCap = 100, pruneTo = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(!pruned.contains("cd"), s"cd must be pruned from the model: $pruned")
    assert(pruned("ab") == 30L, s"ab survives the prune: $pruned")
    // cd's occurrences re-segmented into chars under the pruned model
    assert(pruned("c") == 5L && pruned("d") == 5L,
      s"pruning must change the segmentation (cd -> c d): $pruned")
  }

  test("unigram-lm: likelihood-loss prune diverges from count prune where fallback cost differs") {
    import graft.operators.UnigramLm
    // designed so count rank and loss rank DISAGREE: "ab" is the
    // high-count piece (20 uses) but its chars also occur 20× each as
    // standalone words, so falling back to a+b is CHEAP — loss_ab =
    // 20·(ln21 + ln(T+P) − ln21 − ln21) ≈ 25.7; "xy" has half the
    // count but its chars occur ONLY inside it (abandoned after EM,
    // count 0), so fallback is EXPENSIVE — loss_xy = 10·(ln11 +
    // ln(T+P)) ≈ 67.3. Count keeps ab; likelihood loss keeps xy.
    val text = ((1 to 20).map(_ => "ab") ++ (1 to 20).map(_ => "a") ++
      (1 to 20).map(_ => "b") ++ (1 to 10).map(_ => "xy")).mkString(" ")
    val d = Seq(text).toDF("text")
    val byLoss = UnigramLm
      .fitLossPruned(d, rounds = 1, maxPiece = 2, vocabCap = 100, pruneTo = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byLoss.contains("xy") && !byLoss.contains("ab"),
      s"loss prune must keep xy over the higher-count ab: $byLoss")
    val byCount = UnigramLm
      .fitPruned(d, rounds = 1, maxPiece = 2, vocabCap = 100, pruneTo = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byCount.contains("ab") && !byCount.contains("xy"),
      s"count prune must keep ab — the ranks genuinely diverge: $byCount")
    // re-EM over the survivors: ab's occurrences fall back to chars
    val round2 = UnigramLm
      .fitLossPruned(d, rounds = 2, maxPiece = 2, vocabCap = 100, pruneTo = 1)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(round2("xy") == 10L && round2("a") == 40L && round2("b") == 40L,
      s"post-prune re-EM must re-segment ab into chars: $round2")
    // the target-size contract at fixture scale: alphabet + exactly
    // pruneTo multi-char survivors (seeded at 2x the target)
    val fix = graft.queries.TextQueries
      .queries("text_unigram_train")(spark, sf).collect()
      .map(r => r.getString(0))
    assert(fix.count(_.length > 1) == 24,
      s"fixture multi-char vocab must land exactly on the prune target, got ${fix.count(_.length > 1)}")
  }

  test("unigram-lm: broadcast-table encode is bit-identical to the literal-map encode") {
    import graft.operators.UnigramLm
    val d = docsOf(
      1L -> "alpha beta alpha gamma beta beta",
      2L -> "gamma delta epsilon alpha",
      3L -> "beta beta zeta").select(col("text"))
    val lit0 = UnigramLm.encode(d, rounds = 2, maxPiece = 4, vocabCap = 10)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    val bt = UnigramLm
      .encodeBroadcast(d, rounds = 2, maxPiece = 4, vocabCap = 10)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(lit0 == bt, s"broadcast-table encode diverged:\n$lit0\n$bt")
    assert(lit0.nonEmpty && lit0.exists(_._3 > 1),
      s"trace must exercise multi-subword words: $lit0")
    // serving from a model TABLE (weights computed in-plan from the
    // stored counts) lands on the same bytes: Long→Double casts and
    // the Laplace division are exact IEEE ops wherever they run
    val store = UnigramLm
      .encodeFromModel(d,
        UnigramLm.fit(d, rounds = 2, maxPiece = 4, vocabCap = 10),
        maxPiece = 4)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    assert(lit0 == store, s"model-store encode diverged:\n$lit0\n$store")
  }

  test("unigram-lm: serving a fresh corpus with unseen characters loses no word (OOV fallback)") {
    import graft.operators.UnigramLm
    // model fit on a latin-only corpus...
    val fitCorpus = docsOf(
      1L -> "alpha beta alpha gamma beta beta",
      2L -> "gamma delta epsilon alpha").select(col("text"))
    val model = UnigramLm.fit(fitCorpus, rounds = 2, maxPiece = 4,
      vocabCap = 10)
    // ...serves a corpus with a fully-unknown word (digits — no char
    // overlap), a partially-unknown word, and known words
    val serveCorpus = docsOf(
      10L -> "alpha 90210 bet4 beta beta").select(col("text"))
    val got = UnigramLm.encodeFromModel(serveCorpus, model, maxPiece = 4)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSeq
    // the no-word-lost contract: one row per distinct serving word —
    // pre-fallback, "90210" vanished and "bet4" stalled the DP
    assert(got.map(_._1) == Seq("90210", "alpha", "bet4", "beta"),
      s"serving corpus words went missing: $got")
    // fully-unknown word: every char is OOV at the flat unseen weight,
    // so Viterbi segments it char-by-char (5 subwords) — deterministic,
    // not dropped
    assert(got.find(_._1 == "90210").get._3 == 5L,
      s"OOV word must segment per char: $got")
    // known words segment exactly as when serving the fit corpus
    val fitView = UnigramLm.encodeFromModel(fitCorpus, model, maxPiece = 4)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(got.find(_._1 == "alpha").get._3 == fitView("alpha") &&
      got.find(_._1 == "beta").get._3 == fitView("beta"),
      "known-word segmentation must not shift under the OOV augmentation")
  }

  test("gopher gate: keep == AND of the five rules, rules recompute independently") {
    val rows = TextAnalysis.gopherRules(Tables.documents(spark, sf))
      .collect()
    assert(rows.nonEmpty)
    var kept = 0
    rows.foreach { r =>
      val Seq(nW, sumWl, nStop, maxWf, nTri, nTriDup) =
        (1 to 6).map(r.getInt).toSeq
      val rules = Seq(r.getBoolean(7), r.getBoolean(8), r.getBoolean(9),
        r.getBoolean(10), r.getBoolean(11))
      // independent recompute of each rule from the raw counts
      val want = Seq(nW >= 50 && nW <= 100000,
        3 * nW <= sumWl && sumWl <= 10 * nW,
        nStop >= 2, 5 * maxWf <= nW, 10 * nTriDup <= 3 * nTri)
      assert(rules == want, s"rule booleans drifted from counts: $r")
      assert(r.getBoolean(12) == rules.forall(identity),
        s"keep is not the conjunction: $r")
      if (r.getBoolean(12)) kept += 1
    }
    // the gate discriminates on the fixture (measured before build:
    // r_words and r_stop both trip) — not all-pass, not all-fail
    assert(kept > 0 && kept < rows.length,
      s"gate degenerate: kept $kept of ${rows.length}")
  }

  test("collapse-proof gopherKeepExpr equals gopherRules' keep row-for-row") {
    val docs = Tables.documents(spark, sf)
    val viaRules = TextAnalysis.gopherRules(docs)
      .select(col("doc_id"), col("keep")).collect()
      .map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    val viaExpr = docs
      .select(col("doc_id"), TextAnalysis.gopherKeepExpr.as("keep"))
      .collect().map(r => r.getLong(0) -> r.getBoolean(1)).toMap
    assert(viaExpr == viaRules, "bound-lambda gate diverged from the rules table")
  }

  test("gopher gate is narrow (no exchange in the plan)") {
    val p = plan(TextAnalysis.gopherRules(Tables.documents(spark, sf)))
    assert(!p.contains("Exchange"),
      "doc-level rules must stay per-row - found a shuffle:\n" + p.take(2000))
  }

  test("wordpiece greedy: longest-match-first on a hand model, UNK wholesale") {
    import spark.implicits._
    val model = Seq(("ab", 10L), ("abc", 5L), ("a", 3L), ("b", 3L),
      ("c", 3L), ("d", 1L)).toDF("piece", "cnt")
    val corpus = docsOf(
      1L -> "abcd abd dcba xz cab").select(col("text"))
    val got = graft.operators.UnigramLm
      .wordpieceEncode(corpus, model, maxLen = 12, maxPiece = 4)
      .orderBy("word").collect()
      .map(r => (r.getString(0), r.getInt(2), r.getBoolean(3))).toSeq
    // abcd: greedy takes "abc" (longest at pos 1), then "d" → 2 pieces
    //   (a shortest-first or Viterbi-count segmentation could differ);
    // abd: "ab"+"d" → 2; dcba: "d"+"c"+"b"+"a" → 4; cab: "c"+"ab" → 2;
    // xz: 'x' has no piece → UNK wholesale, n_pieces 0
    assert(got == Seq(("abcd", 2, false), ("abd", 2, false),
      ("cab", 2, false), ("dcba", 4, false), ("xz", 0, true)),
      s"greedy segmentation diverged: $got")
  }

  test("wordpiece training: likelihood argmax diverges from BPE's count argmax where it should") {
    import spark.implicits._
    import graft.operators.{BpeTrain, WordpieceTrain}
    // 'ab' is the FREQUENT pair (f=10) but its symbols are ubiquitous
    // (c(a)=c(b)=60 → score 10/3600); 'qz' is rare (f=3) but exclusive
    // (c(q)=c(z)=3 → score 3/9). BPE must merge ab first, WordPiece qz —
    // the likelihood ranking is load-bearing, not a relabeled count.
    val docs = (Seq.fill(10)("ab") ++ Seq.fill(50)("a") ++
      Seq.fill(50)("b") ++ Seq.fill(3)("qz")).toDF("text")
    val bpe1 = BpeTrain.merges(docs, 1).collect().head
    assert((bpe1.getString(1), bpe1.getString(2)) == ("a", "b"),
      s"BPE argmax drifted: $bpe1")
    val wp1 = WordpieceTrain.merges(docs, 1).collect().head
    assert((wp1.getString(1), wp1.getString(2)) == ("q", "z"),
      s"wordpiece likelihood argmax drifted: $wp1")
    // score_u is the exact micros of ln(3/9): floor(ln(1/3)·1e6 + .5)
    assert(wp1.getLong(4) == math.floor(
      (math.log(3) - math.log(3) - math.log(3)) * 1e6 + 0.5).toLong,
      s"score micros diverged: ${wp1.getLong(4)}")
    // the trained vocab feeds the serving walk: alphabet + the merge,
    // and with every char in-vocab no word can be UNK
    val vocab = WordpieceTrain.vocab(docs, 1)
      .collect().map(_.getString(0)).toSet
    assert(vocab == Set("a", "b", "q", "z", "qz"), s"vocab drifted: $vocab")
    val enc = graft.operators.UnigramLm.wordpieceEncode(
        docs, WordpieceTrain.vocab(docs, 1), maxLen = 12, maxPiece = 9)
      .collect().map(r => (r.getString(0), r.getInt(2), r.getBoolean(3)))
      .toSet
    assert(enc == Set(("ab", 2, false), ("a", 1, false), ("b", 1, false),
      ("qz", 1, false)), s"trained-vocab encode drifted: $enc")
  }

  test("lm bigram model join stays broadcast (no shuffle on the scoring pass)") {
    val d = Tables.documents(spark, sf)
    val p = plan(TextAnalysis.lmBigramScore(d, refBucketLt = 50, v = 1000))
    assert(p.contains("BroadcastHashJoin"), p.take(2000))
    assert(!p.contains("SortMergeJoin"),
      "top-v model must broadcast — a sort-merge join would shuffle the corpus bigram stream")
  }

  test("wordpiece serving cap is lossless on the fixture: every trained piece fits maxPiece") {
    val pieces = graft.operators.WordpieceTrain
      .vocab(Tables.documents(spark, sf), iters = 8)
      .collect().map(_.getString(0))
    // maxPiece = 9 is a CAP, not a bound merges can't exceed (k merges
    // can build 2^k-char pieces on a repetitive corpus); this pins that
    // on the gated fixtures no trained piece is silently ignored
    assert(pieces.nonEmpty && pieces.map(_.length).max <= 9,
      s"trained piece longer than the serving cap: ${pieces.maxBy(_.length)}")
  }

  test("ppl buckets: every doc bucketed, per-lang tertile boundaries replay; ntile agrees off ties") {
    val rows = graft.queries.TextQueries.queries("text_ppl_buckets")(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getString(3)))
    assert(rows.length == Tables.documents(spark, sf).count())
    val order = Map("head" -> 1, "middle" -> 2, "tail" -> 3)
    rows.groupBy(_._2).foreach { case (lang, ms) =>
      // replay the boundary rule: b1 = score at ascending rank ⌈n/3⌉,
      // b2 = score at rank n − n/3 (ntile's exact tile sizes), then
      // bucket by comparison — boundary-score ties share a bucket
      val sorted = ms.sortBy(m => (m._3, m._1))
      val n = sorted.length
      val b1 = sorted((n + 2) / 3 - 1)._3
      val b2 = sorted(n - n / 3 - 1)._3
      ms.foreach { m =>
        val want = if (m._3 <= b1) 1 else if (m._3 <= b2) 2 else 3
        assert(order(m._4) == want,
          s"$lang doc ${m._1}: bucket ${m._4} != boundary bucket $want")
      }
      // the ONLY divergence from positional NTILE(3) over (score_u,
      // doc_id) is a tie straddling a boundary: off boundary-score
      // ties the two rules agree exactly
      val expected = sorted.zipWithIndex.map { case (m, i) =>
        val (big, rem) = (n / 3 + 1, n % 3)
        val tile = if (i < big * rem) i / big + 1
          else (i - big * rem) / (n / 3) + rem + 1
        m._1 -> tile
      }.toMap
      ms.filter(m => m._3 != b1 && m._3 != b2).foreach { m =>
        assert(order(m._4) == expected(m._1),
          s"$lang doc ${m._1}: boundary bucket ${m._4} diverges from " +
            s"ntile ${expected(m._1)} on a NON-tie score")
      }
      // equal scores always share a bucket (the pinned tie rule)
      ms.groupBy(_._3).foreach { case (s, ds) =>
        assert(ds.map(_._4).distinct.length == 1,
          s"$lang score $s split across buckets")
      }
      // CCNet direction: no head score exceeds any tail score
      val head = ms.filter(_._4 == "head").map(_._3)
      val tail = ms.filter(_._4 == "tail").map(_._3)
      if (head.nonEmpty && tail.nonEmpty) assert(head.max <= tail.min)
    }
  }

  /** Exact integer replay of knBigramScore (same tokenizer, slice,
    * counts, and d = 3/4 interpolation in Long arithmetic).
    */
  private def knReplay(rows: Seq[(Long, String)], nProbe: Int,
      trainLt: Int): Map[Long, (Long, Long, Long, Long)] = {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    val bg = rows.map { case (id, t) =>
      val ts = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (if (ts.length >= 2) ts.sliding(2).map(a => (a(0), a(1))).toSeq
             else Seq.empty[(String, String)])
    }
    val big = bg.filter(b => bucket(b._1) < trainLt).flatMap(_._2)
      .groupBy(identity).map { case (p, os) => p -> os.size.toLong }
    val c1 = big.groupBy(_._1._1).map { case (w, ps) => w -> ps.values.sum }
    val n1pF = big.groupBy(_._1._1).map { case (w, ps) => w -> ps.size.toLong }
    val n1pB = big.groupBy(_._1._2).map { case (w, ps) => w -> ps.size.toLong }
    val np = big.size.toLong
    bg.filter(_._1 < nProbe).map { case (id, ps) =>
      val pus = ps.map { case (w1, w2) =>
        val pcont = n1pB.get(w2).map(_ * 1000000L / np).getOrElse(0L)
        val pu = c1.get(w1) match {
          case Some(cw1) =>
            val t1 = big.get((w1, w2))
              .map(c12 => (4 * c12 - 3) * 1000000L / (4 * cw1)).getOrElse(0L)
            t1 + (3 * n1pF(w1) * 1000000L / (4 * cw1)) * pcont / 1000000L
          case None => pcont
        }
        (big.contains((w1, w2)), pu)
      }
      id -> (ps.size.toLong, pus.count(_._1).toLong,
        pus.count(_._2 == 0L).toLong, pus.map(_._2).sum)
    }.toMap
  }

  test("Kneser-Ney: fixture replay exact; smoothing branches live in the gated output") {
    val got = graft.queries.TextQueries
      .queries("text_kneser_ney")(spark, sf).collect()
      .map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val rows = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = knReplay(rows, nProbe = 20, trainLt = 5)
    val probeIds = rows.map(_._1).filter(_ < 20)
    assert(got.keySet == probeIds.toSet)
    probeIds.foreach { id =>
      val e = expect.getOrElse(id, (0L, 0L, 0L, 0L))
      assert(got(id) == e, s"doc $id: got ${got(id)}, want $e")
    }
    // the held-out probes genuinely exercise the smoothing: unseen
    // bigrams exist (discount + continuation backoff paths live)
    assert(got.values.exists(v => v._2 < v._1),
      "every probe bigram was seen — the smoothing gate is vacuous")
    // sanity: a hit-path score is a real probability mass (0 < p <= 1e6
    // per bigram on average can exceed 1e6 only on degenerate corpora)
    got.values.filter(_._1 > 0).foreach { case (_, _, _, su) =>
      assert(su > 0L, "scored doc got zero total mass") }
  }

  test("Kneser-Ney: all four branches on a designed toy; probabilities sum below unity") {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    // a training id (bucket < 5) and a probe id (< nProbe, bucket >= 5)
    val trainId = (0L until 500L).find(bucket(_) < 5).get
    val probeId = (0L until 20L).find(id => bucket(id) >= 5 && id != trainId).get
    val toy = Seq(
      (trainId, "a b a c a b"),   // model: a-b ×2, b-a, a-c, c-a
      (probeId, "a b z q b"))     // a-b seen; b-z unseen cont (p=0 via
                                  // pcont(z)=0... z never continues);
                                  // z-q unseen HISTORY; q-b backoff
    val got = graft.operators.TextAnalysis
      .knBigramScore(toy.toDF("doc_id", "text"), nProbe = 20, trainLt = 5)
      .collect().map(r => r.getLong(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val expect = knReplay(toy, nProbe = 20, trainLt = 5)
    assert(got == expect, s"toy mismatch: got $got, want $expect")
    val (nb, nh, nz, su) = got(probeId)
    assert(nb == 4 && nh == 1, s"probe must hit exactly a-b: $nb/$nh")
    assert(nz > 0, "unseen-continuation bigrams must score exactly 0")
    assert(su > 0, "the hit + backoff mass must be positive")
    // KN is a proper distribution: Σ_w2 P(w2|w1) over the FULL vocab =
    // 1; the integer-micro replay over observed continuations must
    // stay below unity (floor divisions only lose mass)
    val ts = "a b a c a b".split(" ")
    val pairs = ts.sliding(2).map(a => (a(0), a(1))).toSeq
    val vocab = ts.distinct
    val big = pairs.groupBy(identity).map { case (p, o) => p -> o.size.toLong }
    val c1a = pairs.count(_._1 == "a").toLong
    val n1pFa = big.keys.count(_._1 == "a").toLong
    val np = big.size.toLong
    val mass = vocab.map { w2 =>
      val pcont = big.keys.count(_._2 == w2).toLong * 1000000L / np
      val t1 = big.get(("a", w2))
        .map(c => (4 * c - 3) * 1000000L / (4 * c1a)).getOrElse(0L)
      t1 + (3 * n1pFa * 1000000L / (4 * c1a)) * pcont / 1000000L
    }.sum
    assert(mass <= 1000000L, s"P(·|a) exceeded unity: $mass")
    assert(mass > 900000L, s"P(·|a) lost too much mass: $mass")
  }

  /** Driver replay of [[TextAnalysis.knTrigramScore]]'s exact
    * integer-micro recursion — trigram → continuation-count bigram →
    * continuation unigram, same floor divisions at every order.
    * Returns per probe doc (n_trigrams, n_hit, n_bo2, n_zero, score_u).
    */
  private def kn3Replay(rows: Seq[(Long, String)], nProbe: Int,
      trainLt: Int): Map[Long, (Long, Long, Long, Long, Long)] = {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    val tg = rows.map { case (id, t) =>
      val ts = t.toLowerCase.split("\\s+").filter(_.nonEmpty)
      id -> (if (ts.length >= 3)
               ts.sliding(3).map(a => (a(0), a(1), a(2))).toSeq
             else Seq.empty[(String, String, String)])
    }
    val tri = tg.filter(t => bucket(t._1) < trainLt).flatMap(_._2)
      .groupBy(identity).map { case (t, os) => t -> os.size.toLong }
    val c12dot = tri.groupBy(t => (t._1._1, t._1._2))
      .map { case (h, ts) => h -> ts.values.sum }
    val n1p12 = tri.groupBy(t => (t._1._1, t._1._2))
      .map { case (h, ts) => h -> ts.size.toLong }
    val cc = tri.keys.groupBy(t => (t._2, t._3))
      .map { case (p, w1s) => p -> w1s.size.toLong } // N1+(·w2w3)
    val ccdot2 = cc.groupBy(_._1._1).map { case (w, ps) => w -> ps.values.sum }
    val n1p2f = cc.groupBy(_._1._1).map { case (w, ps) => w -> ps.size.toLong }
    val n1p3b = cc.groupBy(_._1._2).map { case (w, ps) => w -> ps.size.toLong }
    val nbb = cc.size.toLong
    tg.filter(_._1 < nProbe).map { case (id, ts) =>
      val pus = ts.map { case (w1, w2, w3) =>
        val p1 = n1p3b.get(w3).map(_ * 1000000L / nbb).getOrElse(0L)
        val p2 = ccdot2.get(w2) match {
          case Some(cd) =>
            val t2 = cc.get((w2, w3))
              .map(c => (4 * c - 3) * 1000000L / (4 * cd)).getOrElse(0L)
            t2 + (3 * n1p2f(w2) * 1000000L / (4 * cd)) * p1 / 1000000L
          case None => p1
        }
        val hist = c12dot.get((w1, w2))
        val pu = hist match {
          case Some(cd) =>
            val t3 = tri.get((w1, w2, w3))
              .map(c => (4 * c - 3) * 1000000L / (4 * cd)).getOrElse(0L)
            t3 + (3 * n1p12((w1, w2)) * 1000000L / (4 * cd)) * p2 / 1000000L
          case None => p2
        }
        (tri.contains((w1, w2, w3)), hist.isEmpty, pu)
      }
      id -> (ts.size.toLong, pus.count(_._1).toLong, pus.count(_._2).toLong,
        pus.count(_._3 == 0L).toLong, pus.map(_._3).sum)
    }.toMap
  }

  test("trigram Kneser-Ney: fixture replay exact; both backoff levels live in the gated output") {
    val got = graft.queries.TextQueries
      .queries("text_kneser_ney3")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = kn3Replay(rows, nProbe = 20, trainLt = 5)
    val probeIds = rows.map(_._1).filter(_ < 20)
    assert(got.keySet == probeIds.toSet)
    probeIds.foreach { id =>
      val e = expect.getOrElse(id, (0L, 0L, 0L, 0L, 0L))
      assert(got(id) == e, s"doc $id: got ${got(id)}, want $e")
    }
    // the held-out probes genuinely exercise the recursion: unseen
    // trigrams exist AND unseen trigram HISTORIES exist (the level-2
    // backoff fires), so the gate covers more than the hit path
    assert(got.values.exists(v => v._2 < v._1),
      "every probe trigram was seen — the smoothing gate is vacuous")
    assert(got.values.exists(_._3 > 0L),
      "no probe trigram ever backed off past its history — level-2 dead")
  }

  /** Order-n generalization of [[kn3Replay]] — exact integer replay of
    * TextAnalysis.knNgramScored (same tokenizer, slice, continuation
    * chain, d = 3/4 interpolation in Long arithmetic). Returns per doc
    * (n_ngrams, n_hit, n_bo2, n_zero, score_u).
    */
  private def knNReplay(rows: Seq[(Long, String)], order: Int, nProbe: Long,
      trainLt: Int): Map[Long, (Long, Long, Long, Long, Long)] = {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    val gr = rows.map { case (id, t) =>
      val ts = t.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      id -> (if (ts.length >= order) ts.sliding(order).map(_.toVector).toSeq
             else Seq.empty[Vector[String]])
    }
    val cnt = gr.filter(g => bucket(g._1) < trainLt).flatMap(_._2)
      .groupBy(identity).map { case (g, os) => g -> os.size.toLong }
    val cdot = cnt.groupBy(_._1.init).map { case (h, m) => h -> m.values.sum }
    val n1p = cnt.groupBy(_._1.init).map { case (h, m) => h -> m.size.toLong }
    var ccs = Map.empty[Int, Map[Vector[String], Long]]
    var cur: Iterable[Vector[String]] = cnt.keys
    ((order - 1) to 2 by -1).foreach { k =>
      val cck = cur.groupBy(_.takeRight(k))
        .map { case (sfx, vs) => sfx -> vs.size.toLong }
      ccs += k -> cck
      cur = cck.keys
    }
    val ccdot = ccs.map { case (k, m) =>
      k -> m.groupBy(_._1.init).map { case (h, mm) => h -> mm.values.sum } }
    val n1pf = ccs.map { case (k, m) =>
      k -> m.groupBy(_._1.init).map { case (h, mm) => h -> mm.size.toLong } }
    val cu = ccs(2).keys.groupBy(_.last)
      .map { case (w, vs) => w -> vs.size.toLong }
    val nbb = ccs(2).size.toLong
    gr.filter(_._1 < nProbe).map { case (id, gs) =>
      val pus = gs.map { g =>
        var p = cu.get(g.last).map(_ * 1000000L / nbb).getOrElse(0L)
        (2 until order).foreach { k =>
          val key = g.takeRight(k)
          ccdot(k).get(key.init).foreach { cd =>
            val t0 = ccs(k).get(key)
              .map(c => (4 * c - 3) * 1000000L / (4 * cd)).getOrElse(0L)
            p = t0 + (3 * n1pf(k)(key.init) * 1000000L / (4 * cd)) * p / 1000000L
          }
        }
        val hist = cdot.get(g.init)
        val pu = hist match {
          case Some(cd) =>
            val t0 = cnt.get(g)
              .map(c => (4 * c - 3) * 1000000L / (4 * cd)).getOrElse(0L)
            t0 + (3 * n1p(g.init) * 1000000L / (4 * cd)) * p / 1000000L
          case None => p
        }
        (cnt.contains(g), hist.isEmpty, pu)
      }
      id -> (gs.size.toLong, pus.count(_._1).toLong, pus.count(_._2).toLong,
        pus.count(_._3 == 0L).toLong, pus.map(_._3).sum)
    }.toMap
  }

  test("5-gram Kneser-Ney: fixture replay exact; top backoff live") {
    val got = graft.queries.TextQueries
      .queries("text_kneser_ney5")(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val rows = Tables.documents(spark, sf).select("doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
    val expect = knNReplay(rows, order = 5, nProbe = 20, trainLt = 5)
    val probeIds = rows.map(_._1).filter(_ < 20)
    assert(got.keySet == probeIds.toSet)
    probeIds.foreach { id =>
      val e = expect.getOrElse(id, (0L, 0L, 0L, 0L, 0L))
      assert(got(id) == e, s"doc $id: got ${got(id)}, want $e")
    }
    assert(got.values.exists(_._3 > 0L),
      "no probe 5-gram ever backed off past its history — the chain is dead")
    // the generic replay reproduces kn3Replay at order 3 (the factored
    // recursion collapses to the shipped trigram form)
    assert(knNReplay(rows, 3, 20, 5) == kn3Replay(rows, 20, 5))
  }

  test("n-gram Kneser-Ney: designed toy pins every backoff level at orders 3, 4, 5") {
    import spark.implicits._
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    // train doc OUTSIDE the probe range; probes held out of the slice
    val trainId = (20L until 500L).find(bucket(_) < 5).get
    val probeIds = (0L until 20L).filter(bucket(_) >= 5).take(7)
    assert(probeIds.size == 7)
    val texts = Seq(
      "p q r s t", // top-level hit
      "p q r s u", // top history seen, gram unseen (discount-zero) +
                   // level-4 context-seen/gram-unseen
      "z q r s t", // top backoff → level-4 hit
      "z z r s t", // level-4 backoff → level-3 hit
      "z z z s t", // level-3 backoff → level-2 hit
      "z z z z t", // level-2 backoff → continuation-unigram hit
      "z z z z z") // bottom miss → score 0
    val toy = (trainId, "p q r s t u") +: probeIds.zip(texts)
    val df = toy.toDF("doc_id", "text")
    Seq(3, 4, 5).foreach { order =>
      val got = graft.operators.TextAnalysis
        .knNgramScored(df, order, trainLt = 5, nProbe = Some(20))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
          r.getLong(3), r.getLong(4), r.getLong(5))).toMap
      val expect = knNReplay(toy, order, nProbe = 20, trainLt = 5)
      probeIds.foreach { id =>
        val e = expect.getOrElse(id, (0L, 0L, 0L, 0L, 0L))
        assert(got(id) == e, s"order $order doc $id: got ${got(id)}, want $e")
      }
    }
    // order-5 branch matrix: each extra backoff level strictly loses
    // probability mass, the top hit keeps the most, the all-unseen
    // probe scores exactly zero
    val s5 = probeIds.zip(texts).map { case (id, _) =>
      knNReplay(toy, 5, 20, 5)(id) }
    val scores = s5.map(_._5)
    assert(scores(0) > scores(2) && scores(2) > scores(3) &&
      scores(3) > scores(4) && scores(4) > scores(5) && scores(5) > 0L &&
      scores(6) == 0L,
      s"backoff ladder not strictly mass-ordered: $scores")
    assert(s5(0)._2 == 1L, "top hit did not register as a hit")
    assert(s5(1)._2 == 0L && s5(1)._3 == 0L && scores(1) > 0L,
      "discount-zero path: history seen, gram unseen, mass via lambda only")
    assert(s5(2)._3 == 1L, "top backoff did not register in n_bo2")
    assert(s5(6)._4 == 1L, "all-unseen probe did not register n_zero")
  }

  test("trigram ppl buckets: whole-corpus KN tertiles replay; head carries more mass than tail") {
    val got = graft.queries.TextQueries
      .queries("text_ppl_buckets3")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2),
        r.getLong(3), r.getString(4)))
    val rows = Tables.documents(spark, sf).select("doc_id", "text", "lang")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    val kn = kn3Replay(rows.toSeq.map(r => (r._1, r._2)), nProbe = Int.MaxValue,
      trainLt = 5)
    // score_n = score_u DIV n_trigrams, then the exact DESCENDING
    // order-statistic boundaries (ranks ⌈n/3⌉ and n − n/3 — ntile's
    // tile sizes) with comparison bucketing: boundary-score ties
    // share a bucket
    val scored = rows.map { case (id, _, lang) =>
      val (nt, _, _, _, su) = kn.getOrElse(id, (0L, 0L, 0L, 0L, 0L))
      (id, lang, nt, if (nt == 0L) 0L else su / nt)
    }
    val expect = scored.groupBy(_._2).toSeq.flatMap { case (_, ds) =>
      val sorted = ds.sortBy(d => (-d._4, d._1))
      val n = sorted.length
      val b1 = sorted((n + 2) / 3 - 1)._4
      val b2 = sorted(n - n / 3 - 1)._4
      sorted.map { case (id, lang, nt, sn) =>
        val bucket = if (sn >= b1) "head" else if (sn >= b2) "middle"
          else "tail"
        (id, lang, nt, sn, bucket)
      }
    }.sortBy(_._1)
    assert(got.toSeq == expect,
      s"tertile replay mismatch (first got=${got.take(3).toSeq}, want=${expect.take(3)})")
    // the buckets are genuinely mass-ordered: per lang, every head doc
    // scores at least every tail doc
    got.groupBy(_._2).foreach { case (lang, ds) =>
      val head = ds.filter(_._5 == "head").map(_._4)
      val tail = ds.filter(_._5 == "tail").map(_._4)
      assert(head.nonEmpty && tail.nonEmpty, s"$lang: degenerate tertiles")
      assert(head.min >= tail.max, s"$lang: head does not dominate tail")
    }
  }

  test("trigram Kneser-Ney: all backoff branches on a designed toy; mass below unity") {
    def bucket(id: Long): Long = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(md.take(4).map("%02x".format(_)).mkString, 16) % 100
    }
    val trainId = (0L until 500L).find(bucket(_) < 5).get
    val probeId = (0L until 20L).find(id => bucket(id) >= 5 && id != trainId).get
    // train trigrams: abc×2, bca, cab, abd, bda, dab
    // probe exercises: (a,b,c) hit; (b,c,z) seen history + unseen
    // trigram whose p2 also zeroes (z never continues anything);
    // (c,z,b) unseen history + unseen middle context → DOUBLE backoff
    // to the continuation unigram (positive); (z,b,c) unseen history →
    // level-2 with a cc hit; (q,q,z) fully unseen → exact 0
    val toy = Seq(
      (trainId, "a b c a b d a b c"),
      (probeId, "a b c z b c q q z"))
    val got = graft.operators.TextAnalysis
      .knTrigramScore(toy.toDF("doc_id", "text"), nProbe = 20, trainLt = 5)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4), r.getLong(5))).toMap
    val expect = kn3Replay(toy, nProbe = 20, trainLt = 5)
    assert(got == expect, s"toy mismatch: got $got, want $expect")
    val (nt, nh, nb2, nz, su) = got(probeId)
    assert(nt == 7 && nh == 1, s"probe must hit exactly a-b-c: $nt/$nh")
    assert(nb2 >= 2, s"unseen trigram histories must fire level-2: $nb2")
    assert(nz > 0, "a fully-unseen trigram must score exactly 0")
    assert(su > 0, "the hit + backoff mass must be positive")
    // the double-backoff path specifically must carry POSITIVE mass:
    // (c,z,b) reaches the continuation unigram P(b) = N1+(·b)/N1+(··)
    val nzExpected = kn3Replay(toy, nProbe = 20, trainLt = 5)(probeId)._4
    assert(nzExpected < nb2 + (nt - nh),
      "every backed-off trigram floored to 0 — the recursion is dead weight")
    // KN stays a (sub-)distribution under integer floors: for the seen
    // history (a, b), Σ_w3 P(w3|a,b) over the full vocab ≤ 1e6
    val ts = "a b c a b d a b c".split(" ")
    val tri = ts.sliding(3).map(a => (a(0), a(1), a(2))).toSeq
      .groupBy(identity).map { case (t, o) => t -> o.size.toLong }
    val cc = tri.keys.groupBy(t => (t._2, t._3))
      .map { case (p, w1s) => p -> w1s.size.toLong }
    val nbb = cc.size.toLong
    val vocab = (ts ++ Seq("z", "q")).distinct
    val cdAB = tri.collect { case (t, c) if t._1 == "a" && t._2 == "b" => c }.sum
    val n12AB = tri.keys.count(t => t._1 == "a" && t._2 == "b").toLong
    val mass = vocab.map { w3 =>
      val p1 = cc.keys.count(_._2 == w3).toLong * 1000000L / nbb
      val p2 = cc.get(("b", w3)) match {
        case Some(c) =>
          val cd = cc.collect { case (p, c2) if p._1 == "b" => c2 }.sum
          val nf = cc.keys.count(_._1 == "b").toLong
          (4 * c - 3) * 1000000L / (4 * cd) +
            (3 * nf * 1000000L / (4 * cd)) * p1 / 1000000L
        case None =>
          val cd = cc.collect { case (p, c2) if p._1 == "b" => c2 }.sum
          if (cd > 0) {
            val nf = cc.keys.count(_._1 == "b").toLong
            (3 * nf * 1000000L / (4 * cd)) * p1 / 1000000L
          } else p1
      }
      val t3 = tri.get(("a", "b", w3))
        .map(c => (4 * c - 3) * 1000000L / (4 * cdAB)).getOrElse(0L)
      t3 + (3 * n12AB * 1000000L / (4 * cdAB)) * p2 / 1000000L
    }.sum
    assert(mass <= 1000000L, s"P(·|a,b) exceeded unity: $mass")
    assert(mass > 800000L, s"P(·|a,b) lost too much mass: $mass")
  }
}
