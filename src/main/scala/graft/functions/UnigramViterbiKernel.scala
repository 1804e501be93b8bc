package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{GenericArrayData, MapData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Viterbi segmentation kernel for the unigram LM (optimization
  * round 19, guide §1.2 step 2 / §4.1).
  *
  * Replaces the `aggregate(sequence(...), …)` HOF pair
  * (`UnigramLm.dpArray` + `segments`): those lambdas never codegen,
  * every `element_at(mapLiteral, key)` lookup is an O(|vocab|) linear
  * scan of the MapData, and the ~1,000-node lambda tree re-paid
  * Catalyst analysis/optimization on every EM action — each emCount
  * measured a flat ~1.4 s at sf0.1, ≈0.3 s of it tasks
  * (OPTIMIZATION_r19.md). This expression is ONE tree node evaluating
  * the identical DP as a tight JVM loop with a hashed vocab table.
  *
  * EXACT-replication contract (the DuckDB oracle replays the HOF
  * semantics, so every branch below mirrors `dpArray`/`segments`
  * including the null edge cases):
  *  - dp[0] = (1.0, −1); position i takes candidates l = 1..maxPiece
  *    in order, candidate VALID iff j = i−l ≥ 0 and word[j+1..i] is in
  *    the map;
  *  - candidate score = dp[j].score · w (null if dp[j] is null or its
  *    score is null — a mid-word unreachable position);
  *  - `when(b.score > a.score, b).otherwise(a)`: a later candidate
  *    wins only when BOTH scores are non-null and strictly greater —
  *    the first valid candidate wins ties and null-score comparisons;
  *  - dp[i] is null when no candidate is valid;
  *  - the backward walk steps pos → dp[pos].j, collecting substrings;
  *    a null dp entry (null j) freezes the state for the remaining
  *    steps — the accumulated suffix is returned as-is;
  *  - scores are the same IEEE doubles multiplied in the same order.
  *
  * The map child may be a LITERAL (fit/encode: hashed once per
  * operator) or a per-row column (the broadcast-table encode's
  * `map_from_entries`: hashed per row — still far cheaper than
  * 4·|word| linear scans). Evaluation is a per-row JVM loop, so the
  * expression is CodegenFallback; the surrounding projection loses
  * whole-stage codegen, which measurement shows is noise next to the
  * lambda-tree planning it removes.
  */
case class UnigramViterbiSegments(word: Expression, wmap: Expression,
    maxPiece: Int) extends BinaryExpression with CodegenFallback {
  override def left: Expression = word
  override def right: Expression = wmap
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def prettyName: String = "graft_unigram_viterbi"

  @transient private lazy val litTable: java.util.HashMap[UTF8String, java.lang.Double] = {
    val m = wmap.eval(null).asInstanceOf[MapData]
    toTable(m)
  }

  private def toTable(m: MapData): java.util.HashMap[UTF8String, java.lang.Double] = {
    val t = new java.util.HashMap[UTF8String, java.lang.Double](m.numElements() * 2)
    val ks = m.keyArray(); val vs = m.valueArray()
    var i = 0
    while (i < m.numElements()) {
      t.put(ks.getUTF8String(i), vs.getDouble(i))
      i += 1
    }
    t
  }

  override protected def nullSafeEval(w: Any, m: Any): Any = {
    val table =
      if (wmap.foldable) litTable
      else toTable(m.asInstanceOf[MapData])
    val word = w.asInstanceOf[UTF8String]
    val n = word.numChars()
    // dp arrays: score (null modeled by scoreNull), j (null by Int.MinValue),
    // entryNull marks a fully-null dp entry
    val score = new Array[Double](n + 1)
    val scoreNull = new Array[Boolean](n + 1)
    val entryNull = new Array[Boolean](n + 1)
    val jArr = new Array[Int](n + 1)
    score(0) = 1.0; jArr(0) = -1
    var i = 1
    while (i <= n) {
      var bestSet = false
      var bScore = 0.0; var bScoreNull = false; var bJ = 0
      var l = 1
      while (l <= maxPiece) {
        val j = i - l
        if (j >= 0) {
          val piece = word.substring(j, i)
          val wt = table.get(piece)
          if (wt != null) {
            // candidate score: null when dp[j] is null or its score is
            val cNull = entryNull(j) || scoreNull(j)
            val cScore = if (cNull) 0.0 else score(j) * wt
            val take =
              if (!bestSet) true
              else !bScoreNull && !cNull && cScore > bScore
            if (take) {
              bestSet = true; bScore = cScore; bScoreNull = cNull; bJ = j
            }
          }
        }
        l += 1
      }
      if (bestSet) {
        score(i) = bScore; scoreNull(i) = bScoreNull; jArr(i) = bJ
        entryNull(i) = false
      } else entryNull(i) = true
      i += 1
    }
    // backward walk — at most n steps; a null dp entry prepends a NULL
    // piece (word.substr(null,null)) and nulls pos, freezing the state
    // for the remaining steps — the HOF's exact behavior
    var pos = n
    var posNull = false
    var ps = List.empty[AnyRef]
    var step = 0
    while (step < n) {
      if (!posNull && pos > 0) {
        if (entryNull(pos)) { ps = (null: AnyRef) :: ps; posNull = true }
        else {
          val j = jArr(pos)
          ps = word.substring(j, pos) :: ps
          pos = j
        }
      }
      step += 1
    }
    new GenericArrayData(ps.toArray[AnyRef].asInstanceOf[Array[Any]])
  }

  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(word = l, wmap = r)
}

object UnigramViterbiKernel {
  import org.apache.spark.sql.GraftColumnBridge.{column => toCol, expression => toExpr}

  def viterbiSegments(word: Column, wmap: Column, maxPiece: Int): Column =
    toCol(UnigramViterbiSegments(toExpr(word), toExpr(wmap), maxPiece))
}
