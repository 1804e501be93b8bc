package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Temporal join operators Spark lacks natively: as-of join and banded
  * range join. The reference has no joins at all (SURVEY §2.3); these are
  * the two temporal shapes every event/market-data pipeline needs, built
  * so they scale:
  *
  *  - [[asOf]] is NOT a join at all physically: both sides are unioned
  *    and the match is a carry-forward `last(_, ignoreNulls)` window —
  *    ONE shuffle on the key, no per-row probe, no range explosion, skew
  *    bounded by the busiest key exactly like any windowed aggregation.
  *    (The naive crossJoin+filter+argmax form is quadratic per key; a
  *    sort-merge band join still re-sorts both sides. At 100 TB the
  *    union+window form is a single exchange of both inputs.)
  *
  *  - [[bandedRange]] turns the inequality `lTs <= rTs < lTs + W` into an
  *    equi-join on (key, timeBucket) by exploding each left row into the
  *    two buckets its window can span — Catalyst plans a plain hash join
  *    (broadcast or shuffled), never a nested-loop; the residual
  *    inequality filters the ≤2× candidate rows. Shuffle volume is
  *    |L|·2 + |R|, independent of window hit counts.
  */
object TemporalJoin {

  /** For each left row, the latest right row with the same key and
    * `right.tsCol <= left.tsCol` (ties at equal ts match — ">=", the
    * DuckDB ASOF default). Right rows must be unique per (keys, ts) —
    * pre-aggregate otherwise.
    *
    * @param payload right-side columns to carry onto matching left rows
    *                (null when no right row precedes the left row)
    */
  def asOf(
      left: DataFrame, right: DataFrame, keys: Seq[String],
      leftTs: String, rightTs: String, payload: Seq[String]): DataFrame = {
    val keyCols = keys.map(col)
    val pType = org.apache.spark.sql.types.StructType(
      right.select(payload.map(col): _*).schema.fields)
    val leftRest = left.columns.filterNot(c => keys.contains(c) || c == leftTs)

    // right rows sort BEFORE left rows at equal ts (side 0 < 1) → the
    // carry-forward window sees them, giving >= semantics
    val r = right.select(
      keyCols :+ col(rightTs).cast("long").as("_ts")
        :+ struct(payload.map(col): _*).as("_p")
        :+ lit(null).cast(org.apache.spark.sql.types.StructType(
          left.select(leftRest.map(col).toSeq: _*).schema.fields)).as("_l"): _*)
      .withColumn("_side", lit(0))
    val l = left.select(
      keyCols :+ col(leftTs).cast("long").as("_ts")
        :+ lit(null).cast(pType).as("_p")
        :+ struct(leftRest.map(col).toSeq: _*).as("_l"): _*)
      .withColumn("_side", lit(1))

    val w = Window.partitionBy(keyCols: _*)
      .orderBy(col("_ts"), col("_side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)

    r.unionByName(l)
      .withColumn("_m", last(col("_p"), ignoreNulls = true).over(w))
      .where(col("_side") === 1)
      .select(
        keyCols ++ Seq(col("_ts").as(leftTs)) ++
          leftRest.map(c => col(s"_l.$c").as(c)) ++
          payload.map(c => col(s"_m.$c").as(c)): _*)
  }

  /** Inner range join: left × right rows with equal key and
    * `lTs <= rTs < lTs + windowWidth` (all in the same integer unit).
    * Single-key form; the band bucketing keeps it an equi-join.
    */
  def bandedRange(
      left: DataFrame, right: DataFrame, key: String,
      leftTs: String, rightTs: String, windowWidth: Long): DataFrame = {
    val b = lit(windowWidth)
    // DIV, not `/`: Column./ is float division
    val l = left
      .withColumn("_lb", expr(s"CAST($leftTs AS BIGINT) DIV $windowWidth"))
      .withColumn("_jb", explode(array(col("_lb"), col("_lb") + 1)))
      .drop("_lb")
    val r = right
      .withColumn("_jb", expr(s"CAST($rightTs AS BIGINT) DIV $windowWidth"))
      .withColumnRenamed(key, "_rkey")
    l.join(r, l(key) === r("_rkey") && l("_jb") === r("_jb"))
      .where(col(rightTs) >= col(leftTs) && col(rightTs) < col(leftTs) + b)
      .drop("_jb").drop("_rkey")
  }
}
