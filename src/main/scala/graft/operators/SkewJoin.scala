package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Skew-mitigated equi-join via key salting (SURVEY §4 table: "salting
  * for skew"; complements AQE's runtime skew-join splitting, which only
  * fires past `spark.sql.adaptive.skewJoin` thresholds).
  *
  * Shape: the probe (large, skewed) side gets a deterministic salt in
  * [0, S) derived by hashing its row content; the build side is
  * replicated S× with every salt value. The join key becomes
  * (key, salt), so a hot key's rows spread over S reducers instead of
  * one. Result set is IDENTICAL to the plain join (each probe row meets
  * each matching build row exactly once — for its own salt replica).
  *
  * At 100 TB this is the fallback when a handful of keys carry orders of
  * magnitude more rows than the rest (e.g. a null-ish default key) and
  * the build side is too large to broadcast outright but cheap to
  * replicate S times.
  */
object SkewJoin {

  /** Inner equi-join of `left` (skewed, salted by `saltFrom` hash) with
    * `right` replicated `salts`×. Columns must be disjoint apart from
    * the join key.
    */
  def saltedInnerJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salts: Int,
      saltFrom: Seq[String]): DataFrame = {
    val salted = left.withColumn("_salt",
      pmod(hash(saltFrom.map(col): _*), lit(salts)))
    val replicated = right.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    salted.join(replicated, Seq(key, "_salt")).drop("_salt")
  }
}
