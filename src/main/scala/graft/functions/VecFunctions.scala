package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Vector / distance column kernels (SURVEY §2.6 F1-F3).
  *
  * The reference duplicates a 2-D Euclidean distance in two files
  * (mapper.py:19-27, master.py:305-313) and wastes a sqrt by re-squaring
  * for the argmin (mapper.py:42 — `pow(getDistance(p,c), 2)`). We compare
  * squared distances directly (monotone-equivalent; also what MLlib does)
  * and generalize to n dimensions with built-in higher-order functions —
  * no UDFs, so everything stays inside Catalyst.
  *
  * Note on determinism: these expressions are written so the DuckDB oracle
  * can evaluate the *same* arithmetic in the *same* order, making per-row
  * results bit-identical across engines (SURVEY §7.5 float-determinism
  * risk).
  */
object VecFunctions {

  /** Squared Euclidean distance in 2-D: `(x-cx)² + (y-cy)²` as
    * multiplications (not `pow`, whose libm implementation could differ
    * across engines). Fully codegen'd.
    */
  def distSq2(x: Column, y: Column, cx: Column, cy: Column): Column =
    (x - cx) * (x - cx) + (y - cy) * (y - cy)

  /** 1-D squared difference (sequential-kmeans.py:24). */
  def distSq1(x: Column, c: Column): Column = (x - c) * (x - c)

  /** n-dim squared Euclidean distance over two `ArrayType(Double)` columns
    * via `zip_with` + `aggregate` — left-to-right fold, deterministic
    * summation order.
    */
  def distSqN(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (p, q) => (p - q) * (p - q)), lit(0.0), (acc, v) => acc + v)

  /** Cast a float array (parquet `ARRAY<FLOAT>`) to a double array so all
    * arithmetic runs in float64 on both engines.
    */
  def toDoubleArray(a: Column): Column = transform(a, x => x.cast("double"))

  /** Unrolled fixed-dim dot product in DuckDB SQL: `a[1]*b[1] + a[2]*b[2]
    * + …` with left-associative addition (1-indexed lists both sides).
    */
  def dotUnrolledSql(a: String, b: String, dim: Int): String =
    (1 to dim).map(i => s"$a[$i]*$b[$i]").mkString(" + ")
}
