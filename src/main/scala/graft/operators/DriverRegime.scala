package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types.{DataType, StructField, StructType}

/** The small-graph gate of the iterative graph operators. Each of them
  * has two regimes that return the same rows: the distributed round
  * loop (the 100-TB shape, one shuffle per round) and a driver replay
  * of the identical rounds over the collected edge list, which skips
  * the per-round job floor when the graph fits in driver memory.
  * This object decides between them in one place: a fixed threshold of
  * [[MaxRows]] pulled rows and one session switch, `spark.graft.driverRegime`
  * (default true; false forces every operator onto its distributed
  * loop — the specs' `withDistributed` and the forced-distributed
  * oracle sweep). Each operator keeps its own replay and its own
  * LongType preconditions.
  */
object DriverRegime {

  /** Rows a replay may pull: 2M pairs ≈ 32 MB of longs. */
  val MaxRows: Long = 2000000L

  val Switch = "spark.graft.driverRegime"

  def enabled(s: SparkSession): Boolean =
    s.conf.getOption(Switch).forall(_.trim.toBoolean)

  /** The count-based gate: `rows` is evaluated only when the switch is on. */
  def fits(s: SparkSession, rows: => Long): Boolean =
    enabled(s) && rows <= MaxRows

  /** All rows of `df` when the switch is on and it has at most `cap`
    * rows, else None. ONE incremental `take(cap + 1)` instead of
    * count + collect: the frame's subtree runs once, and an
    * over-threshold frame stops at the cap.
    */
  def pull(df: DataFrame, cap: Long = MaxRows): Option[Array[Row]] =
    if (!enabled(df.sparkSession)) None
    else {
      val rows = df.take(math.min(cap, Int.MaxValue.toLong - 1).toInt + 1)
      if (rows.length > cap) None else Some(rows)
    }

  /** A non-nullable schema of the given (name, type) columns. */
  def schema(cols: (String, DataType)*): StructType =
    StructType(cols.map { case (n, t) => StructField(n, t, false) })

  /** A replay's result rows as a frame, one slice per 4096 rows up to
    * the default parallelism.
    */
  def frame(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val slices = math.max(1, math.min(
      s.sparkContext.defaultParallelism, rows.length / 4096 + 1))
    s.createDataFrame(s.sparkContext.parallelize(rows, slices), schema)
  }
}
