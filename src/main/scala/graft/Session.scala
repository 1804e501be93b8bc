package graft

import org.apache.spark.sql.SparkSession

/** The one session policy of every process the engine starts — Bench,
  * Verify, the reference pipeline, the tools and the test suites. Each
  * caller chains only what it needs on top, then `getOrCreate()`s.
  *
  *  - `local[cpus]` with one shuffle partition per core, where `cpus` is
  *    `SPARK_GRAFT_CPUS` (default 4);
  *  - session timezone UTC, so timestamp results match the oracle on any
  *    host;
  *  - no UI;
  *  - events.parquet carries TIMESTAMP(NANOS), unsupported by the
  *    vectorized reader; read as BIGINT nanos (Tables.events normalizes).
  */
object Session {
  def builder(): SparkSession.Builder = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
  }
}
