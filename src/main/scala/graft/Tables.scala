package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fixture-table loaders (TESTDATA.md / FIXTURES.md §B).
  *
  * All engine inputs come from the driver-generated parquet under a
  * scale-factor directory. Column pruning + predicate pushdown reach the
  * parquet scan because every loader returns the raw `DataFrame` and
  * callers select/filter declaratively.
  */
object Tables {
  /** Per-session relation memo (optimization round 19, guide §6): a
    * bare `spark.read.parquet` re-lists the directory and re-reads the
    * parquet footer schema on EVERY call — measured 66–87 ms per call
    * at sf0.1 (OPTIMIZATION_r19.md) vs ~2 ms to reuse the loaded
    * relation. Across a 292-query bench pass (~2 fixture tables per
    * query, cold + warm) that is tens of seconds of pure metadata
    * re-reading. Production Spark gets this for free from the catalog
    * (a metastore table resolves to a cached relation; the guide's
    * filesource partition-file cache is the same idea) — this memo is
    * that catalog equivalent for the fixture dirs. It holds ONLY the
    * lazy relation (schema + file index): no data, no results — every
    * query still scans parquet for every row it reads. Keyed weakly on
    * the session so test sessions don't leak; fixture files are
    * immutable per scale dir. StagedLayouts' artifacts are immutable
    * too once built (no staged path is written outside its build), but
    * their readers do not go through this loader.
    */
  private val relMemo =
    new java.util.WeakHashMap[SparkSession,
      java.util.concurrent.ConcurrentHashMap[String, DataFrame]]()

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val m = relMemo.synchronized {
      var mm = relMemo.get(spark)
      if (mm == null) {
        mm = new java.util.concurrent.ConcurrentHashMap[String, DataFrame]()
        relMemo.put(spark, mm)
      }
      mm
    }
    m.computeIfAbsent(s"$sfDir/$name.parquet",
      p => spark.read.parquet(p))
  }

  def lineitem(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "lineitem")
  def orders(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "orders")
  def customer(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "customer")
  def supplier(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "supplier")
  def nation(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "nation")
  def region(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "region")
  def part(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "part")
  /** events.parquet has shipped `ts` in three physical forms across
    * driver testdata generations:
    *  - TIMESTAMP(NANOS): rejected by the vectorized reader unless
    *    `spark.sql.legacy.parquet.nanosAsLong=true` (set in Verify/Bench/
    *    tests) makes it BIGINT nanoseconds;
    *  - timestamp[us] with isAdjustedToUTC=false: reads as TIMESTAMP_NTZ
    *    (which `unix_micros` rejects — round-8 bench regression);
    *  - plain TIMESTAMP.
    * [[normalizeEvents]] maps all three to the same contract every query
    * depends on: `ts TIMESTAMP` (micros) + `ts_ns BIGINT` (epoch nanos).
    * The session timezone is UTC everywhere, so the NTZ→TIMESTAMP cast is
    * the identity on the stored micros and matches DuckDB's naive read.
    */
  def normalizeEvents(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns DIV 1000")))
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
      case _ =>
        raw.withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
    }
  }

  def events(spark: SparkSession, sfDir: String): DataFrame =
    normalizeEvents(table(spark, sfDir, "events"))
  def documents(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "documents")
  def embeddings(spark: SparkSession, sfDir: String): DataFrame = table(spark, sfDir, "embeddings")

  /** The engine's 2-D point table (reference `points.txt`, FIXTURES.md §A;
    * parsed at mapper.py:90-93). Derived from lineitem per SURVEY §7.1:
    * `(x, y) = (l_extendedprice, l_quantity)`, key = (l_orderkey,
    * l_linenumber) (unique). Only 4 columns are read — Catalyst prunes the
    * rest out of the parquet scan.
    */
  def points2d(spark: SparkSession, sfDir: String): DataFrame =
    lineitem(spark, sfDir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_extendedprice").as("x"),
      col("l_quantity").as("y"))

  /** 1-D point table (reference `sequential-kmeans.py:70-77` uses scalar
    * points; our distance kernel must be dimension-generic, SURVEY §1.1).
    */
  def points1d(spark: SparkSession, sfDir: String): DataFrame =
    lineitem(spark, sfDir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      col("l_quantity").as("x"))
}
