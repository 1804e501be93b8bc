package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The reference's on-disk text formats (FIXTURES.md §A), as proper Spark
  * sources/sinks — SURVEY §2.1 rows S1-S6.
  *
  * Schemas are explicit (`StructType`), never inferred (SURVEY §1.2: the
  * reference's schema is fixed and implicit; malformed lines raise). We
  * use PERMISSIVE+corrupt-column only where the reference would crash,
  * surfacing bad rows instead.
  */
object TextFormats {

  /** `points.txt` — `x,y` per line (readme.txt:15; parsed at
    * mapper.py:90-93, master.py:286-288). S1. Extra fields are silently
    * dropped by the reference (P1) — mirrored via column selection.
    */
  val pointsSchema: StructType = StructType(Seq(
    StructField("x", DoubleType, nullable = false),
    StructField("y", DoubleType, nullable = false)))

  def readPointsCsv(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(pointsSchema).option("header", "false").csv(path)
      .select(col("x"), col("y"))

  /** `centroids.txt` — `x,y` per line, row index = centroid id
    * (master.py:90-95). S4 source form: read + attach the id by line
    * position. K is tiny, so a driver-side read is the honest shape (the
    * reference holds centroids driver-side too).
    */
  def readCentroidsCsv(spark: SparkSession, path: String): Seq[graft.operators.Centroid2D] = {
    val rows = spark.read.schema(pointsSchema).csv(path).collect()
    // NOTE: row order of a single small csv file is its line order
    rows.zipWithIndex.map { case (r, i) =>
      graft.operators.Centroid2D(i, r.getDouble(0), r.getDouble(1))
    }.toSeq
  }

  /** S4 sink: truncate-then-write `x,y` lines (master.py:90-95 — its
    * delete-before-write bug at master.py:58-59 guards the remove on the
    * WRONG path; `mode("overwrite")` is the correct semantics).
    */
  def writeCentroidsCsv(spark: SparkSession, cs: Seq[graft.operators.Centroid2D], path: String): Unit = {
    import spark.implicits._
    cs.sortBy(_.cid).map(c => (c.cx, c.cy)).toDF("x", "y")
      .coalesce(1).write.mode("overwrite").option("header", "false").csv(path)
  }

  /** KV shuffle-file format `key:x,y` (mapper.py:68, parsed at
    * mapper.py:120-128). S3/S5. Spark's own shuffle replaces this
    * internally; the parser exists so a user can ingest the reference's
    * intermediate files directly.
    */
  def readKvText(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)
      .select(
        split(col("value"), ":").getItem(0).cast("int").as("key"),
        split(split(col("value"), ":").getItem(1), ",").getItem(0)
          .cast("double").as("x"),
        split(split(col("value"), ":").getItem(1), ",").getItem(1)
          .cast("double").as("y"))

  /** S5 sink twin: write `key:x,y` partition files routed by
    * r = cluster_id mod R — the *intended* semantics of
    * writeCluster2Files (mapper.py:53-74: directory `M{m}/{r}.txt`; the
    * literal code routes by enumeration index, SURVEY §3.4). Spark form:
    * `partitionBy("r")` → one directory per reducer index (`r=0/`,
    * `r=1/`, …), the exact key→file contract. (A plain
    * `repartition(R, pmod(...))` would murmur-hash the key and NOT give
    * file i = keys≡i.)
    */
  def writeKvText(assigned: DataFrame, reducerCount: Int, path: String): Unit =
    assigned
      .withColumn("r", pmod(col("cluster_id"), lit(reducerCount)))
      .select(col("r"), concat(col("cluster_id").cast("string"), lit(":"),
        col("x").cast("string"), lit(","), col("y").cast("string")).as("value"))
      .write.mode("overwrite").partitionBy("r").text(path)

  /** JSON-lines events source/sink (the interchange format ingestion
    * pipelines actually receive): explicit schema on read — no sampling
    * inference pass over a 100-TB drop — with ts carried as epoch micros
    * (JSON has no timestamp type).
    */
  val eventsJsonSchema: StructType = StructType(Seq(
    StructField("event_id", LongType),
    StructField("ts_us", LongType),
    StructField("user_id", LongType),
    StructField("event_type", StringType),
    StructField("value", DoubleType),
    StructField("props", StringType)))

  def writeEventsJsonl(events: DataFrame, path: String): Unit =
    events.select(col("event_id"), expr("ts_ns DIV 1000").as("ts_us"),
        col("user_id"), col("event_type"), col("value"), col("props"))
      .write.mode("overwrite").json(path)

  def readEventsJsonl(spark: SparkSession, path: String): DataFrame =
    spark.read.schema(eventsJsonSchema).json(path)
}
