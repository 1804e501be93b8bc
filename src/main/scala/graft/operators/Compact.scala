package graft.operators

import org.apache.spark.sql.{SaveMode, SparkSession}

/** Small-file compaction — the operational pass every long-lived 100-TB
  * table needs: streaming sinks and fine-grained ingestion leave
  * thousands of KB-scale files per partition, and each file costs a scan
  * task + a namenode entry + a footer read. Compaction rewrites a
  * dataset into ~`targetBytes` files sized from the ACTUAL input bytes
  * (not row counts, which misestimate wide/narrow rows).
  *
  * Shape: one round-robin repartition to ceil(bytes/target) — a single
  * full shuffle, embarrassingly parallel, no driver materialization.
  * (Sort-based clustering compaction would `repartitionByRange` on a
  * key instead; same cost model.)
  */
object Compact {

  final case class CompactStats(
      inFiles: Int, inBytes: Long, outFiles: Int, rows: Long)

  /** Total size and count of the data files under a parquet dataset. */
  def datasetFiles(dir: String): (Int, Long) = {
    val fs = new java.io.File(dir)
    val files = Option(fs.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isFile && f.getName.endsWith(".parquet"))
    (files.length, files.map(_.length()).sum)
  }

  /** Compact `inDir` (parquet) into `outDir` targeting `targetBytes`
    * per output file (compressed-size heuristic: output compresses about
    * like input, so bytes-in / target ≈ files-out).
    */
  def compactParquet(
      spark: SparkSession, inDir: String, outDir: String,
      targetBytes: Long = 128L * 1024 * 1024): CompactStats = {
    val (nIn, bytesIn) = datasetFiles(inDir)
    val nOut = math.max(1, math.ceil(bytesIn.toDouble / targetBytes).toInt)
    val df = spark.read.parquet(inDir)
    df.repartition(nOut).write.mode(SaveMode.Overwrite).parquet(outDir)
    val rows = spark.read.parquet(outDir).count()
    val (nOutActual, _) = datasetFiles(outDir)
    CompactStats(nIn, bytesIn, nOutActual, rows)
  }
}
