package graft.streaming

import org.apache.spark.sql.{Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Streaming ingest for the VECTOR side of the engine — continuous
  * semantic dedup of an arriving embedding corpus, the curation loop a
  * production training-data pipeline runs forever: vectors land in
  * batches, each batch is clustered and scored against the standing
  * index, and the store + drop set advance without ever re-scoring
  * history.
  *
  * Why this is sound as a STREAM: SemDeDup's keep-farthest drop rule is
  * order-free and drops accumulate monotonically
  * (Similarity.semDedupIngest scaladoc — IncrementalSpec pins
  * batch-split associativity), so the final state equals the
  * whole-corpus batch recompute REGARDLESS of micro-batch boundaries —
  * the registered query's oracle is literally `dedup_semantic`'s
  * whole-corpus SQL. State lives as copy-on-write parquet versions with
  * an atomic current-pointer flip and vacuum (the
  * EventStream.upsertServing contract); per batch the work is ONE
  * batch-touching pair pass (cell-bucketed, Σ over touched cells only),
  * never store×store.
  */
object VectorStream {

  /** Run the continuous SemDeDup ingest over the embedding parquet
    * files in `srcDir` (file-source micro-batches, AvailableNow).
    * Returns (final store dir (cell, vec_id, v, nrm), final drops dir
    * (vec_id), non-empty micro-batch count) — callers assert batches
    * ≥ 2 to prove the ingest really ran incrementally.
    */
  def semDedupServing(spark: SparkSession, srcDir: String, stateRoot: String,
      checkpointDir: String, tau: Double,
      maxFilesPerTrigger: Int = 1): (String, String, Int) = {
    val cells = graft.operators.TrainedIvfCentroids.cells
    val curStore = new java.util.concurrent.atomic.AtomicReference[String](null)
    val curDrops = new java.util.concurrent.atomic.AtomicReference[String](null)
    val version = new java.util.concurrent.atomic.AtomicInteger(0)
    val schema = spark.read.parquet(srcDir).schema
    val reader = spark.readStream.schema(schema)
    val stream = (if (maxFilesPerTrigger > 0)
      reader.option("maxFilesPerTrigger", maxFilesPerTrigger)
    else reader).parquet(srcDir)
    val q = stream.writeStream
      .outputMode(org.apache.spark.sql.streaming.OutputMode.Update())
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: Dataset[Row], _: Long) =>
        val celled = graft.operators.Similarity.ivfAssignBroadcast(
          batch.select(col("vec_id"),
            graft.functions.VecFunctions.toDoubleArray(col("embedding"))
              .as("v")),
          cells)
        val store = Option(curStore.get()) match {
          case Some(d) => spark.read.parquet(d)
          case None => celled.limit(0)
        }
        val drops = Option(curDrops.get()) match {
          case Some(d) => spark.read.parquet(d)
          case None => celled.select(col("vec_id")).limit(0)
        }
        // one batch-touching pair pass: kept(store ∪ batch) under the
        // accumulated drops — store×store never re-scores
        val kept = graft.operators.Similarity
          .semDedupIngest(store, celled, drops, cells, tau)
        val newStore = store.unionByName(celled).localCheckpoint(true)
        val newDrops = newStore.select(col("vec_id"))
          .join(kept.select(col("vec_id")), Seq("vec_id"), "left_anti")
        val v = version.incrementAndGet()
        val (sOut, dOut) = (s"$stateRoot/store_v$v", s"$stateRoot/drops_v$v")
        newStore.write.mode("overwrite").parquet(sOut)
        newDrops.write.mode("overwrite").parquet(dOut)
        val (ps, pd) = (curStore.getAndSet(sOut), curDrops.getAndSet(dOut))
        if (ps != null) deleteTree(ps) // vacuum the superseded version
        if (pd != null) deleteTree(pd)
        ()
      }
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    (curStore.get(), curDrops.get(),
      q.recentProgress.count(_.numInputRows > 0))
  }

  private def deleteTree(dir: String): Unit = {
    val p = java.nio.file.Paths.get(dir)
    if (java.nio.file.Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.walk(p).iterator().asScala.toSeq
        .sortBy(-_.getNameCount)
        .foreach(f => java.nio.file.Files.deleteIfExists(f))
    }
  }
}
