package graft.tools

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._

/** Derives a larger scale factor from an existing fixture dir by
  * unioning N key-shifted copies of every fact table (dimension tables
  * nation/region stay as-is — their keys are global). Used for the
  * sf1.0 scale-sanity run: 10× sf0.1 ≈ sf1.0 volume with referential
  * integrity preserved per copy (all foreign keys shift together).
  *
  * Document text gets a per-copy suffix so copies are near-dups (the
  * realistic crawl shape — exercises the LSH candidate path at a high
  * dup rate) rather than exact dups; embeddings are copied verbatim
  * (distance ties break on id everywhere, so determinism holds).
  *
  * Output tables are parquet DIRECTORIES named <t>.parquet — Spark
  * reads them natively; tools/check_oracle.py globs them for DuckDB.
  *
  * Usage: runMain graft.tools.MakeScale [srcDir] [outDir] [copies]
  */
object MakeScale {
  def main(args: Array[String]): Unit = {
    val src = args.lift(0).getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("/tmp/sfdev1.0")
    val copies = args.lift(2).map(_.toInt).getOrElse(10)
    val spark = graft.Session.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val OFF = 100000000L // > every key in the source fixtures

    def write(df: DataFrame, t: String): Unit =
      df.write.mode(SaveMode.Overwrite).parquet(s"$out/$t.parquet")

    def scaled(t: String, keyCols: Seq[String],
        extra: (DataFrame, Int) => DataFrame = (d, _) => d): Unit = {
      val base = spark.read.parquet(s"$src/$t.parquet")
      val all = (0 until copies).map { i =>
        val shifted = keyCols.foldLeft(base)((d, k) =>
          d.withColumn(k, col(k) + lit(i * OFF)))
        extra(shifted, i)
      }.reduce(_ unionAll _)
      write(all, t)
    }

    // dimensions: copy verbatim (global key space)
    Seq("nation", "region").foreach(t =>
      write(spark.read.parquet(s"$src/$t.parquet"), t))

    scaled("customer", Seq("c_custkey"))
    scaled("supplier", Seq("s_suppkey"))
    scaled("part", Seq("p_partkey"))
    scaled("orders", Seq("o_orderkey", "o_custkey"))
    scaled("lineitem", Seq("l_orderkey", "l_partkey", "l_suppkey"))
    // events: ts stays BIGINT nanos (read under nanosAsLong) so the
    // streaming rawSchema keeps matching at the derived scale
    scaled("events", Seq("event_id", "user_id"))
    scaled("documents", Seq("doc_id"), (d, i) =>
      if (i == 0) d
      else {
        val sfx = s" c$i"
        d.withColumn("text", concat(col("text"), lit(sfx)))
          .withColumn("n_chars", col("n_chars") + lit(sfx.length.toLong))
      })
    scaled("embeddings", Seq("vec_id"))

    println(s"""{"scaled":"$out","copies":$copies}""")
    spark.stop()
  }
}
