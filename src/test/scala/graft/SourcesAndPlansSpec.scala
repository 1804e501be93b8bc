package graft

import org.apache.spark.sql.functions._
import graft.operators._
import graft.sources.TextFormats

/** Reference text formats (S1-S6), optimizer rule, fault tolerance. */
class SourcesAndPlansSpec extends SparkSpec {

  private def res(name: String): String =
    getClass.getResource(s"/$name").getPath

  test("points.txt csv source reads the hand-computable fixture (S1)") {
    val pts = TextFormats.readPointsCsv(spark, res("points_tiny.csv"))
    assert(pts.count() == 12)
    val r = pts.agg(min(col("x")), max(col("x"))).head()
    assert(r.getDouble(0) == 0.8 && r.getDouble(1) == 25.0)
  }

  test("tie fixture: equidistant point takes the lower centroid id") {
    // centroids from rows 2,3 of the fixture: (1,1) and (9,1); point (5,0)
    // is equidistant -> cid 0 (mapper.py:43 strict <)
    val pts = TextFormats.readPointsCsv(spark, res("points_tie.csv"))
    val cs = Seq(Centroid2D(0, 1.0, 1.0), Centroid2D(1, 9.0, 1.0))
    val out = Assign.withNearest(pts.where(col("x") === 5.0), cs).head()
    assert(out.getInt(out.fieldIndex("cluster_id")) == 0)
  }

  test("empty fixture + far centroid exercises repair (points_empty.csv)") {
    val pts = TextFormats.readPointsCsv(spark, res("points_empty.csv"))
    val cs = Seq(Centroid2D(0, 1.0, 1.0), Centroid2D(1, 500.0, 500.0))
    val assigned = Assign.withNearest(pts, cs)
    val kept = Recenter.recenter(assigned, cs, Recenter.RepairPolicy.KeepOld)
    assert(kept.find(_.cid == 1).get == Centroid2D(1, 500.0, 500.0))
  }

  test("centroid csv sink/source round-trips (S4)") {
    val tmp = java.nio.file.Files.createTempDirectory("centroids").toFile
    val cs = Seq(Centroid2D(0, 1.5, 2.5), Centroid2D(1, 3.5, 4.5))
    TextFormats.writeCentroidsCsv(spark, cs, s"$tmp/centroids")
    val back = TextFormats.readCentroidsCsv(spark, s"$tmp/centroids")
    assert(back.map(c => (c.cx, c.cy)).toSet == cs.map(c => (c.cx, c.cy)).toSet)
  }

  test("KV shuffle-file format round-trips via writeKvText/readKvText (S3/S5)") {
    val tmp = java.nio.file.Files.createTempDirectory("kv").toFile
    val pts = TextFormats.readPointsCsv(spark, res("points_tiny.csv"))
    val assigned = Assign.withNearest(pts, Seq(Centroid2D(0, 1.0, 1.0), Centroid2D(1, 9.0, 9.0)))
    TextFormats.writeKvText(assigned, reducerCount = 2, s"$tmp/kv")
    // key→file contract: every key under r=i/ satisfies key % 2 == i
    val r0 = TextFormats.readKvText(spark, s"$tmp/kv/r=0/*.txt")
    assert(r0.where(pmod(col("key"), lit(2)) =!= 0).count() == 0)
    val back = TextFormats.readKvText(spark, s"$tmp/kv/r=*/*.txt")
    assert(back.count() == 12)
    val grouped = back.groupBy("key").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val want = assigned.groupBy("cluster_id").count().collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(grouped == want)
  }

  test("FoldSquaredSqrt removes the reference's wasted sqrt (mapper.py:42)") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(plans.FoldSquaredSqrt)
    try {
      val df = Seq(4.0, 9.0, -1.0).toDF("d2")
        .select(pow(sqrt(col("d2")), 2.0).as("roundtrip"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.toLowerCase.contains("sqrt"), s"sqrt survived:\n$opt")
      val out = df.collect().map(_.getDouble(0))
      assert(out(0) == 4.0 && out(1) == 9.0 && out(2).isNaN)

      // NULL must stay NULL through the fold (pow(sqrt(null),2) is null;
      // an unguarded If would turn it into its NaN else-branch)
      val nullable = Seq(Some(4.0), None).toDF("d2")
        .select(pow(sqrt(col("d2")), 2.0).as("roundtrip"))
      val nOut = nullable.collect()
      assert(nOut(0).getDouble(0) == 4.0 && nOut(1).isNullAt(0))

      // nondeterministic children are NOT folded (the rewrite would
      // duplicate and re-evaluate them)
      val nd = spark.range(1)
        .select(pow(sqrt(rand(7)), 2.0).as("r"))
      assert(nd.queryExecution.optimizedPlan.toString.toLowerCase.contains("sqrt"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("SQL-text entry point: views + native functions work through spark.sql") {
    graft.tools.SqlRunner.register(spark, sf)
    val viaSql = spark.sql(
      """SELECT l_returnflag, count(*) AS n FROM lineitem
        |GROUP BY 1 ORDER BY 1""".stripMargin)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDf = Tables.lineitem(spark, sf).groupBy("l_returnflag").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaSql == viaDf)
    // native kernels callable from SQL text
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d")
      .collect().head.getDouble(0)
    assert(dot == 11.0)
  }

  test("FoldPowTwo strength-reduces pow(x,2) to x*x; ordering preserves the sqrt fold") {
    import spark.implicits._
    spark.experimental.extraOptimizations = Seq(plans.FoldSquaredSqrt, plans.FoldPowTwo)
    try {
      val df = Seq(3.0, -2.5).toDF("x").select(pow(col("x"), 2.0).as("sq"))
      val opt = df.queryExecution.optimizedPlan.toString
      assert(!opt.toUpperCase.contains("POWER"), s"pow survived:\n$opt")
      assert(df.collect().map(_.getDouble(0)).toSeq == Seq(9.0, 6.25))
      // the sqrt-roundtrip pattern still folds all the way to x (not to
      // sqrt(x)*sqrt(x)) because FoldSquaredSqrt is applied first
      val rt = Seq(4.0).toDF("x").select(pow(sqrt(col("x")), 2.0).as("v"))
      val rtOpt = rt.queryExecution.optimizedPlan.toString.toLowerCase
      assert(!rtOpt.contains("sqrt"), s"sqrt survived the combined rules:\n$rtOpt")
      // nondeterministic children stay un-folded
      val nd = spark.range(1).select(pow(rand(7), 2.0).as("r"))
      assert(nd.queryExecution.optimizedPlan.toString.toUpperCase.contains("POWER"))
    } finally spark.experimental.extraOptimizations = Nil
  }

  test("injected task failure is retried by the scheduler (X1-X3 subsumption)") {
    // the reference hand-rolls straggler+failure resubmission
    // (master.py:127-173, mapper.py:100-108); Spark's scheduler retries
    // the task — master local[4,2] allows 2 attempts
    import spark.implicits._
    // emit the surviving attempt number as data (accumulator updates from
    // FAILED tasks are discarded by Spark, so they can't witness the retry)
    val attempts = spark.range(0, 1000, 1, 8).mapPartitions { it =>
      val tc = org.apache.spark.TaskContext.get()
      if (tc.partitionId() == 3 && tc.attemptNumber() == 0)
        throw new RuntimeException("injected chaos (mapper.py:104-106)")
      Iterator.single((tc.partitionId(), tc.attemptNumber(), it.size))
    }.collect()
    assert(attempts.map(_._3).sum == 1000) // no rows lost across the retry
    val byPart = attempts.map(a => a._1 -> a._2).toMap
    assert(byPart(3) == 1, "partition 3 should have succeeded on attempt 1")
    assert(byPart.view.filterKeys(_ != 3).values.forall(_ == 0))
  }
}
