package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col
import graft.operators._
import graft.sources.TextFormats

/** `TextFormats.readPointsCsv`: the file source's rows in file order,
  * parsed once into `defaultParallelism` partitions, and the reference
  * workflow's outputs unchanged by the split.
  */
class ReadPointsSpec extends SparkSpec {

  private def res(name: String): String = getClass.getResource(s"/$name").getPath

  private def tmpFile(name: String, text: String): String = {
    val p = Files.createTempDirectory("points").resolve(name)
    Files.write(p, text.getBytes(UTF_8))
    p.toString
  }

  /** The plain file-source read: one split for a small file. */
  private def fileSource(path: String): DataFrame =
    spark.read.schema(TextFormats.pointsSchema).option("header", "false").csv(path)
      .select(col("x"), col("y"))

  /** `n` points in 16 Gaussian blobs, one `x,y` line each. */
  private def blobFile(n: Int, seed: Long): String = {
    val rnd = new scala.util.Random(seed)
    val centers = Array.fill(16)((rnd.nextDouble() * 1000, rnd.nextDouble() * 1000))
    tmpFile("blobs.txt", (0 until n).map { i =>
      val (cx, cy) = centers(i % 16)
      s"${cx + rnd.nextGaussian() * 20},${cy + rnd.nextGaussian() * 20}\n"
    }.mkString)
  }

  /** CRLF line ends, blank lines, extra, missing, non-numeric and quoted
    * fields, over enough lines to span every split.
    */
  private lazy val messy = tmpFile("messy.txt", (0 until 2000).map { i =>
    s"$i.5,-$i.25\r\n\r\n$i.0,1.0,9.9\r\n$i.75\r\nabc,$i.0\r\n\"$i.125\",2.5\r\n"
  }.mkString)

  test("rows, in order, equal the file source's (fixtures and malformed lines)") {
    Seq(res("points_tiny.csv"), res("points_tie.csv"), res("points_empty.csv"), messy).foreach { p =>
      val got = TextFormats.readPointsCsv(spark, p)
      val want = fileSource(p)
      assert(got.schema == want.schema, p)
      assert(got.collect().toSeq == want.collect().toSeq, p)
    }
  }

  test("a file of many more lines than cores is read into defaultParallelism partitions") {
    val pts = TextFormats.readPointsCsv(spark, blobFile(20000, seed = 3L))
    assert(pts.rdd.getNumPartitions == spark.sparkContext.defaultParallelism)
    assert(pts.count() == 20000)
  }

  /** Bytes read from the local file system so far by every thread of this
    * JVM, the local master's executors included. Unlike a task's
    * `inputMetrics.bytesRead`, it does not count reads of cached or
    * checkpointed blocks, which Spark adds there at their stored size.
    */
  private def fileBytesRead(): Long =
    org.apache.hadoop.fs.FileSystem.getGlobalStorageStatistics.get("file").getLong("bytesRead")

  test("the read parses once: count, bbox, fit and KV write read no file bytes") {
    val pts = TextFormats.readPointsCsv(spark, blobFile(20000, seed = 4L))
    val before = fileBytesRead()
    pts.count()
    val (xlo, xhi, ylo, yhi) = Recenter.bbox(pts)
    val fit = KMeansLoop.fit(spark, pts,
      Centroids.randomInit(16, seed = 5L, xlo, xhi, ylo, yhi), maxIter = 3, delta = 0.0)
    TextFormats.writeKvText(Assign.withNearest(pts, fit.centroids), reducerCount = 2,
      Files.createTempDirectory("kv").resolve("kv").toString)
    val read = fileBytesRead() - before
    assert(read == 0L, s"$read file bytes read after the parse")
  }

  /** The `lloyd` steps of the reference workflow, as `ReferencePipeline`
    * runs them, on `pts`: `centroids` and `kv` under a fresh directory.
    */
  private def lloyd(pts: DataFrame, k: Int): Path = {
    val out = Files.createTempDirectory("lloyd")
    val (xlo, xhi, ylo, yhi) = Recenter.bbox(pts)
    val init = Centroids.randomInit(k, seed = 42L, xlo, xhi, ylo, yhi)
    val fit = KMeansLoop.fit(spark, pts, init, maxIter = 5, delta = 0.0)
    TextFormats.writeCentroidsCsv(spark, fit.centroids, out.resolve("centroids").toString)
    TextFormats.writeKvText(Assign.withNearest(pts, fit.centroids), reducerCount = 2,
      out.resolve("kv").toString)
    out
  }

  private def partFiles(dir: Path): Seq[Path] =
    Files.list(dir).iterator().asScala.toSeq
      .filter(_.getFileName.toString.startsWith("part-")).sortBy(_.getFileName.toString)

  /** The KV lines of each `r=` directory, part files concatenated in name
    * order.
    */
  private def kvLines(out: Path): Map[String, Seq[String]] =
    Files.list(out.resolve("kv")).iterator().asScala.toSeq.filter(Files.isDirectory(_))
      .map(d => d.getFileName.toString -> partFiles(d).flatMap(Files.readAllLines(_).asScala))
      .toMap

  private def centroidBytes(out: Path): Seq[Byte] =
    partFiles(out.resolve("centroids")).flatMap(Files.readAllBytes(_).toSeq)

  private def centroidValues(out: Path): Seq[Double] =
    new String(centroidBytes(out).toArray, UTF_8).split("[,\n]").toSeq.map(_.toDouble)

  test("the lloyd outputs equal those of the single-split file-source read") {
    Seq(res("points_tiny.csv") -> 2, res("points_tie.csv") -> 2, res("points_empty.csv") -> 2,
        blobFile(100000, seed = 6L) -> 16).foreach { case (p, k) =>
      val split = lloyd(TextFormats.readPointsCsv(spark, p), k)
      val single = lloyd(fileSource(p), k)
      assert(kvLines(split) == kvLines(single), s"$p: KV lines differ")
      val (a, b) = (centroidValues(split), centroidValues(single))
      assert(a.length == 2 * k && b.length == 2 * k, s"$p: $a vs $b")
      a.zip(b).foreach { case (u, v) =>
        assert(math.abs(u - v) <= 1e-12 * math.max(math.abs(u), math.abs(v)), s"$p: $u vs $v")
      }
      val again = lloyd(TextFormats.readPointsCsv(spark, p), k)
      assert(centroidBytes(again) == centroidBytes(split), s"$p: centroids.txt differs run to run")
    }
  }
}
