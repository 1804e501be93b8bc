package graft

import java.nio.file.{Files, Paths}
import graft.sources.StagedLayouts

/** The staging memo's contract: one build per `name:sfDir` key, a
  * build may stage other keys of the same memo, a failed build is
  * retried, and concurrent callers in any order share one build.
  */
class StagedLayoutsSpec extends SparkSpec {

  private def keysOf(dir: String): Set[String] =
    StagedLayouts.stagingSeconds.keySet.filter(_.endsWith(s":$dir"))

  test("a stage build may stage another key of the same memo") {
    val dir = s"nested-${System.nanoTime()}"
    // "Aa" and "BB" have equal String hashes, so the two keys share a
    // hash bin at every table size: the layout in which a
    // computeIfAbsent nested in another one throws "Recursive update"
    assert(s"Aa:$dir".hashCode == s"BB:$dir".hashCode)
    val (outer, inner) = StagedLayouts.stage("Aa", dir) { outerTmp =>
      (outerTmp, StagedLayouts.stage("BB", dir) { innerTmp =>
        Thread.sleep(300)
        innerTmp
      })
    }
    assert(outer != inner && Files.isDirectory(Paths.get(outer)) &&
      Files.isDirectory(Paths.get(inner)))
    assert(StagedLayouts.stage("BB", dir)(_ => "rebuilt") == inner)
    assert(keysOf(dir) == Set(s"Aa:$dir", s"BB:$dir"))
    // the outer build's seconds exclude the nested build it waited for
    val secs = StagedLayouts.stagingSeconds
    assert(secs(s"BB:$dir") >= 0.3 && secs(s"Aa:$dir") < 0.3, secs)
  }

  test("a build that throws is not memoized: the next call builds again") {
    val dir = s"flaky-${System.nanoTime()}"
    var builds = 0
    def attempt(): String = StagedLayouts.stage("flaky", dir) { tmp =>
      builds += 1
      if (builds == 1) throw new IllegalStateException("first build fails")
      tmp
    }
    intercept[IllegalStateException](attempt())
    assert(keysOf(dir).isEmpty)
    val built = attempt()
    assert(attempt() == built && builds == 2)
    assert(keysOf(dir) == Set(s"flaky:$dir"))
  }

  test("the simhash store family staged concurrently in shuffled order: one build each") {
    // a fresh scale-dir string over the sf0.001 files: fresh memo keys,
    // fresh table names, and another hash-bin layout
    val alias = Files.createTempDirectory("graft_sf_alias")
    val dir = Files.createSymbolicLink(alias.resolve("sf"), Paths.get(sf)).toString
    def manifest(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.orderBy("version").collect().map(_.mkString("|")).toSeq ++
        df.inputFiles.sorted
    val calls: IndexedSeq[() => Seq[String]] = IndexedSeq(
      () => manifest(StagedLayouts.simhashStoreVersions(spark, dir)),
      () => manifest(StagedLayouts.simhashStoreMorManifest(spark, dir)),
      () => Seq(StagedLayouts.simhashStoreCompacted(spark, dir).toString),
      () => Seq(StagedLayouts.simhashStoreEvolved(spark, dir).toString),
      () => Seq(StagedLayouts.simhashStore(spark, dir).toString))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try {
      val seen = (0 until 4).map { t =>
        val order = new scala.util.Random(t).shuffle(calls.indices.toList)
        pool.submit(new java.util.concurrent.Callable[Map[Int, Seq[String]]] {
          override def call(): Map[Int, Seq[String]] =
            order.map(i => i -> calls(i)()).toMap
        })
      }.map(_.get(10, java.util.concurrent.TimeUnit.MINUTES))
      assert(seen.distinct.size == 1, s"threads saw different artifacts: $seen")
      assert(keysOf(dir).map(_.takeWhile(_ != ':')) ==
        Set("sigstore", "sigapp", "sigcmp", "sigevo", "sigversions", "sigmor"))
    } finally {
      pool.shutdown()
      Files.delete(alias.resolve("sf"))
      Files.delete(alias)
    }
  }
}
