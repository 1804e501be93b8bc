package graft

import graft.operators.DriverRegime

/** The one small-graph gate: a bounded single-pass pull, a count check
  * that never counts with the switch off, and the one switch.
  */
class DriverRegimeSpec extends SparkSpec {

  /** `n` rows in ONE partition, so one incremental take is one job. */
  private def rowsOf(n: Long) = spark.range(0, n, 1, 1).toDF("id")

  test("pull: Some at cap rows, None at cap + 1 or with the switch off; one job per pull") {
    val cap = 1000L
    val (atCap, capJobs) = countingJobs(DriverRegime.pull(rowsOf(cap), cap))
    assert(atCap.map(_.map(_.getLong(0)).toSeq) == Some(0L until cap))
    assert(capJobs == 1, s"pull at the cap ran $capJobs jobs")

    val (over, overJobs) = countingJobs(DriverRegime.pull(rowsOf(cap + 1), cap))
    assert(over.isEmpty, "a frame over the cap must not be pulled")
    assert(overJobs == 1, s"pull over the cap ran $overJobs jobs")

    val (off, offJobs) = withDistributed(
      countingJobs(DriverRegime.pull(rowsOf(cap), cap)))
    assert(off.isEmpty, "the switch off must refuse every pull")
    assert(offJobs == 0, s"pull with the switch off ran $offJobs jobs")
    assert(DriverRegime.enabled(spark), "withDistributed must unset the switch")
  }

  test("fits: the threshold is inclusive; the switch off never evaluates the count") {
    assert(DriverRegime.fits(spark, DriverRegime.MaxRows))
    assert(!DriverRegime.fits(spark, DriverRegime.MaxRows + 1))
    withDistributed {
      assert(!DriverRegime.fits(spark, fail("count evaluated with the switch off")))
    }
  }
}
