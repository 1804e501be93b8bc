package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{TrainedIvfCentroids, TrainedPqCodebooks, TrainedResidualPq}
import graft.tools.{IvfTrain, PqResidualTrain, PqTrain}

/** The trainers' literal writer reproduces the committed frozen files
  * byte for byte from their own values, so a change to the writer shows
  * without retraining (a retrain need not reproduce the literals: its
  * float sums may merge in another order).
  */
class TrainedLiteralsSpec extends AnyFunSuite {
  private def committed(name: String): String =
    Files.readString(Paths.get(s"src/main/scala/graft/operators/$name.scala"))

  test("IvfTrain renders TrainedIvfCentroids.scala from its cells") {
    assert(IvfTrain.source(TrainedIvfCentroids.cells) == committed("TrainedIvfCentroids"))
  }

  test("PqTrain renders TrainedPqCodebooks.scala from its books") {
    assert(PqTrain.source(TrainedPqCodebooks.books) == committed("TrainedPqCodebooks"))
  }

  test("PqResidualTrain renders TrainedResidualPq.scala from its books") {
    assert(PqResidualTrain.source(TrainedResidualPq.books) == committed("TrainedResidualPq"))
  }
}
