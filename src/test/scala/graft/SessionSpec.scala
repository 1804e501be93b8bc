package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using
import org.scalatest.funsuite.AnyFunSuite

/** Every process and suite starts its session through [[Session]]. Hand
  * copies of the builder drift: before they were folded into one, 23 of
  * them used six master rules and seven lacked the UTC timezone.
  */
class SessionSpec extends AnyFunSuite {
  test("no SparkSession builder outside Session.scala") {
    // assembled, so this file does not match itself
    val needle = Seq("SparkSession", "builder").mkString(".")
    val hits: Seq[Path] = Seq("src/main/scala", "src/test/scala").flatMap { root =>
      Using.resource(Files.walk(Paths.get(root)))(_.iterator.asScala
        .filter(p => p.toString.endsWith(".scala") && Files.readString(p).contains(needle))
        .toList)
    }
    assert(hits == Seq(Paths.get("src/main/scala/graft/Session.scala")))
  }
}
