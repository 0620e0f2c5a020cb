package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** `src/main` is the engine plus the two driver-contract entry points,
  * [[Bench]] and [[Verify]]. Developer mains (probes, dumps, build and
  * plan CLIs) live under `src/test/scala/graft/tools/` and run from the
  * test classpath. */
class DriverMainsSpec extends AnyFunSuite {
  import DriverMainsSpec._

  test("src/main declares def main only in Bench and Verify") {
    val files = IoSpec.mainSources()
    val declaring = files.filter(f => declaresMain(Files.readString(f)))
      .map(_.getFileName.toString).sorted
    assert(declaring == DriverMains.toSeq.sorted,
      s"def main in src/main: ${declaring.mkString(", ")}")
  }

  test("the def-main lint trips on a main and ignores def maintain") {
    assert(declaresMain(
      "object Probe {\n  def main(args: Array[String]): Unit = ()\n}"))
    assert(declaresMain("object P { def  main(a: Array[String]) = () }"))
    assert(!declaresMain(
      "object Warehouse { def maintain(t: String)(f: => Unit) = f }"))
  }
}

object DriverMainsSpec {
  val DriverMains = Set("Bench.scala", "Verify.scala")

  /** `def main` as a whole word: `def maintain` does not match. */
  def declaresMain(source: String): Boolean =
    "\\bdef\\s+main\\b".r.findFirstIn(source).isDefined
}
