package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's own Python unit tests (perfbench/tests; no JVM, no
  * Spark) run with the Scala suite, so a change that breaks the
  * benchmark's metric code fails here too. */
class PerfbenchUnitSpec extends AnyFunSuite {
  test("python3 -m unittest discover -s perfbench/tests passes") {
    val root = new java.io.File(sys.props("user.dir"))
    assert(new java.io.File(root, "perfbench/tests").isDirectory, s"no perfbench/tests under $root")
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val rc = Process(Seq("python3", "-m", "unittest", "discover", "-s", "perfbench/tests"), root) ! log
    assert(rc == 0, s"perfbench unit tests failed (exit $rc):\n$out")
    assert(out.toString.contains("OK"), out.toString)
  }
}
