package graft

import scala.sys.process._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `scripts/unreached.py` at exit 0: every public or
  * `private[pkg]` member of src/main is reached from a query, a
  * dispatcher, a stream twin or a main, or is a declared keeper.
  */
class ReachabilitySpec extends AnyFunSuite {
  test("scripts/unreached.py lists no undeclared unreached member") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Seq("python3", "scripts/unreached.py").!(log)
    assert(code == 0, s"unreached.py exited $code:\n$out")
  }
}
