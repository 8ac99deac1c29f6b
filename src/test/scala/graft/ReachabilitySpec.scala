package graft

import scala.sys.process._
import org.scalatest.funsuite.AnyFunSuite

/** Every `def` in `src/main` outside `streaming/` that no entry point
  * reaches is on the README keep-list, every keep-list entry still
  * names an unreached def, and every `[[link]]` in a comment names
  * something declared (`tools/reachability.py --check`).
  */
class ReachabilitySpec extends AnyFunSuite {
  test("every unreached def is on the README keep-list, and the keep-list holds nothing else") {
    val out = new StringBuilder
    val log = ProcessLogger(l => out.append(l).append('\n'), l => out.append(l).append('\n'))
    val code = Seq("python3", "tools/reachability.py", "--check").!(log)
    assert(code === 0, s"tools/reachability.py --check failed:\n$out")
  }
}
