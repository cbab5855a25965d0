package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the dead-code gate under `sbt test`: every member of a `src/main`
  * object is reached from an entry point or sits on the gate's keep list,
  * and the gate's own self-test shows it decides by reachability.
  */
class DeadCodeSpec extends AnyFunSuite {

  test("dead-code gate self-test (tools/test_spec_only_defs.py)") {
    PythonCheck("tools/test_spec_only_defs.py", "the gate's self-test reported failures")
  }

  test("no src/main member is unreachable outside the keep list (tools/spec_only_defs.py)") {
    PythonCheck("tools/spec_only_defs.py", "the gate printed DEAD members")
  }
}
