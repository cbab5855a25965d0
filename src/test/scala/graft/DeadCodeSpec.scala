package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the source gates under `sbt test`, each with its self-test:
  *  - the dead-code gate: every member of a `src/main` object is reached
  *    from an entry point or sits on the gate's keep list, and the gate
  *    decides by reachability;
  *  - the checkpoint-site guard: only `Materialize` checkpoints.
  */
class DeadCodeSpec extends AnyFunSuite {

  test("dead-code gate self-test (tools/test_spec_only_defs.py)") {
    PythonCheck("tools/test_spec_only_defs.py", "the gate's self-test reported failures")
  }

  test("no src/main member is unreachable outside the keep list (tools/spec_only_defs.py)") {
    PythonCheck("tools/spec_only_defs.py", "the gate printed DEAD members")
  }

  test("checkpoint-site guard self-test (tools/test_checkpoint_sites.py)") {
    PythonCheck("tools/test_checkpoint_sites.py", "the guard's self-test reported failures")
  }

  test("only Materialize checkpoints (tools/checkpoint_sites.py)") {
    PythonCheck("tools/checkpoint_sites.py",
      "a src/main file checkpoints or persists outside Materialize")
  }
}
