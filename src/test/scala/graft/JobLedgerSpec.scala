package graft

import org.scalatest.funsuite.AnyFunSuite

/** Runs the event-log ledger's self-test under `sbt test`. */
class JobLedgerSpec extends AnyFunSuite {
  test("job ledger self-test (tools/test_job_ledger.py)") {
    PythonCheck("tools/test_job_ledger.py", "the ledger's self-test reported failures")
  }
}
