#!/usr/bin/env python3
"""Self-test for the dead-code gate (run from the repo root:
`python3 tools/test_spec_only_defs.py`). Builds a small source tree and
checks that `tools/spec_only_defs.py` decides liveness by reachability:

  1. a member called only from a dead member is DEAD;
  2. a dead `start` is DEAD although `.start()` is called in other files;
  3. a member that `perfbench/src` names is live, and so is what it calls;
  4. a keep entry prints its reason, and what only it calls is not printed.

Exit 0 when every case holds, else 1 with the failing case named.
"""
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import spec_only_defs  # noqa: E402

FILES = {
    "src/main/scala/demo/App.scala": """
package demo
import org.apache.spark.sql.streaming.StreamingQuery

object App {
  def main(args: Array[String]): Unit = {
    val q: StreamingQuery = null
    q.start()          // a selection on a value, not Stream.start
    Live.run()
  }
}
""",
    "src/main/scala/demo/Live.scala": """
package demo

object Live {
  def run(): Int = helper() + 1
  private def helper(): Int = 2
}
""",
    "src/main/scala/demo/Stream.scala": """
package demo

/** `start` and `admit` are named in comments and strings only. */
object Stream {
  def start(): Int = admit("start")
  def admit(s: String): Int = s.length
}
""",
    "src/main/scala/demo/Bench.scala": """
package demo

object Tools {
  def timed(): Int = inner()
  private def inner(): Int = 3
  def kept(): Int = onlyKept()
  private def onlyKept(): Int = 4
}
""",
    "perfbench/src/main/scala/demo/Run.scala": """
package perf
object Run {
  def go(): Int = demo.Tools.timed()
}
""",
    "src/test/scala/demo/StreamSpec.scala": """
package demo
class StreamSpec { Stream.start() }
""",
}

KEEP = {"Tools.kept": "fixture reason for the kept member"}


def main():
    failures = []

    def check(ok, case):
        print("%s  %s" % ("ok  " if ok else "FAIL", case))
        if not ok:
            failures.append(case)

    with tempfile.TemporaryDirectory() as root:
        for rel, text in FILES.items():
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(text)
        lines, dead = spec_only_defs.reachability(root, KEEP)
        out = "\n".join(lines)
        tags = {l.split()[1]: l.split()[0] for l in lines if l[:4] in ("DEAD", "KEEP")}

        check(tags.get("Stream.admit") == "DEAD",
              "a member called only from a dead member is DEAD")
        check(tags.get("Stream.start") == "DEAD" and
              "demo/Stream.scala:6  specs: StreamSpec.scala" in out,
              "a dead `start` is DEAD although `.start()` is called elsewhere")
        check("Tools.timed" not in tags and "Tools.inner" not in tags,
              "a member perfbench/src names is live, with what it calls")
        check("Live.run" not in tags and "Live.helper" not in tags,
              "a member reached from `main` is live, with its private helper")
        check("KEEP  Tools.kept (fixture reason for the kept member)" in out and
              "Tools.onlyKept" not in tags,
              "a keep entry prints its reason; what only it calls is not printed")
        check(dead == 2, "exactly the two Stream members are DEAD (got %d)" % dead)
        rc = subprocess.run(
            [sys.executable, spec_only_defs.__file__, root],
            stdout=subprocess.DEVNULL).returncode
        check(rc == 1, "the gate exits 1 on a DEAD member (got %d)" % rc)

    if failures:
        print("%d case(s) failed" % len(failures))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
