#!/usr/bin/env python3
"""Self-test for the dead-code gate (run from the repo root:
`python3 tools/test_spec_only_defs.py`). Builds a small source tree and
checks that `tools/spec_only_defs.py` decides liveness by reachability:

  1. a member called only from a dead member is DEAD;
  2. a dead `start` is DEAD although `.start()` is called in other files;
  3. a member that `perfbench/src` names is live, and so is what it calls;
  4. a keep entry prints its reason, and what only it calls is not printed;
  5. a keep entry that names nothing, or names what a root already
     reaches, is STALE and fails the gate.

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

# planted stale entries: one names no member, one names a member `main`
# already reaches
STALE_KEEP = dict(KEEP, **{"Tools.gone": "names nothing",
                           "Live.run": "a root reaches it"})


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
        lines, dead, stale = spec_only_defs.reachability(root, KEEP)
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
        check(stale == [], "no keep entry is STALE when each matches (got %s)" % stale)
        lines, _, stale = spec_only_defs.reachability(root, STALE_KEEP)
        out = "\n".join(lines)
        check(sorted(stale) == ["Live.run", "Tools.gone"] and
              "STALE Tools.gone" in out and "STALE Live.run" in out and
              "STALE Tools.kept" not in out,
              "a keep entry naming nothing or a reached member is STALE (got %s)"
              % stale)
        rc = subprocess.run(
            [sys.executable, spec_only_defs.__file__, root],
            stdout=subprocess.DEVNULL).returncode
        check(rc == 1, "the gate exits 1 on a DEAD member (got %d)" % rc)

    # a tree with no DEAD member: the gate's own keep list names nothing
    # here, so every entry is STALE and the gate still exits 1
    with tempfile.TemporaryDirectory() as root:
        for rel in ("src/main/scala/demo/App.scala", "src/main/scala/demo/Live.scala"):
            path = os.path.join(root, rel)
            os.makedirs(os.path.dirname(path), exist_ok=True)
            with open(path, "w") as f:
                f.write(FILES[rel])
        res = subprocess.run(
            [sys.executable, spec_only_defs.__file__, root],
            stdout=subprocess.PIPE, universal_newlines=True)
        check(res.returncode == 1 and "DEAD" not in res.stdout and
              "STALE " in res.stdout,
              "the gate exits 1 on a STALE entry alone (got %d)" % res.returncode)

    if failures:
        print("%d case(s) failed" % len(failures))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
