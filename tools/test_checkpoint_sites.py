#!/usr/bin/env python3
"""Self-test for the checkpoint-site guard (run from the repo root:
`python3 tools/test_checkpoint_sites.py`). Builds a small source tree and
checks that `tools/checkpoint_sites.py`:

  1. passes a tree whose only direct calls sit in `Materialize.scala`, and
     whose other files call `Materialize.checkpoint` or `Materialize.persist`
     or name the calls in comments and strings;
  2. fails on a planted `localCheckpoint()`, `.checkpoint()`,
     `setCheckpointDir`, `.cache()` or `.persist(StorageLevel.DISK_ONLY)`
     elsewhere, and prints each file and line.

Exit 0 when every case holds, else 1 with the failing case named.
"""
import os
import subprocess
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import checkpoint_sites  # noqa: E402

CLEAN = {
    "src/main/scala/graft/ops/Materialize.scala": """
package graft.ops
object Materialize {
  def checkpoint(df: DataFrame, eager: Boolean = false): DataFrame =
    if (eager) df.checkpoint() else df.localCheckpoint(eager)
  def persist(df: DataFrame): DataFrame = df.persist(StorageLevel.MEMORY_AND_DISK)
}
""",
    "src/main/scala/graft/ops/Loop.scala": """
package graft.ops
/** Rounds are eager: `localCheckpoint()` would be too, and so would
  * `sc.setCheckpointDir` once set; df.checkpoint() is the reliable form,
  * and df.cache() or df.persist(StorageLevel.DISK_ONLY) would leak. */
object Loop {
  val note = "call df.localCheckpoint() or df.cache() here"
  def round(df: DataFrame) = Materialize.checkpoint(df, eager = true)
  def lazyRound(df: DataFrame) = Materialize
    .checkpoint(df)
  def kept(df: DataFrame) = Materialize.persist(df)
}
""",
}

PLANTED = {
    "src/main/scala/graft/ops/Graph.scala": """
package graft.ops
object Graph {
  def edges(df: DataFrame) =
    df.localCheckpoint()
  def verts(df: DataFrame) = df.cache()
  def ranks(df: DataFrame) =
    df.persist(StorageLevel.DISK_ONLY)
}
""",
    "src/main/scala/graft/Main.scala": """
package graft
object Main {
  def main(args: Array[String]): Unit = {
    spark.sparkContext.setCheckpointDir("/tmp/ck")
    val x = df
      .checkpoint()
  }
}
""",
}


def tree(root, files):
    for rel, text in files.items():
        path = os.path.join(root, rel)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            f.write(text)


def run(root):
    p = subprocess.run([sys.executable, checkpoint_sites.__file__, root],
                       stdout=subprocess.PIPE, universal_newlines=True)
    return p.returncode, p.stdout


def main():
    failures = []

    def check(ok, case, out):
        print("%s  %s" % ("ok  " if ok else "FAIL", case))
        if not ok:
            print(out)
            failures.append(case)

    with tempfile.TemporaryDirectory() as root:
        tree(root, CLEAN)
        rc, out = run(root)
        check(rc == 0, "a tree that checkpoints only through Materialize passes", out)
        tree(root, PLANTED)
        rc, out = run(root)
        check(rc == 1, "planted calls fail the guard", out)
        for site in ("src/main/scala/graft/ops/Graph.scala:5:",
                     "src/main/scala/graft/ops/Graph.scala:6:",
                     "src/main/scala/graft/ops/Graph.scala:8:",
                     "src/main/scala/graft/Main.scala:5:",
                     "src/main/scala/graft/Main.scala:7:"):
            check(site in out, "the guard prints %s" % site, out)
        check("Loop.scala" not in out and "Materialize.scala:" not in out,
              "comments, strings and Materialize's own calls are not printed", out)

    if failures:
        print("%d case(s) failed" % len(failures))
        return 1
    return 0


if __name__ == "__main__":
    sys.exit(main())
