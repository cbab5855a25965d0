#!/usr/bin/env python3
"""Fail when a `src/main` file other than `Materialize.scala` checkpoints or
persists.

    python3 tools/checkpoint_sites.py [REPO_ROOT]

Every checkpoint goes through `Materialize.checkpoint`, which alone knows
the durability rule (local or reliable, eager or lazy), and every persist
through `Materialize.persist`, which records it in the open scope that
releases it. So outside `src/main/scala/graft/ops/Materialize.scala` the
code of a `src/main` Scala file may not name `localCheckpoint`,
`setCheckpointDir` or `StorageLevel`, nor call `.checkpoint`, `.persist(`
or `.cache()` on anything but `Materialize`. Comments and string literals
are stripped first (the same stripper as `tools/spec_only_defs.py`), so a
doc may name them.

Prints each offending file and line; exits 1 if there is one, else 0.
"""
import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
from spec_only_defs import read_stripped, scala_files  # noqa: E402

OWNER = os.path.join("src", "main", "scala", "graft", "ops", "Materialize.scala")
CALL = re.compile(r"\blocalCheckpoint\b|\bsetCheckpointDir\b|\bStorageLevel\b"
                  r"|\.\s*checkpoint\b|\.\s*persist\s*\(|\.\s*cache\s*\(\s*\)")
OWN = re.compile(r"\bMaterialize\s*$")


def offences(root):
    """(relative path, line number, source line) of every line with a
    direct call."""
    found = []
    for path in scala_files(root, os.path.join("src", "main")):
        rel = os.path.relpath(path, root)
        if rel == OWNER:
            continue
        text = read_stripped(path)
        with open(path, encoding="utf-8", errors="replace") as f:
            lines = f.read().split("\n")
        for m in CALL.finditer(text):
            if m.group(0)[0] == "." and OWN.search(text, 0, m.start()):
                continue
            at = text.count("\n", 0, m.end())
            if not found or found[-1][:2] != (rel, at + 1):
                found.append((rel, at + 1, lines[at].strip()))
    return found


def main():
    root = sys.argv[1] if len(sys.argv) > 1 else \
        os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    found = offences(root)
    for rel, line, src in found:
        print("%s:%d: materialized outside Materialize: %s" % (rel, line, src))
    print("%d line(s) checkpoint or persist outside %s" % (len(found), OWNER))
    return 1 if found else 0


if __name__ == "__main__":
    sys.exit(main())
