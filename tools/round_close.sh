#!/usr/bin/env bash
# Round-end hygiene (VERDICT r20 #1 — the recurring manual step, scripted):
# stage the round's driver/bench artifacts and fail loudly if anything that
# should ride the round's final commit is still dirty or missing.
#
#   tools/round_close.sh <round-number>     e.g. tools/round_close.sh 21
#
# Exits non-zero (and says why) unless, after staging, `git status` is clean
# except for the staged set — the condition "clean git status on round HEAD".
set -euo pipefail
cd "$(dirname "$0")/.."

r="${1:?usage: round_close.sh <round-number>}"

# Per-round bench and correctness artifacts (they land untracked in the
# root) are kept under history/, with the plan dumps of the round.
mkdir -p history
for f in BENCH_r$r.json CORRECTNESS_r$r.json BENCH_*_r${r}*_kept.json; do
  [ -e "$f" ] && mv "$f" history/ && git add "history/$f"
done
[ -d history/plans/r$r ] && git add history/plans/r$r
# Stage every other round artifact that exists.
for f in VERIFY_r$r.json PERF_r$r.json \
         LEAKCHECK.json graft_bench_compact.json BENCH_NOTES.md ADVICE.md \
         VERDICT.md README.md OPTIMIZATION_r$r.md; do
  [ -e "$f" ] && git add "$f"
done

# ADVICE.md must mention every finding as fixed/accepted/noted or be
# regenerated this round — heuristic: it must have been touched on a commit
# no older than the newest BENCH artifact, else warn.
if [ -e "history/BENCH_r$r.json" ] && [ "ADVICE.md" -ot "history/BENCH_r$r.json" ]; then
  echo "WARN: ADVICE.md is older than history/BENCH_r$r.json — refresh it" >&2
fi

# all staged-clean statuses count as staged (adds, mods, deletes, renames,
# copies) — '^[AM] ' alone made a round that deletes or renames a tracked
# artifact unable to close (r21 ADVICE)
dirty=$(git status --porcelain | grep -Ev '^[ACDMR] ' || true)
if [ -n "$dirty" ]; then
  echo "round_close: unstaged/untracked files remain:" >&2
  echo "$dirty" >&2
  exit 1
fi
echo "round_close: staged round-$r artifacts; tree otherwise clean."
