#!/usr/bin/env python3
"""Pairwise per-query bench diff: `bench_diff.py OLD.json NEW.json`.

Compares two Bench artifacts (`graft_bench_full.json` / `history/BENCH_r*.json`)
query by query and separates three things the r8 round-end conflated:

  1. run contamination — the NEW artifact's canary (fixed micro-workload,
     cost never changes across rounds) is inflated vs the OLD one: the
     RUN is suspect and per-query diffs are meaningless;
  2. noise — the delta is inside either run's recorded warm spread;
  3. real regressions — delta beyond spread on a clean-canary run.

Exit code 1 if real regressions exist on a clean run, 2 if the run is
contaminated (canary ratio > 1.5), else 0.
"""
import json
import sys


def fingerprint(sf_dir):
    """Content fingerprint of a bench data dir: md5 over sorted
    (relative-path, size) pairs of the data files (hidden dot/underscore
    files — markers, checksums — excluded; their mtimes churn on every
    regeneration while the data stays identical). Floors are only evidence
    about the EXACT data they were measured on: the r12 mid-round testdata
    regeneration proved stale floors mislead, so floors files carry this
    stamp and the keep gate refuses to apply floors whose stamp does not
    match the battery's data dir.
    """
    import hashlib
    import os
    pairs = []
    for root, dirs, files in os.walk(sf_dir):
        dirs[:] = sorted(d for d in dirs if not d.startswith((".", "_")))
        for f in sorted(files):
            if f.startswith((".", "_")):
                continue
            p = os.path.join(root, f)
            pairs.append(f"{os.path.relpath(p, sf_dir)}:{os.path.getsize(p)}")
    return hashlib.md5("\n".join(pairs).encode()).hexdigest()


def load(path):
    with open(path) as f:
        txt = f.read().strip()
    try:
        d = json.loads(txt.splitlines()[-1])
    except json.JSONDecodeError:
        d = json.loads(txt)
    if isinstance(d, dict) and "tail" in d:
        # driver artifact: the stdout tail, FRONT-truncated to 2000 chars.
        # Recover what survives as "name":number pairs; the first match may
        # carry a truncated name, so drop it unless the tail starts clean.
        import re
        pairs = [(m.group(1), float(m.group(2))) for m in
                 re.finditer(r'"([A-Za-z0-9_]+)":([0-9][0-9.]*)', d["tail"])]
        if pairs and not d["tail"].lstrip().startswith("{"):
            pairs = pairs[1:]
        qs = dict(pairs)
        for meta in ("value", "spread_max", "sub150ms_omitted", "n_runs",
                     "omit_floor_ms", "omitted"):
            qs.pop(meta, None)
        out = {"queries": qs}
        m = re.search(r'"canary":\[([0-9.]+),([0-9.]+)\]', d["tail"])
        if m:
            out["canary"] = [float(m.group(1)), float(m.group(2))]
        m = re.search(r'"sus":\[([0-9.]+),([0-9.]+)\]', d["tail"])
        if m:
            out["sus"] = [float(m.group(1)), float(m.group(2))]
        m = re.search(r'"susw":\[([0-9.]+),([0-9.]+)\]', d["tail"])
        if m:
            out["susw"] = [float(m.group(1)), float(m.group(2))]
        return out
    return d


def main():
    if len(sys.argv) != 3:
        print(__doc__)
        return 0
    old, new = load(sys.argv[1]), load(sys.argv[2])

    def normkeys(d):
        # stdout-compact artifacts strip the "q_" prefix; full ones don't.
        # Canonicalize by stripping, which is safe in both directions.
        # Used for BOTH query and spread maps so the two can't drift apart
        # (a spread lookup that misses silently degrades the tolerance to
        # the fixed floor).
        return {(k[2:] if k.startswith("q_") else k): v for k, v in d.items()}

    def norm(d):
        return normkeys(d.get("queries", {}))

    oq, nq = norm(old), norm(new)
    osp = normkeys(old.get("spread", {}))
    nsp = normkeys(new.get("spread", {}))

    ocan, ncan = old.get("canary"), new.get("canary")
    contaminated = False
    if ocan and ncan:
        ratio = max(ncan) / max(min(ocan), 1e-9)
        print(f"canary: old={ocan} new={ncan} ratio={ratio:.2f}")
        if ratio > 1.5:
            contaminated = True
            print("!! NEW run canary is inflated vs OLD — machine "
                  "contention; per-query diffs below are unreliable")
    elif ncan:
        print(f"canary (new only): {ncan}"
              + ("  !! pre/post disagree >1.5x — load changed mid-run"
                 if max(ncan) / max(min(ncan), 1e-9) > 1.5 else ""))

    # Sustained-throughput canary (r17): the short canary senses scheduling
    # contention but not multi-second all-core turbo/bandwidth budgets —
    # the r15→r17 "drift" on pure-CPU rows reproduced identically on
    # r15-boundary code while the short canary matched exactly. Cross-ROUND
    # comparisons should gate on this before reading per-query deltas as
    # regressions. (Old artifacts predating r17 carry no "sus".)
    osus, nsus = old.get("sus"), new.get("sus")
    if osus and nsus:
        sratio = max(nsus) / max(min(osus), 1e-9)
        print(f"sustained: old={osus} new={nsus} ratio={sratio:.2f}")
        if sratio > 1.2:
            contaminated = True
            print("!! NEW run's sustained throughput is degraded vs OLD — "
                  "host budget changed; per-query deltas are machine drift, "
                  "not code")
    elif nsus:
        print(f"sustained (new only): {nsus}")

    # Sustained-WRITE canary (r19): write throughput on this host oscillates
    # across hours independently of every CPU signal (kept susw ranged
    # 1.67-2.84 s in one session while both CPU canaries stayed flat) and
    # inflates exactly the write/shuffle-heavy rows (ingest_pipeline_bulk,
    # join_salted, pagerank). Gate cross-round write-row deltas on it like
    # cross-round CPU deltas gate on "sus".
    #
    # Comparison is min(new)/min(old) at the keep gate's calibrated 1.8x
    # (r20 ADVICE): the old max(new)/min(old) form at 1.5 compared the
    # WORST new reading against the BEST old one, so two individually
    # keep-gated clean-window artifacts (each pre/post within 1.8x) could
    # already trip it — e.g. kept [1.83,2.53] vs [2.02,2.78] gives
    # 2.78/1.83 = 1.52 — mislabeling every write-row delta between two
    # clean runs as weather (which can mask a real regression). min/min
    # compares like with like (each run's best window), and a pair of
    # kept artifacts cannot trip it unless the HOST budget itself moved
    # >1.8x between rounds — exactly the signal this gate exists for.
    # The gate is two-sided (r20 ADVICE, low): a degraded OLD window vs a
    # clean NEW one shows phantom write-row "improvements" that are just
    # as much weather as the degraded-new case — flag both directions.
    oww, nww = old.get("susw"), new.get("susw")
    if oww and nww:
        wratio = min(nww) / max(min(oww), 1e-9)
        print(f"sustained-write: old={oww} new={nww} ratio={wratio:.2f}")
        if wratio > 1.8:
            contaminated = True
            print("!! NEW run's sustained WRITE throughput is degraded vs "
                  "OLD — write/shuffle-row deltas are disk weather, not code")
        elif wratio < 1 / 1.8:
            contaminated = True
            print("!! OLD run's sustained WRITE throughput was degraded vs "
                  "NEW — write/shuffle-row 'improvements' are disk weather, "
                  "not code")
    elif nww:
        print(f"sustained-write (new only): {nww}")

    shared = sorted(set(oq) & set(nq))
    added = sorted(set(nq) - set(oq))
    removed = sorted(set(oq) - set(nq))
    regressions = []
    improved = []
    for k in shared:
        o, n = float(oq[k]), float(nq[k])
        tol = max(float(osp.get(k, 0)), float(nsp.get(k, 0)), 0.25, 0.25 * o)
        if n - o > tol:
            regressions.append((k, o, n))
        elif o - n > tol:
            improved.append((k, o, n))
    tot_o = sum(float(v) for v in oq.values())
    tot_n = sum(float(v) for v in nq.values())
    shared_o = sum(float(oq[k]) for k in shared)
    shared_n = sum(float(nq[k]) for k in shared)
    print(f"shared {len(shared)}  added {len(added)}  removed {len(removed)}"
          f"  | shared-total {shared_o:.1f} -> {shared_n:.1f}s"
          f"  (full totals {tot_o:.1f} -> {tot_n:.1f}s)")
    for k, o, n in sorted(regressions, key=lambda t: t[1] - t[2]):
        print(f"  REGRESSED {k}: {o:.2f} -> {n:.2f}s")
    for k, o, n in sorted(improved, key=lambda t: t[2] - t[1]):
        print(f"  improved  {k}: {o:.2f} -> {n:.2f}s")
    if added:
        print("  new queries: " + ", ".join(
            f"{k}={float(nq[k]):.2f}s" for k in added))
    if removed:
        print("  removed: " + ", ".join(removed))
    if contaminated:
        return 2
    return 1 if regressions else 0


if __name__ == "__main__":
    sys.exit(main())
