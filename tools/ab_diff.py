"""Diff two bench JSON artifacts (A = treatment, B = control).

Usage: python tools/ab_diff.py A.json B.json [min_delta_sec]

Prints per-query deltas sorted by (A - B), plus totals and geomean of
B/A speedups — the same statistic the driver's PERF comparison uses.
"""

from __future__ import annotations

import json
import math
import sys


def main() -> int:
    a_path, b_path = sys.argv[1], sys.argv[2]
    min_d = float(sys.argv[3]) if len(sys.argv) > 3 else 0.05
    a = json.load(open(a_path))["queries"]
    b = json.load(open(b_path))["queries"]
    common = sorted(set(a) & set(b))
    rows = [(a[q] - b[q], a[q], b[q], q) for q in common]
    rows.sort()
    print(f"{'query':40s} {'A':>8s} {'B':>8s} {'A-B':>8s} {'B/A':>6s}")
    for d, av, bv, q in rows:
        if abs(d) < min_d:
            continue
        ratio = f"{bv / av:6.2f}" if av > 0 else f"{'-':>6s}"
        print(f"{q:40s} {av:8.3f} {bv:8.3f} {d:+8.3f} {ratio}")
    ta, tb = sum(a[q] for q in common), sum(b[q] for q in common)
    # a non-positive time has no log: the geomean is over the valid
    # pairs only, and says so via n_valid
    valid = [q for q in common if a[q] > 0 and b[q] > 0]
    geo = (
        math.exp(sum(math.log(b[q] / a[q]) for q in valid) / len(valid))
        if valid
        else float("nan")
    )
    print(
        f"\ntotal A={ta:.1f}s B={tb:.1f}s (A-B {ta - tb:+.1f}s); "
        f"geomean B/A speedup={geo:.3f}; n={len(common)} "
        f"n_valid={len(valid)}"
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
