#!/usr/bin/env python3
"""Whole-suite slope table: compares two graft.Verify records
(<outDir>/verify.json) — one run over the sf0.1 tables and one over the
10x fixture (graft.tools.TenXFixture) — and prints per-family totals plus
every query whose 10x/1x ratio exceeds the linear bar (default 12x, the
SCALE.md convention: linear growth + constant-factor room; queries under
0.3 s at 1x are reported but not flagged, their ratios are stage-floor
noise). Verify times each query writing its whole result, so the ratios
cover every operator the query computes.

Usage: slope_check.py <verify_1x.json> <verify_10x.json> [bar]
"""
import json
import sys
from collections import defaultdict


def main():
    one = json.load(open(sys.argv[1]))["queries"]
    ten = json.load(open(sys.argv[2]))["queries"]
    bar = float(sys.argv[3]) if len(sys.argv) > 3 else 12.0
    fam1, fam10 = defaultdict(float), defaultdict(float)
    flagged, watched = [], []
    for q in sorted(one):
        if q not in ten or one[q] < 0 or ten[q] < 0:
            continue
        fam = q[0]
        fam1[fam] += one[q]
        fam10[fam] += ten[q]
        ratio = ten[q] / one[q] if one[q] > 0 else float("inf")
        if ratio > bar:
            (flagged if one[q] >= 0.3 else watched).append((q, one[q], ten[q], ratio))
    print(f"{'family':>8} {'1x total':>10} {'10x total':>10} {'ratio':>7}")
    for f in sorted(fam1):
        r = fam10[f] / fam1[f] if fam1[f] else 0
        print(f"{f:>8} {fam1[f]:>10.2f} {fam10[f]:>10.2f} {r:>7.1f}")
    t1, t10 = sum(fam1.values()), sum(fam10.values())
    print(f"{'TOTAL':>8} {t1:>10.2f} {t10:>10.2f} {t10 / t1:>7.1f}")
    print(f"\nqueries over {bar}x (1x >= 0.3 s):")
    for q, a, b, r in sorted(flagged, key=lambda x: -x[3]):
        print(f"  {q:32s} {a:7.2f} -> {b:8.2f}  ({r:.1f}x)")
    if not flagged:
        print("  (none)")
    print(f"\nsub-0.3 s-at-1x queries over {bar}x (stage-floor noise band):")
    for q, a, b, r in sorted(watched, key=lambda x: -x[3]):
        print(f"  {q:32s} {a:7.2f} -> {b:8.2f}  ({r:.1f}x)")
    if not watched:
        print("  (none)")


if __name__ == "__main__":
    main()
