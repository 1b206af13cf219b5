#!/usr/bin/env python3
"""Compare two legmin-folded bench files (base vs new) per query.

Usage: abcmp.py <base.json> <new.json> [top_n]
Prints total/geomean and the largest improvements and regressions.
"""
import json
import math
import sys


def load(p):
    d = json.load(open(p))
    return {k: v for k, v in d["queries"].items() if v is not None}


def main():
    base, new = load(sys.argv[1]), load(sys.argv[2])
    top_n = int(sys.argv[3]) if len(sys.argv) > 3 else 15
    shared = set(base) & set(new)
    # a zero timing has no ratio: skip it instead of dividing by it
    common = sorted(q for q in shared if base[q] > 0 and new[q] > 0)
    if not common:
        sys.exit(f"abcmp: no query has a nonzero timing in both files "
                 f"({len(shared)} shared)")
    if len(common) < len(shared):
        print(f"skipped {len(shared) - len(common)} queries with a zero "
              f"timing")
    tb = sum(base[q] for q in common)
    tn = sum(new[q] for q in common)
    ratios = [(base[q] / new[q], q) for q in common]
    geo = math.exp(sum(math.log(r) for r, _ in ratios) / len(ratios))
    print(f"queries={len(common)}  total base={tb:.1f}s new={tn:.1f}s "
          f"({tb / tn:.3f}x)  per-query geomean={geo:.3f}x")
    ratios.sort(reverse=True)
    print("\n-- biggest improvements (base_s -> new_s, speedup):")
    for r, q in ratios[:top_n]:
        print(f"  {base[q]:7.3f} -> {new[q]:7.3f}  {r:5.2f}x  {q}")
    print("\n-- biggest regressions:")
    for r, q in ratios[-top_n:][::-1]:
        if r >= 1:
            break
        print(f"  {base[q]:7.3f} -> {new[q]:7.3f}  {r:5.2f}x  {q}")


if __name__ == "__main__":
    main()
