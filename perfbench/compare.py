#!/usr/bin/env python3
"""Parent-versus-change comparison on one workload.

    python3 perfbench/compare.py --parent PARENT_DIR --change CHANGE_DIR \\
        --workload gates_iterative [--pairs 10] [--seed 100] [--save runs.jsonl]
    python3 perfbench/compare.py --load runs.jsonl

PARENT_DIR and CHANGE_DIR are two checkouts of the program, each holding this
same perfbench/ directory (copy it into the parent checkout first); the
script refuses to compare runs made with different benchmark code. It runs
the benchmark in alternating pairs, the parent first in even pairs and the
change first in odd ones, with the same seed on both sides of a pair and a new
seed per pair. For every end-to-end metric it reports each side's median and
quartiles, the pair wins, and a verdict:

  gain        the change won at least 9 of every 10 pairs (ties count for
              neither side) and the medians differ by more than the parent's
              interquartile range; needs 10 pairs or more
  regression  the change's median is worse than the parent's by more than the
              metric's bound in BENCHMARK.json
  within bound  neither of the above, and the parent's spread is inside the
              bound
  unresolved  a run is missing or reads zero on either side (nothing is
              divided by it), or the spread is wider than the bound and not
              every change run beats every parent run
"""
import argparse
import hashlib
import json
import statistics
import subprocess
import sys
from pathlib import Path

BENCH = Path(__file__).resolve().parent


def tree_digest(d):
    h = hashlib.sha256()
    for p in sorted(Path(d).rglob("*")):
        rel = p.relative_to(d)
        if p.is_file() and not {"target", "__pycache__"} & set(rel.parts):
            h.update(str(rel).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def run(side, workload, seed, seconds):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=side, capture_output=True, text=True, timeout=1200)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def verdict(parent, change, better, bound):
    """(verdict, detail) for one metric from per-pair values (None = missing)."""
    if not parent or len(parent) != len(change) or \
            any(v is None or v == 0 for v in parent + change):
        return "unresolved", "a run is missing or reads zero"
    lower = better == "lower"
    wins = sum(1 for p, c in zip(parent, change) if (c < p if lower else c > p))
    mp, mc = statistics.median(parent), statistics.median(change)
    q1, _, q3 = statistics.quantiles(parent, n=4) if len(parent) > 1 \
        else (parent[0], None, parent[0])
    improved = mc < mp if lower else mc > mp
    detail = (f"wins {wins}/{len(parent)}, change/parent medians "
              f"{mc:.4g}/{mp:.4g} = {mc / mp:.3f}, parent IQR {q3 - q1:.4g}")
    if len(parent) >= 10 and wins >= 0.9 * len(parent) and improved and \
            abs(mc - mp) > q3 - q1:
        return "gain", detail
    worse = (mc - mp) / mp if lower else (mp - mc) / mp
    if worse > bound:
        return "regression", detail
    all_better = all((c < p if lower else c > p)
                     for c in change for p in parent)
    if (q3 - q1) / mp > bound and not all_better:
        return "unresolved", detail + " (spread wider than the bound)"
    return "within bound", detail


def report(records, spec):
    pairs = sorted({r["pair"] for r in records})
    for m in spec["end_to_end"]:
        vals = {"parent": [], "change": []}
        for i in pairs:
            for side in vals:
                got = [r for r in records if r["pair"] == i and r["side"] == side]
                res = got[0]["result"] if got else None
                ok = res is not None and res.get("correct")
                vals[side].append(res["metrics"][m["name"]]["value"]
                                  if ok and m["name"] in res["metrics"] else None)
        v, detail = verdict(vals["parent"], vals["change"], m["better"], m["bound"])
        for side, xs in vals.items():
            got = [x for x in xs if x is not None]
            if len(got) > 1:
                q1, med, q3 = statistics.quantiles(got, n=4)
                print(f"  {m['name']:<12} {side:<6} median {statistics.median(got):.4g} "
                      f"[{q1:.4g}, {q3:.4g}] {m['unit']} over {len(got)} runs")
        print(f"  {m['name']:<12} -> {v}: {detail}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent")
    ap.add_argument("--change")
    ap.add_argument("--workload")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=100)
    ap.add_argument("--seconds", type=int)
    ap.add_argument("--save")
    ap.add_argument("--load")
    a = ap.parse_args()
    spec = json.loads((BENCH.parent / "BENCHMARK.json").read_text())
    if a.load:
        records = [json.loads(l) for l in Path(a.load).read_text().splitlines() if l]
        report(records, spec)
        return
    if not (a.parent and a.change and a.workload):
        ap.error("--parent, --change and --workload are required (or --load)")
    mine = tree_digest(BENCH)
    for side in (a.parent, a.change):
        if tree_digest(Path(side) / "perfbench") != mine:
            sys.exit(f"{side}/perfbench differs from {BENCH}: runs must use "
                     "identical benchmark code")
    if a.pairs < 10:
        print(f"note: {a.pairs} pairs; a gain needs at least 10", file=sys.stderr)
    seconds = a.seconds or spec["run_seconds"]
    records = []
    for i in range(a.pairs):
        order = ["parent", "change"] if i % 2 == 0 else ["change", "parent"]
        for side in order:
            res = run(a.parent if side == "parent" else a.change,
                      a.workload, a.seed + i, seconds)
            records.append({"pair": i, "side": side, "seed": a.seed + i,
                            "workload": a.workload, "result": res})
            print(f"pair {i} {side}: "
                  f"{'missing' if res is None else res['metrics']}", flush=True)
    if a.save:
        Path(a.save).write_text("".join(json.dumps(r) + "\n" for r in records))
    report(records, spec)


if __name__ == "__main__":
    main()
