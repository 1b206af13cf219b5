#!/usr/bin/env python3
"""The repository benchmark: question-to-rows latency of the NL->SQL bridge and
pass time of three gate families, each measured from outside the program.

One run of one workload:

    python3 perfbench/run.py --workload bridge_ask --seed 1 --seconds 10 --trace 0

builds the program and the harness from source on first use (sbt, offline),
generates the workload's inputs from the seed, runs them in one fresh JVM,
checks every output against DuckDB, prints a readable summary and, as the
last line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
`--trace 0` reports the end-to-end metrics, `--trace 1` the per-layer ones.

Every workload, untraced then traced, with the tracing overhead:

    python3 perfbench/run.py --all --seed 1 --seconds 10

See perfbench/README.md for the workloads, the metrics and what each layer
metric is expected to move.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

BENCH = Path(__file__).resolve().parent
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

GATE_DATA = BENCH / "data" / "sf0.01"
WORKLOADS = {
    "bridge_ask": None,
    "gates_iterative": ["q187_pagerank", "q91_stateful_stream"],
}
JVM_TIMEOUT_S = 150
TAIL_MIN_OPS = 100   # ten ops beyond the 90th percentile
BUILD_TIMEOUT_S = 800


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


# ---- build ----

def _sources():
    files = [ROOT / "build.sbt"] + sorted((ROOT / "project").glob("*.sbt")) + \
        sorted((ROOT / "project").glob("build.properties"))
    for d in (ROOT / "src" / "main", BENCH / "harness" / "src"):
        files += sorted(p for p in d.rglob("*") if p.is_file())
    files += [BENCH / "harness" / "build.sbt",
              BENCH / "harness" / "project" / "build.properties"]
    return files


def ensure_built():
    """Compile the program and the harness unless this source tree already
    was; return the launch description (classpath and JVM options)."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main").is_dir():
        fail(f"{ROOT} holds no program sources (build.sbt, src/main)")
    h = hashlib.sha256()
    for f in _sources():
        h.update(str(f.relative_to(ROOT)).encode())
        h.update(f.read_bytes())
    stamp = h.hexdigest()
    build = ROOT / ".bench_build"
    launch = build / "launch.json"
    if launch.is_file():
        got = json.loads(launch.read_text())
        if got.get("stamp") == stamp:
            return got
    build.mkdir(exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = Path.home() / ".sbt" / "repositories"
    env["SBT_OPTS"] = " ".join(
        ["-Dsbt.offline=true", "-Xmx2g"] +
        ([f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"]
         if repos.is_file() else []))
    harness = BENCH / "harness"
    log = build / "build.log"
    print("perfbench: building program and harness (sbt) ...", file=sys.stderr)
    with open(log, "w") as out:
        try:
            rc = subprocess.run(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=harness, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        except (OSError, subprocess.TimeoutExpired) as e:
            fail(f"build did not finish: {e}")
    if rc != 0:
        sys.stderr.write(log.read_text()[-4000:])
        fail(f"build failed (exit {rc}); log in {log}")
    got = json.loads((harness / "target" / "launch.json").read_text())
    got["stamp"] = stamp
    launch.write_text(json.dumps(got))
    return got


# ---- one run ----

def pass_time(res, gates):
    """One pass's time: on bridge_ask the median over blocks of asks; on a gate
    workload the sum over its gates of each gate's median timed call."""
    if gates is None:
        return statistics.median(res["passes_s"])
    per = {}
    for g, ms in zip(res["extra"]["op_gates"], res["ops_ms"]):
        per.setdefault(g, []).append(ms / 1e3)
    return sum(statistics.median(v) for v in per.values())


def _cpu_times():
    """(steal, total) jiffies of the whole machine, for the run summary:
    time other tenants took from this machine's CPUs slows every metric."""
    try:
        f = [int(x) for x in Path("/proc/stat").read_text().split("\n")[0].split()[1:]]
        return f[7], sum(f)
    except (OSError, ValueError, IndexError):
        return 0, 0


def run_once(workload, seed, seconds, trace):
    """Run one workload once; returns (result dict, metrics, failures)."""
    import check
    import gen
    if workload not in WORKLOADS:
        fail(f"unknown workload {workload}; one of {', '.join(WORKLOADS)}")
    launch = ensure_built()
    runs = ROOT / ".bench_run"
    run_dir = runs / f"{workload}-{os.getpid()}-{time.time_ns()}"
    try:
        inputs, out, work = run_dir / "inputs", run_dir / "out", run_dir / "work"
        for d in (inputs, out, work, run_dir / "tmp", run_dir / "local",
                  run_dir / "artifacts"):
            d.mkdir(parents=True)
        gates = WORKLOADS[workload]
        if gates is None:
            expected = gen.write_bridge_inputs(seed, inputs)
        else:
            gen.write_gate_inputs(seed, inputs, gates)
        cpus = len(os.sched_getaffinity(0))
        env = dict(os.environ, SPARK_LOCAL_DIRS=str(run_dir / "local"),
                   GRAFT_ARTIFACT_ROOT=str(run_dir / "artifacts"))
        cmd = (["java"] + launch["java_options"] +
               [f"-Djava.io.tmpdir={run_dir / 'tmp'}",
                "-cp", os.pathsep.join(launch["classpath"]), launch["main"],
                "--workload", workload, "--seconds", str(seconds),
                "--trace", str(trace), "--cpus", str(cpus),
                "--inputs", str(inputs), "--data", str(GATE_DATA),
                "--out", str(out)])
        launched = time.time()
        cpu0 = _cpu_times()
        with open(run_dir / "jvm.log", "w") as log:
            try:
                rc = subprocess.run(cmd, cwd=work, env=env, stdout=log,
                                    stderr=subprocess.STDOUT,
                                    stdin=subprocess.DEVNULL,
                                    timeout=JVM_TIMEOUT_S).returncode
            except subprocess.TimeoutExpired:
                rc = "timeout"
        if rc != 0 or not (out / "result.json").is_file():
            sys.stderr.write((run_dir / "jvm.log").read_text()[-4000:])
            fail(f"{workload}: JVM exited with {rc}")
        cpu1 = _cpu_times()
        res = json.loads((out / "result.json").read_text())
        res["steal_share"] = (cpu1[0] - cpu0[0]) / max(cpu1[1] - cpu0[1], 1)
        if gates is None:
            bad = check.check_bridge(inputs / "queuedata.parquet", expected,
                                     res, gen.MAX_ROWS)
        else:
            bad = check.check_gates(GATE_DATA, out, res)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
        try:
            runs.rmdir()
        except OSError:
            pass
    # an op is one ask on bridge_ask and one pass over the list on a gate
    # workload: calls to different gates are not samples of one latency
    passes = res["passes_s"]
    ops = res["ops_ms"] if gates is None else [p * 1e3 for p in passes]
    if len(ops) < 2 or not passes:
        fail(f"{workload}: too few timed ops ({len(ops)}) or passes ({len(passes)})")
    e2e = {
        "setup_s": res["setup_end_ms"] / 1e3 - launched,
        "ask_p50_ms": statistics.median(ops),
        "ask_p90_ms": tail(ops),
        "asks_per_s": len(ops) / (sum(ops) / 1e3),
        "pass_s": pass_time(res, gates),
    }
    return res, e2e, bad


def tail(ops):
    """The 90th percentile, when at least ten ops lie beyond it; a run with
    fewer than 100 ops (a gate workload's handful of passes) has no tail to
    report, and gives its median instead."""
    if len(ops) < TAIL_MIN_OPS:
        return statistics.median(ops)
    return statistics.quantiles(ops, n=10, method="inclusive")[8]


def spec():
    return json.loads((ROOT / "BENCHMARK.json").read_text())


def metrics_of(res, e2e, trace):
    """The result's metrics: every end-to-end metric of BENCHMARK.json, or
    with tracing every per-layer one (0 for a layer the workload skips)."""
    got = dict(e2e)
    if trace:
        got = dict(res["layers"], **{"jvm.rss_peak_mb": res["rss_peak_mb"],
                                     "trace.pass_s": e2e["pass_s"],
                                     "trace.ask_p50_ms": e2e["ask_p50_ms"]})
    return {m["name"]: {"value": got.get(m["name"], 0.0), "unit": m["unit"]}
            for m in spec()["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--all", action="store_true",
                    help="every workload, untraced then traced")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=None)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    seconds = a.seconds or spec()["run_seconds"]
    if a.all:
        return run_all(a.seed, seconds)
    if not a.workload:
        fail("--workload or --all is required")
    res, e2e, bad = run_once(a.workload, a.seed, seconds, a.trace)
    failed = res["failed"] + len(bad)
    metrics = metrics_of(res, e2e, a.trace)
    print(f"workload {a.workload}  seed {a.seed}  trace {a.trace}  "
          f"ops {len(res['ops_ms'])}  passes {len(res['passes_s'])}")
    for msg in res["errors"] + bad[:20]:
        print(f"  FAILED {msg}")
    print(f"  {'error_rate':<24} {failed / res['attempted']:.4f} ratio "
          f"({failed}/{res['attempted']})")
    print(f"  {'rss_peak_mb':<24} {res['rss_peak_mb']:.1f} MiB")
    if WORKLOADS[a.workload] is None:
        print(f"  {'asks_per_s':<24} {e2e['asks_per_s']:.6g} 1/s")
    print(f"  {'cpu_steal':<24} {res['steal_share']:.3f} share of machine CPU "
          "time taken by other tenants during the run")
    for k, m in metrics.items():
        print(f"  {k:<24} {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0, "attempted": res["attempted"],
                      "failed": failed, "metrics": metrics}))


def run_all(seed, seconds):
    """Every workload untraced then traced; one table with the tracing
    overhead (traced minus untraced) of pass_s and ask_p50_ms."""
    e2e_spec = spec()["end_to_end"]
    names = [m["name"] for m in e2e_spec]
    print(f"{'workload':<16}" +
          "".join(f"{m['name'] + ' (' + m['unit'] + ')':>20}" for m in e2e_spec) +
          f"{'asks_per_s (1/s)':>20}{'error_rate (ratio)':>20}"
          f"{'rss_peak_mb (MiB)':>20}  trace overhead")
    for w in WORKLOADS:
        res, e2e, bad = run_once(w, seed, seconds, 0)
        tres, te2e, tbad = run_once(w, seed, seconds, 1)
        failed = res["failed"] + len(bad) + tres["failed"] + len(tbad)
        attempted = res["attempted"] + tres["attempted"]
        over = (f"pass_s {te2e['pass_s'] - e2e['pass_s']:+.3f} s, "
                f"ask_p50_ms {te2e['ask_p50_ms'] - e2e['ask_p50_ms']:+.1f} ms")
        rate = f"{e2e['asks_per_s']:>20.4g}" if WORKLOADS[w] is None else f"{'-':>20}"
        print(f"{w:<16}" + "".join(f"{e2e[n]:>20.4g}" for n in names) + rate +
              f"{failed / attempted:>20.4f}{res['rss_peak_mb']:>20.1f}  {over}",
              flush=True)
        for msg in (res["errors"] + bad + tres["errors"] + tbad)[:10]:
            print(f"  FAILED {msg}")


if __name__ == "__main__":
    main()
