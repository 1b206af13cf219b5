"""Output checks, run after the timed region.

bridge_ask: every answered question's repaired SQL must equal the SQL the
generator expects, and its bounded rows must equal what DuckDB returns for
that SQL on the same parquet (compared through the same order-insensitive
row digest the harness computes).

gates_*: the repository's correctness gate, tools/check.py, runs unmodified
over every gate's checked-pass result: oracle SQL in DuckDB, HUGEINT
columns refused, columns sorted by name, dtype family, exact cells row by
row; gates without an oracle must return rows. Every timed `count()` must
equal that result's row count.

Each function returns a list of failure messages; empty means correct.
"""
import hashlib
import json
import subprocess
import sys
from pathlib import Path

import duckdb


def _cell(v):
    if v is None:
        return "\\N"
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v) if not isinstance(v, float) else repr(v)


def rows_hash(rows):
    lines = sorted("\x1f".join(_cell(v) for v in r) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def check_bridge(parquet, expected, result, max_rows):
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"CREATE TABLE queuedata AS SELECT * FROM read_parquet('{parquet}')")
    answers = {a["id"]: a for a in result["extra"]["answers"]}
    bad = []
    for qid, a in answers.items():
        exp = expected[qid]
        if a["sql"].strip() != exp.strip():
            bad.append(f"ask {qid}: repaired SQL {a['sql']!r} != expected {exp!r}")
            continue
        body = exp.strip().rstrip(";")
        try:
            cur = con.execute(f"{body} LIMIT {max_rows + 1}")
            cols = [d[0] for d in cur.description]
            rows = cur.fetchall()
        except Exception as e:  # noqa: BLE001 - any engine error is a mismatch
            bad.append(f"ask {qid}: DuckDB failed on {exp!r}: {e}")
            continue
        got = (a["fetched"], a["truncated"], [c.lower() for c in a["columns"]],
               a["rows_hash"])
        want = (len(rows), len(rows) > max_rows, [c.lower() for c in cols],
                rows_hash(rows[:max_rows]))
        if got != want:
            bad.append(f"ask {qid}: {exp!r} gave (fetched, truncated, columns, "
                       f"digest) {got[:3]} but DuckDB {want[:3]}"
                       + ("" if got[:3] != want[:3] else " (rows differ)"))
    return bad


# ---- gates: the repository's correctness gate, run as is ----

def check_gates(data_dir, out_dir, result):
    """Run tools/check.py (the repository's correctness gate, unmodified)
    over the checked-pass results, then compare every timed count() with
    the checked result's row count."""
    gates_dir = Path(out_dir) / "gates"
    (gates_dir / "oracle_sql.json").write_text(json.dumps(result["extra"]["oracle"]))
    tool = Path(__file__).resolve().parent.parent / "tools" / "check.py"
    got = subprocess.run([sys.executable, str(tool), str(data_dir), str(gates_dir)],
                         capture_output=True, text=True, timeout=120)
    bad = []
    if got.returncode != 0:
        fails = got.stdout.partition("\nFAILURES")[2].splitlines()[1:]
        bad += [f"tools/check.py: {ln.strip()}" for ln in fails
                if ln.startswith("  ") and not ln.startswith("    ")] or \
            [f"tools/check.py exited {got.returncode}: "
             f"{(got.stdout + got.stderr)[-1000:]}"]
    con = duckdb.connect()
    sizes = {d.name: con.execute(
        f"SELECT COUNT(*) FROM read_parquet('{d}/*.parquet')").fetchone()[0]
        for d in gates_dir.iterdir() if d.is_dir()}
    for c in result["extra"]["counts"]:
        if c["gate"] not in sizes:
            bad.append(f"{c['gate']}: no checked result")
        elif c["rows"] != sizes[c["gate"]]:
            bad.append(f"{c['gate']}: timed count {c['rows']} != checked "
                       f"result's {sizes[c['gate']]} rows")
    return bad
