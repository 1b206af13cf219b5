"""Seeded inputs for the benchmark workloads.

Everything here is a pure function of the seed: the queuedata-shaped table,
its 92-entry data dictionary, the question pool with the raw model output
for each question and the SQL the repair pipeline must turn it into, the
ask sequence, and the gate order of every pass. The program under test only
ever sees the files written by `write_bridge_inputs` / `write_gate_inputs`.
"""
import difflib
import json
import random
import re
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_ROWS = 100_000
MAX_ROWS = 1000          # Bridge.ask's bounded fetch, the library default
WARMUP_ASKS = 72         # untimed and checked; fresh questions only
SEQUENCE_ASKS = 2500     # more than a run gets through
REPEAT_SHARE = 0.3       # share of timed asks that re-ask an earlier question
FUZZY_CUTOFF = 0.86      # SqlRepair's fuzzy identifier cutoff

# the repair pipeline's keyword whitelist (never fuzzy-repaired)
KEYWORDS = {
    "select", "from", "where", "and", "or", "not", "in", "as", "on", "join",
    "left", "right", "inner", "outer", "group", "by", "order", "limit",
    "offset", "having", "distinct", "like", "ilike", "lower", "upper",
    "count", "sum", "avg", "min", "max", "json", "json_extract"}

# ---- the table: 92 columns in the reference dictionary's type mix ----
# VARCHAR x69, BIGINT x10, INTEGER x4, JSON x4, BOOLEAN x3, DOUBLE x1, FLOAT x1
VARCHAR_COLS = [
    "queue", "status", "state", "country", "cloud", "harvester",
    "harvester_template", "fairsharepolicy", "hc_param",
    "appdir", "catchall", "comment_text", "container_options",
    "container_type", "description", "environ", "jobseed", "localqueue",
    "nickname", "pandasite", "panda_resource", "pilot_manager",
    "pilot_version", "resource_type", "rc_site", "site", "tier", "vo_name",
    "workflow", "zip_dir", "wnconnectivity", "queue_type", "params",
    "releases", "siteid", "special_par", "storage_element", "state_comment",
    "status_reason", "email_contact", "admin_name", "batch_system",
    "ce_endpoint", "ce_flavour", "ce_queue", "cvmfs_path", "data_policy",
    "dns_alias", "edition", "execution_mode", "fair_group", "gatekeeper",
    "glexec", "harvester_params", "image_name", "jdl", "lfcpath",
    "memory_policy", "network_zone", "os_release", "pilot_url",
    "proxy_mode", "python_version", "queue_tags", "quota_group", "se_path",
    "site_tags", "timezone_name", "uuid_text"]
BIGINT_COLS = ["id", "maxrss", "maxtime", "maxwdir", "maxinputsize",
               "minrss", "mintime", "timefloor", "maxjobs", "pilot_limit"]
INTEGER_COLS = ["corecount", "pledgedcpu", "transferringlimit", "maxdiskio"]
JSON_COLS = ["acopytools", "astorages", "copytools", "hc_suite"]
BOOLEAN_COLS = ["direct_access_lan", "is_cvmfs", "use_pcache"]

STATUS = ["online", "offline", "test", "brokeroff"]
STATUS_P = [0.55, 0.25, 0.12, 0.08]
STATES = ["active", "draining", "idle", "n/a"]
COUNTRIES = ["United States", "United Kingdom", "France", "Germany",
             "Italy", "Spain", "Canada", "Taiwan", "Netherlands", "Norway"]
CLOUDS = ["CERN", "DE", "FR", "IT", "ND", "NL", "ES", "CA", "TW", "RU"]
CORES = [1, 2, 4, 8, 16, 32, 64]
# literal aliases the dictionary maps (country) or nulls (state, harvester)
COUNTRY_MAP = {"us": "United States", "usa": "United States",
               "america": "United States", "uk": "United Kingdom",
               "gb": "United Kingdom"}
ALIASES = {
    "queue": ["name", "queuename"], "status": ["condition"],
    "corecount": ["cores", "ncores"], "country": ["nation"],
    "pledgedcpu": ["pledged_cpu"], "maxrss": ["max_rss"],
    "maxtime": ["walltime"], "harvester": ["harvester_instance"],
    "resource_type": ["rtype"], "corepower": ["hs06"],
    "coreenergy": ["energy"], "tier": ["tier_level"],
    "vo_name": ["virtual_org"], "batch_system": ["lrms"],
    "ce_flavour": ["ce_kind"], "site": ["sitename"],
}


def all_columns():
    cols = ([(c, "VARCHAR") for c in VARCHAR_COLS] +
            [(c, "BIGINT") for c in BIGINT_COLS] +
            [(c, "INTEGER") for c in INTEGER_COLS] +
            [(c, "JSON") for c in JSON_COLS] +
            [(c, "BOOLEAN") for c in BOOLEAN_COLS] +
            [("corepower", "DOUBLE"), ("coreenergy", "FLOAT")])
    assert len(cols) == 92 and len({c for c, _ in cols}) == 92
    return cols


def _word(rng, n):
    """A short lowercase token that is no column name's near-miss."""
    return "".join(rng.choice("bcdfghjkmnpqrstvwxz") if i % 2 == 0
                   else rng.choice("aeiou") for i in range(n))


def generic_vocab(rng, names):
    """Per-column value vocabularies for the columns without a fixed domain."""
    return {c: [f"{_word(rng, 4)}{k}" for k in range(12)] for c in names}


def write_table(seed, path):
    """The queuedata-shaped parquet table; returns the generic vocabularies."""
    rng = np.random.default_rng(seed)
    prng = random.Random(seed)
    fixed = {"queue", "status", "state", "country", "cloud"}
    vocab = generic_vocab(prng, [c for c in VARCHAR_COLS if c not in fixed])
    n = N_ROWS
    data = {}
    for c, t in all_columns():
        if c == "queue":
            data[c] = pa.array([f"Q{i:06d}" for i in rng.permutation(n)])
        elif c == "status":
            data[c] = pa.array(rng.choice(STATUS, n, p=STATUS_P).tolist())
        elif c == "state":
            data[c] = pa.array(rng.choice(STATES, n).tolist())
        elif c == "country":
            data[c] = pa.array(rng.choice(COUNTRIES, n).tolist())
        elif c == "cloud":
            data[c] = pa.array(rng.choice(CLOUDS, n).tolist())
        elif t == "VARCHAR":
            vals = np.array(vocab[c] + [None], dtype=object)
            data[c] = pa.array(vals[rng.integers(0, len(vals), n)].tolist(),
                               type=pa.string())
        elif c == "id":
            data[c] = pa.array(np.arange(1, n + 1, dtype=np.int64))
        elif t == "BIGINT":
            data[c] = pa.array(rng.integers(0, 1 << 20, n, dtype=np.int64))
        elif c == "corecount":
            vals = rng.choice(CORES, n).astype(np.int32)
            mask = rng.random(n) < 0.02
            data[c] = pa.array(vals, mask=mask)
        elif t == "INTEGER":
            data[c] = pa.array(rng.integers(-1, 500, n, dtype=np.int32))
        elif t == "JSON":
            docs = np.array(["[]"] + [json.dumps({"pr": [f"tool{v}"], "n": v})
                                      for v in range(1, 6)], dtype=object)
            data[c] = pa.array(docs[rng.integers(0, 6, n)].tolist())
        elif t == "BOOLEAN":
            data[c] = pa.array(rng.random(n) < 0.5)
        elif t == "DOUBLE":
            # multiples of 1/8: exact in binary, so both engines agree
            data[c] = pa.array(rng.integers(40, 200, n) / 8.0)
        elif t == "FLOAT":
            data[c] = pa.array((rng.integers(0, 64, n) / 4.0)
                               .astype(np.float32))
    pq.write_table(pa.table(data), path, row_group_size=25_000)
    return vocab


def write_dictionary(seed, path, vocab):
    """The 92-entry data dictionary: aliases, case rules, map_values,
    allowed values in every shape the dictionary codec accepts, importance."""
    rng = random.Random(seed + 1)
    cols = []
    for c, t in all_columns():
        e = {"name": c, "type": t,
             "description": f"{c.replace('_', ' ')} of the queue",
             "aliases": ALIASES.get(c, []),
             "importance": 10 if c in ("queue", "status") else rng.randint(1, 9),
             "canonicalization": {}}
        if c == "status":
            e["allowed_values"] = STATUS
            e["canonicalization"] = {
                "case": "lower",
                "map_values": {s.upper(): s for s in STATUS}}
        elif c == "state":
            e["allowed_values"] = {"enumeration": STATES}
            e["canonicalization"] = {"map_values": {"n/a": None}}
        elif c == "country":
            e["allowed_values"] = {"enumeration": COUNTRIES}
            e["canonicalization"] = {"map_values": COUNTRY_MAP}
        elif c == "cloud":
            e["allowed_values"] = {"enumeration": CLOUDS}
            e["canonicalization"] = {"case": "upper"}
        elif c == "harvester":
            e["allowed_values"] = {"examples": vocab[c][:3]}
            e["canonicalization"] = {"map_values": {"none": None}}
        elif t in ("BIGINT", "INTEGER", "DOUBLE", "FLOAT"):
            e["allowed_values"] = {"range": [0, 1 << 20]}
        elif t == "JSON":
            e["allowed_values"] = {"pr": ["tool1"], "n": 1}
            e["access"] = {"duckdb": f"json_extract({c}, '$.pr[0]')"}
        elif c in vocab and rng.random() < 0.5:
            e["allowed_values"] = vocab[c][:6]
        elif c in vocab:
            e["allowed_values"] = {"pattern": "[a-z]{4}[0-9]+"}
        cols.append(e)
    d = {"version": "1", "table": "queuedata",
         "notes": "generated benchmark dictionary", "columns": cols,
         "rules": ["Use LOWER() for case-insensitive matches.",
                   "Never select all columns."]}
    Path(path).write_text(json.dumps(d, indent=1))


# ---- the question pool ----

def _ratio(a, b):
    return difflib.SequenceMatcher(None, a, b).ratio()


def typos(columns):
    """For every column that has one: a one-character deletion or transposition
    that fuzzy repair maps back to exactly that column."""
    names = [c for c, _ in columns]
    aliases = {a for v in ALIASES.values() for a in v}
    out = {}
    for c in names:
        cands = [c[:i] + c[i + 1:] for i in range(1, len(c) - 1)]
        cands += [c[:i] + c[i + 1] + c[i] + c[i + 2:]
                  for i in range(1, len(c) - 2)]
        for t in cands:
            if t in names or t in aliases or t in KEYWORDS:
                continue
            scores = sorted(((_ratio(t, o), o) for o in names), reverse=True)
            if scores[0][1] == c and scores[0][0] >= FUZZY_CUTOFF and \
                    scores[1][0] < scores[0][0]:
                out[c] = t
                break
    return out


def _fence(sql, lang="sql"):
    return f"```{lang}\n{sql}\n```"


class Pool:
    """Draws (question, raw model output, expected SQL) triples.

    Shapes follow the recorded model outputs the repair pipeline is tested
    on: fenced CTEs with prose, trailing semicolons, several fences, typos
    with aliases and wrong-case literals, mixed-case identifiers, literals
    mapped to NULL or to a canonical value, LOWER() predicates, and plain
    aggregates. Most results exceed the bounded fetch, so truncation runs.
    """

    def __init__(self, seed, vocab):
        self.rng = random.Random(seed + 2)
        self.vocab = vocab
        self.cols = all_columns()
        self.typo = typos(self.cols)
        self.varchar = [c for c in VARCHAR_COLS if c in vocab]
        self.shapes = [self.fenced_cte, self.semicolon, self.multi_fence,
                       self.fuzzy_alias, self.mixed_case, self.null_map,
                       self.country_map, self.alias_numeric, self.lower_func,
                       self.cte_commentary, self.group_count,
                       self.typo_any]
        self.round = []

    def draw(self):
        """Shapes come round in seeded-shuffled rounds of one of each, so every
        stretch of asks carries the same mix whatever the seed."""
        if not self.round:
            self.round = self.rng.sample(self.shapes, len(self.shapes))
        return self.round.pop()()

    def _status(self):
        return self.rng.choice(STATUS)

    def _cloud(self):
        return self.rng.choice(CLOUDS)

    def _col(self):
        return self.rng.choice(self.varchar)

    def fenced_cte(self):
        s, cl, c2 = self._status(), self._cloud(), self._col()
        cte = self.rng.choice(["sel", "picked", "subset"])
        body = ("WITH {cte} AS (\n  SELECT queue, {c2} FROM queuedata "
                "WHERE status = '{s}' AND cloud = '{cl}'\n)\n"
                "SELECT queue, {c2} FROM {cte} ORDER BY queue")
        raw = ("Here is the query:\n\n" +
               _fence(body.format(cte=cte, c2=c2, s=s.upper(), cl=cl)) +
               "\n\nThe CTE filters first, then projects.")
        return (f"{s} queues on cloud {cl} with their {c2}", raw,
                body.format(cte=cte, c2=c2, s=s, cl=cl))

    def semicolon(self):
        cl = self._cloud()
        raw = (f"select queue, site from queuedata where cloud = "
               f"'{cl.lower()}' order by queue;")
        exp = (f"select queue, site from queuedata where cloud = "
               f"'{cl}' order by queue;")
        return f"queues and site on the {cl} cloud", raw, exp

    def multi_fence(self):
        c = self._col()
        v = self.rng.choice(self.vocab[c])
        sql = f"SELECT COUNT(*) AS n FROM queuedata WHERE {c} = '{v}'"
        raw = ("Sure! The SQL is:\n\n" + _fence(sql) +
               "\n\nAnd from Python:\n\n" +
               _fence('print(con.sql("SELECT 1"))', "python"))
        return f"how many queues have {c} equal to {v}", raw, sql

    def fuzzy_alias(self):
        s = self._status()
        c2 = self.rng.choice(sorted(set(self.typo) - {"queue"}))
        tq = self.typo["queue"]
        raw = _fence(f"SELECT {tq}, {self.typo[c2]} FROM queuedata WHERE "
                     f"condition = '{s.upper()}' ORDER BY {tq}")
        exp = (f"SELECT queue, {c2} FROM queuedata WHERE status = '{s}' "
               f"ORDER BY queue")
        return f"{s} queues with their {c2} (condition)", raw, exp

    def mixed_case(self):
        s, c2 = self._status(), self._col()
        cc = "_".join(p.capitalize() for p in c2.split("_"))
        raw = (f"SELECT Queue, {cc} FROM QueueData WHERE Status = "
               f"'{s.upper()}' ORDER BY Queue")
        exp = (f"SELECT Queue, {cc} FROM QueueData WHERE Status = "
               f"'{s}' ORDER BY Queue")
        return f"{s} queues and {c2}, mixed-case style", raw, exp

    def null_map(self):
        col, lit = self.rng.choice([("state", "N/A"), ("state", "n/a"),
                                    ("harvester", "None")])
        cl = self._cloud()
        raw = (f"SELECT queue FROM queuedata WHERE {col} = '{lit}' "
               f"AND cloud = '{cl}'")
        exp = (f"SELECT queue FROM queuedata WHERE {col} = NULL "
               f"AND cloud = '{cl}'")
        return f"queues on {cl} whose {col} is the {lit} placeholder", raw, exp

    def country_map(self):
        src = self.rng.choice(sorted(COUNTRY_MAP))
        k = self.rng.choice(CORES)
        raw = _fence(f"SELECT queue, corecount FROM queuedata WHERE country = "
                     f"'{src}' AND corecount >= {k} ORDER BY queue", "")
        exp = (f"SELECT queue, corecount FROM queuedata WHERE country = "
               f"'{COUNTRY_MAP[src]}' AND corecount >= {k} ORDER BY queue")
        return f"queues located in {src} with at least {k} cores", raw, exp

    def alias_numeric(self):
        col = self.rng.choice(["corecount", "pledgedcpu", "maxrss", "maxtime"])
        alias = self.rng.choice(ALIASES[col])
        k = self.rng.randint(1, 1 << 19) if col in ("maxrss", "maxtime") \
            else self.rng.randint(1, 64)
        cl = self._cloud()
        raw = (f"SELECT queue, {alias} FROM queuedata WHERE {alias} >= {k} "
               f"AND cloud = '{cl}' ORDER BY queue")
        exp = (f"SELECT queue, {col} FROM queuedata WHERE {col} >= {k} "
               f"AND cloud = '{cl}' ORDER BY queue")
        return f"{cl} queues with {alias} of at least {k}", raw, exp

    def lower_func(self):
        s = self._status()
        mixed = s.capitalize() if self.rng.random() < 0.5 else s.upper()
        c2 = self._col()
        raw = (f"SELECT queue, {c2} FROM queuedata WHERE LOWER(status) = "
               f"'{mixed}' ORDER BY queue")
        exp = (f"SELECT queue, {c2} FROM queuedata WHERE LOWER(status) = "
               f"'{s}' ORDER BY queue")
        return f"{s} queues and their {c2} via LOWER()", raw, exp

    def cte_commentary(self):
        k = self.rng.choice(CORES)
        cl = self._cloud()
        body = ("WITH big AS (\n  SELECT {q}, {c} FROM queuedata WHERE {c} > "
                "{k} AND cloud = '{cl}'\n)\nSELECT {q} FROM big ORDER BY {q};")
        raw = ("Looking at your schema, I'd suggest:\n\n" +
               _fence(body.format(q="name", c="cores", k=k, cl=cl)) +
               "\n\nNote: `cores` counts physical cores per worker.")
        return (f"names of {cl} queues with more than {k} cores", raw,
                body.format(q="queue", c="corecount", k=k, cl=cl))

    def group_count(self):
        c = self.rng.choice(self.varchar + ["cloud", "status", "country"])
        s = self._status()
        sql = (f"SELECT {c}, COUNT(*) AS n FROM queuedata WHERE status = "
               f"'{s}' GROUP BY {c} ORDER BY n DESC, {c}")
        return f"how many {s} queues per {c}", sql, sql

    def typo_any(self):
        col = self.rng.choice(sorted(self.typo))
        cl = self._cloud()
        t = self.typo[col]
        raw = (f"SELECT queue, {t} FROM queuedata WHERE {t} IS NOT NULL AND "
               f"cloud = '{cl}' ORDER BY queue")
        exp = (f"SELECT queue, {col} FROM queuedata WHERE {col} IS NOT NULL "
               f"AND cloud = '{cl}' ORDER BY queue")
        return f"{cl} queues with a {col}", raw, exp


def check_untouched(exp, columns, cache):
    """Every identifier-like token the expected SQL keeps that is not a column
    or keyword must be out of fuzzy-repair range, or the pool is wrong."""
    names = [c for c, _ in columns]
    lower = {c.lower() for c in names}
    for tok in re.findall(r"\b[A-Za-z_]\w*\b", exp):
        if tok.lower() in KEYWORDS or tok.lower() in lower:
            continue
        if tok not in cache:
            cache[tok] = difflib.get_close_matches(tok, names, n=1,
                                                   cutoff=FUZZY_CUTOFF)
        assert not cache[tok], \
            f"token {tok!r} in {exp!r} is within repair range of {cache[tok]}"


def ask_sequence(seed, pool):
    """(warm-up asks, timed asks) as lists of question ids into `entries`."""
    rng = random.Random(seed + 3)
    entries, seen, near = [], {}, {}

    def fresh():
        while True:
            q, raw, exp = pool.draw()
            if q not in seen:
                check_untouched(exp, pool.cols, near)
                seen[q] = len(entries)
                entries.append({"id": len(entries), "question": q,
                                "raw": raw, "expected_sql": exp})
                return seen[q]

    warm = [fresh() for _ in range(WARMUP_ASKS)]
    timed = []
    for _ in range(SEQUENCE_ASKS):
        if timed and rng.random() < REPEAT_SHARE:
            timed.append(rng.choice(timed))
        else:
            timed.append(fresh())
    return entries, warm, timed


def write_bridge_inputs(seed, out):
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    vocab = write_table(seed, out / "queuedata.parquet")
    write_dictionary(seed, out / "dictionary.json", vocab)
    entries, warm, timed = ask_sequence(seed, Pool(seed, vocab))
    with open(out / "asks.jsonl", "w") as f:
        for e in entries:
            f.write(json.dumps({"id": e["id"], "question": e["question"],
                                "raw": e["raw"]}) + "\n")
    (out / "sequence.json").write_text(json.dumps(
        {"max_rows": MAX_ROWS, "warmup": warm, "timed": timed}))
    return {e["id"]: e["expected_sql"] for e in entries}


def write_gate_inputs(seed, out, gates, passes=64):
    """One seeded permutation of the gate list per pass."""
    rng = random.Random(seed + 4)
    orders = [rng.sample(gates, len(gates)) for _ in range(passes + 1)]
    out = Path(out)
    out.mkdir(parents=True, exist_ok=True)
    (out / "gates.json").write_text(json.dumps(
        {"check_order": orders[0], "pass_orders": orders[1:]}))
