"""Output checks, run after the engine has exited and outside every timing.

Query results are compared with DuckDB running the query's oracle SQL
over the same parquet files: sorted column names, row count, and a
canonical value form over rows sorted by all columns. Job outputs are
compared with a word count and a grep computed here in Python, and must
have the properties the MapReduce method guarantees.
"""
import hashlib
import json
import os
import re
import sys
from collections import Counter

import duckdb
import pandas as pd

# the repository's own canonical form for query results: the one its
# DuckDB comparison (tools/compare.py) applies
sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import TABLES, canon  # noqa: E402


def oracle_rows(input_dir, sql, cache_dir, input_digest):
    """DuckDB's canonical result for `sql`, cached by inputs and SQL."""
    key = hashlib.sha256(f"{input_digest}\0{sql}".encode()).hexdigest()[:24]
    path = os.path.join(cache_dir, key + ".json")
    if os.path.exists(path):
        with open(path) as fh:
            got = json.load(fh)
        return got["columns"], [tuple(r) for r in got["rows"]]
    con = duckdb.connect()
    con.execute(f"SET threads TO {os.cpu_count() or 1}")
    for t in TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{input_dir}/{t}.parquet'")
    exp = con.sql(sql).df()
    con.close()
    exp.columns = [c.lower() for c in exp.columns]
    cols, rows = sorted(exp.columns), canon(exp)
    os.makedirs(cache_dir, exist_ok=True)
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as fh:
        json.dump({"columns": cols, "rows": rows}, fh)
    os.replace(tmp, path)
    return cols, rows


def check_query(result_dir, input_dir, sql, cache_dir, input_digest):
    """None when the engine's result equals the oracle's, else why not."""
    got = pd.read_parquet(result_dir)
    got.columns = [c.lower() for c in got.columns]
    cols, exp = oracle_rows(input_dir, sql, cache_dir, input_digest)
    if sorted(got.columns) != cols:
        return f"columns differ: got {sorted(got.columns)} expected {cols}"
    try:
        g = canon(got)
    except TypeError as e:
        return str(e)
    if len(g) != len(exp):
        return f"row count {len(g)}, expected {len(exp)}"
    if g != exp:
        i = next(i for i in range(len(g)) if g[i] != exp[i])
        return f"values differ at sorted row {i}: got {g[i]} expected {exp[i]}"
    return None


# ---- MapReduce jobs ---------------------------------------------------------

_WC_SPLIT = re.compile(r"[ \t\[\]]")


def _lines(input_dir):
    for name in sorted(os.listdir(input_dir)):
        with open(os.path.join(input_dir, name), encoding="ascii") as fh:
            for line in fh.read().split("\n")[:-1]:
                yield line


def expected_outputs(input_dir, term):
    """Word count and grep of the text directory, computed apart from the
    engine: word count follows wc_map.sh (split on space, tab, '[' and
    ']', lowercase, empty tokens kept); grep keeps stripped, non-blank
    lines containing `term` case-insensitively."""
    wc = Counter()
    grep = Counter()
    for line in _lines(input_dir):
        wc.update(_WC_SPLIT.split(line.lower()))
        s = line.strip()
        if s and term in s.lower():
            grep[s] += 1
    return ({f"{k}\t{v}": 1 for k, v in wc.items()}, grep)


def md5_part(key, r):
    return int(hashlib.md5(key.encode()).hexdigest(), 16) % r


def check_job(out_dir, op, r, expected):
    """None when one job's part files are right, else why not."""
    names = sorted(os.listdir(out_dir))
    want = [f"part-{i:05d}" for i in range(r)]
    if names != want:
        return f"part files {names[:6]}, expected {want}"
    parts = []
    for n in names:
        with open(os.path.join(out_dir, n), "rb") as fh:
            data = fh.read()
        lines = data.split(b"\n")
        if lines and lines[-1] == b"":
            lines.pop()
        if lines != sorted(lines):
            return f"{n} is not byte-sorted"
        parts.append([ln.decode("ascii") for ln in lines])
    wordcount = op.endswith("wordcount")
    got = Counter(ln for p in parts for ln in p)
    want_lines = expected[0] if wordcount else expected[1]
    if got != Counter(want_lines):
        missing = Counter(want_lines) - got
        extra = got - Counter(want_lines)
        return (f"output differs: {sum(missing.values())} lines missing "
                f"(e.g. {list(missing)[:2]}), {sum(extra.values())} extra "
                f"(e.g. {list(extra)[:2]})")
    home = {}
    for i, p in enumerate(parts):
        for ln in p:
            key = ln.split("\t", 1)[0] if wordcount else ln
            if home.setdefault(key, i) != i:
                return f"key {key!r} is in more than one part file"
            if op.startswith("submit_"):
                # the executable path routes by the map output's key: the
                # word for word count, the constant "1" for grep
                route = md5_part(key if wordcount else "1", r)
                if route != i:
                    return f"key {key!r} in part {i}, md5 routes it to {route}"
    return None
