#!/usr/bin/env python3
"""Local dev mimic of the driver's DuckDB-oracle compare.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

For each <name>.parquet dir under verifyOutDir, runs the matching SQL from
oracle_sql.json in DuckDB (tables registered from sfDir parquet), then
compares row count, column names, and the multiset of rows (columns sorted
by name; values normalized: floats rounded to 6 decimals). Each verdict line
is flushed as it is printed and carries the oracle's wall seconds; the run
ends with the five slowest oracles. Queries that share an oracle SQL text
(q226_staged_pipeline reuses q217_full_pipeline's) run it once per run.

DuckDB runs under an explicit memory limit with a private spill directory
instead of its default limit of 80% of RAM, which a host shared with other
jobs may not have to give. An oracle that still runs out of memory is run
once more on one thread: each thread holds its own working set, and some
operators cannot spill theirs (q355_ivf_drift_recall fails at 8GB on four
threads and needs about 2.3 GB on one).
"""
import json
import math
import sys
import tempfile
import time

import duckdb

# q217_full_pipeline's oracle needs more than 4GB
MEMORY_LIMIT = "8GB"

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]


def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    return v


def main(sf_dir, out_dir):
    with tempfile.TemporaryDirectory(prefix="check_duckdb_") as spill:
        con = duckdb.connect(config={"memory_limit": MEMORY_LIMIT,
                                     "temp_directory": spill})
        try:
            return compare(con, sf_dir, out_dir)
        finally:
            con.close()


def oracle_result(con, sql):
    """The oracle's rows and column names."""
    def run():
        rows = con.execute(sql).fetchall()
        return rows, [d[0] for d in con.description]
    try:
        return run()
    except duckdb.OutOfMemoryException:
        con.execute("SET threads = 1")
        try:
            return run()
        finally:
            con.execute("RESET threads")


class Oracles:
    """Answers each distinct oracle SQL text once: a result is kept only
    while a later query still needs the same text."""

    def __init__(self, con, sqls):
        self.con = con
        self.left = {}
        for sql in sqls:
            self.left[sql] = self.left.get(sql, 0) + 1
        self.kept = {}

    def result(self, sql):
        self.left[sql] -= 1
        res = self.kept.pop(sql) if sql in self.kept else oracle_result(self.con, sql)
        if self.left[sql] > 0:
            self.kept[sql] = res
        return res


def compare(con, sf_dir, out_dir):
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    oracle = json.load(open(f"{out_dir}/oracle_sql.json"))
    n_pass = n_fail = 0
    oracle_s = {}
    import glob
    import os
    names = sorted(os.path.basename(p) for p in glob.glob(f"{out_dir}/*")
                   if os.path.isdir(p))
    oracles = Oracles(con, [oracle[n] for n in names if n in oracle])
    for name in names:
        got = con.execute(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')").fetchall()
        got_cols = [d[0] for d in con.description]
        if name not in oracle:
            print(f"  {name}: NO-ORACLE rows={len(got)}", flush=True)
            continue
        t0 = time.monotonic()
        err = None
        try:
            exp, exp_cols = oracles.result(oracle[name])
        except Exception as e:
            err = e
        oracle_s[name] = secs = time.monotonic() - t0
        if err is not None:
            print(f"FAIL {name} ({secs:.1f}s): oracle error: {err}", flush=True)
            n_fail += 1
            continue
        gi = sorted(range(len(got_cols)), key=lambda i: got_cols[i])
        ei = sorted(range(len(exp_cols)), key=lambda i: exp_cols[i])
        if sorted(got_cols) != sorted(exp_cols):
            print(f"FAIL {name} ({secs:.1f}s): cols {sorted(got_cols)} != {sorted(exp_cols)}",
                  flush=True)
            n_fail += 1
            continue
        g = sorted(tuple(str(norm(r[i])) for i in gi) for r in got)
        e = sorted(tuple(str(norm(r[i])) for i in ei) for r in exp)
        if len(g) != len(e):
            print(f"FAIL {name} ({secs:.1f}s): rows {len(g)} != {len(e)}", flush=True)
            n_fail += 1
        elif g != e:
            bad = next(i for i in range(len(g)) if g[i] != e[i])
            print(f"FAIL {name} ({secs:.1f}s): values differ, first at sorted idx {bad}:")
            print(f"   got {g[bad]}")
            print(f"   exp {e[bad]}", flush=True)
            n_fail += 1
        else:
            print(f"  ok {name} ({len(g)} rows, {secs:.1f}s)", flush=True)
            n_pass += 1
    print(f"== {n_pass} pass, {n_fail} fail")
    slowest = sorted(oracle_s.items(), key=lambda kv: -kv[1])[:5]
    print("slowest oracles: " + ", ".join(f"{n} {s:.1f}s" for n, s in slowest))
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
