#!/usr/bin/env python3
"""Local replica of the driver's t2 correctness gate.

Usage: python3 tools/check.py <sfDir> <verifyOutDir>

Reads <verifyOutDir>/<name>/ (Spark parquet per query) and
<verifyOutDir>/oracle_sql.json, runs each oracle against DuckDB views over
the sfDir tables, and compares: columns sorted by name, rows sorted, exact
value equality (EXCEPT ALL both ways). Reports schema of both sides so type
skew is visible even when values coerce equal. The oracles run in a pool
of single-threaded DuckDB processes, one per core, slowest oracles first;
output stays in query name order.

Dev tool only — not part of the shipped Scala library.
"""
import json
import multiprocessing
import os
import sys
from concurrent.futures import ProcessPoolExecutor

import duckdb

TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]

# The q388-q401 ANN-serving oracles hold the tail of the run on their
# single-threaded workers, so they are submitted first, slowest first (the
# order their results came in on the sf0.01 dump, 4 vCPU); everything else
# fills the pool behind them. Output order does not change.
SLOW_FIRST = ["q397", "q395", "q400", "q401", "q399", "q391", "q398",
              "q396", "q394", "q392", "q393", "q390", "q388", "q389"]

# One connection per worker process, opened by `init`.
con = None
out_dir = None


def connect(sf_dir: str, threads: int = 0, mem_mb: int = 0):
    c = duckdb.connect()
    # progress bars from parallel workers would interleave on stdout
    c.execute("SET enable_progress_bar = false")
    if threads:
        c.execute(f"SET threads = {threads}")
    if mem_mb:
        c.execute(f"SET memory_limit = '{mem_mb}MB'")
    for t in TABLES:
        c.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return c


def init(sf_dir: str, out: str, mem_mb: int) -> None:
    global con, out_dir
    con = connect(sf_dir, threads=1, mem_mb=mem_mb)
    out_dir = out


def check(item):
    """Compare one query's Spark output with its oracle: (lines, passed)."""
    name, sql = item
    try:
        res = con.sql(
            f"SELECT * FROM read_parquet('{out_dir}/{name}/*.parquet')")
        ora = con.sql(sql)
        rcols = sorted(res.columns)
        ocols = sorted(ora.columns)
        if rcols != ocols:
            return [f"FAIL {name}: columns differ spark={rcols} oracle={ocols}"], False
        sel = ", ".join(f'"{c}"' for c in rcols)
        con.register("res_v", res.project(sel))
        con.register("ora_v", ora.project(sel))
        rn = con.sql("SELECT count(*) FROM res_v").fetchone()[0]
        on = con.sql("SELECT count(*) FROM ora_v").fetchone()[0]
        d1 = con.sql(
            "SELECT count(*) FROM (SELECT * FROM res_v EXCEPT ALL SELECT * FROM ora_v)").fetchone()[0]
        d2 = con.sql(
            "SELECT count(*) FROM (SELECT * FROM ora_v EXCEPT ALL SELECT * FROM res_v)").fetchone()[0]
        rtypes = dict(zip(res.columns, map(str, res.types)))
        otypes = dict(zip(ora.columns, map(str, ora.types)))
        tskew = {c: (rtypes[c], otypes[c]) for c in rtypes
                 if rtypes[c] != otypes.get(c)}
        if d1 == 0 and d2 == 0 and rn == on:
            flag = f" [type-skew {tskew}]" if tskew else ""
            return [f"PASS {name}: {rn} rows{flag}"], True
        lines = [f"FAIL {name}: rows spark={rn} oracle={on} "
                 f"spark-only={d1} oracle-only={d2} type-skew={tskew}"]
        ex = con.sql(
            "SELECT * FROM res_v EXCEPT ALL SELECT * FROM ora_v").df().head(3)
        ex2 = con.sql(
            "SELECT * FROM ora_v EXCEPT ALL SELECT * FROM res_v").df().head(3)
        if len(ex):
            lines.append("  spark-only sample:\n" + ex.to_string(max_colwidth=60))
        if len(ex2):
            lines.append("  oracle-only sample:\n" + ex2.to_string(max_colwidth=60))
        return lines, False
    except Exception as e:  # noqa: BLE001
        try:  # an error aborts the implicit transaction; recover
            con.execute("ROLLBACK")
        except Exception:
            pass
        return [f"ERROR {name}: {type(e).__name__}: {e}"], False


def mem_total_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    raise RuntimeError("MemTotal missing from /proc/meminfo")


def main(sf_dir: str, out: str) -> int:
    oracle = json.load(open(f"{out}/oracle_sql.json"))
    # rows-only queries (no oracle): report count > 0, as the driver does
    c = connect(sf_dir)
    for name in sorted(os.listdir(out)):
        if name in oracle or not os.path.isdir(f"{out}/{name}"):
            continue
        try:
            n = c.sql(
                f"SELECT count(*) FROM read_parquet('{out}/{name}/*.parquet')").fetchone()[0]
            print(f"ROWS-ONLY {name}: {n} rows" + (" [EMPTY!]" if n == 0 else ""))
        except Exception as e:
            print(f"ROWS-ONLY {name}: unreadable: {e}")
    c.close()
    # One single-threaded DuckDB per core, each with an even share of 80%
    # of RAM; results print in name order as they arrive.
    workers = os.cpu_count() or 1
    mem_mb = mem_total_mb() * 8 // 10 // workers
    n_pass = n_fail = 0
    items = sorted(oracle.items())
    rank = {q: i for i, q in enumerate(SLOW_FIRST)}
    with ProcessPoolExecutor(workers, multiprocessing.get_context("spawn"),
                             init, (sf_dir, out, mem_mb)) as pool:
        futures = {name: pool.submit(check, (name, sql)) for name, sql in
                   sorted(items, key=lambda it: rank.get(
                       it[0].split("_")[0], len(SLOW_FIRST)))}
        for name, _ in items:
            lines, ok = futures[name].result()
            for line in lines:
                print(line, flush=True)
            n_pass += ok
            n_fail += not ok
    print(f"== {n_pass} pass, {n_fail} fail")
    return 1 if n_fail else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1], sys.argv[2]))
