#!/usr/bin/env python3
"""Medallion benchmark: batch pipeline, streaming promote and query mix.

    python3 perfbench/run.py --workload medallion_batch --seed 1 \
        --seconds 10 --trace 0

Run from the root of a checkout. It builds the engine and the benchmark
(``perfbench/build.py``), generates the inputs from ``--seed``
(``perfbench/gen.py``), runs one workload in a JVM (``perfbench/src``),
checks the outputs and prints one JSON result as its last line. With
``--trace 0`` the result carries the end-to-end metrics of the workload;
with ``--trace 1`` it runs the traced pass over every workload and carries
the per-layer metrics (``perfbench/spec.py`` lists both). Everything a run
writes lives under one scratch directory in ``.bench_build/`` that is
removed when the run ends; span and job traces of traced runs are kept in
``.bench_build/traces/``.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402
import gen  # noqa: E402
import spec  # noqa: E402

CORES = 4
SF = 0.1        # lineitem the taxi drops derive from
MIX_SF = 0.01   # query tables
SIZES = {
    "history": 6,           # backfill months (the older half in the legacy vintage)
    "incr": 3,              # monthly drops after the backfill
    "replay": 1,            # newest drops re-promoted after a Failed mark
    "stream_split": 10,     # stream drops per month (about 700 rows each)
    "open": 100,            # open-loop stream drops (ten beyond the p90)
    "burst": 30,            # stream drops landed at once
    "interval_ms": 750,     # trigger interval
    "per_trigger": 5,       # open-loop drops per trigger interval
    "max_files": 10,        # maxFilesPerTrigger
    "warm_open": 20,
    "warm_interval_ms": 100,
}
# Engine warm-up for query_mix, outside the sample.
WARM_QUERIES = ["q01_pricing_summary", "q04_join_shuffle"]
JVM_OPTS = [
    # A fixed, pre-touched heap: heap growth is not left to the collector's
    # ergonomics, which made memory and timings differ from run to run.
    "-Xms3g", "-Xmx3g", "-XX:+AlwaysPreTouch",
    # No hsperfdata file in the system temp dir.
    "-XX:-UsePerfData",
    "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
] + [x for p in (
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
) for x in ("--add-opens", f"{p}=ALL-UNNAMED")]


def prepare(root, workload, seed, traced):
    """Generate the run's inputs under ``root``; returns generator seconds."""
    t = time.perf_counter()
    s = SIZES
    li = gen.lineitem(SF, seed)
    months = gen.months(li)
    drops = []

    def add(kind, entries):
        drops.extend((kind, e) for e in entries)

    if traced or workload == "medallion_batch":
        n = s["history"] + s["incr"]
        m = gen.taxi_drops(f"{root}/in/batch", li, seed, n,
                           legacy_months=s["history"] // 2)
        add("history", m[:s["history"]])
        add("incr", m[s["history"]:])
        # Warm-up drops come from the newest months, so they never repeat
        # a timed drop's file.
        w = gen.taxi_drops(f"{root}/in/warm", li, seed + 1, 2,
                           legacy_months=1, start=len(months) - 2, tag="warm")
        add("warm_history", w[:1])
        add("warm_incr", w[1:])
    if traced:
        per = s["stream_split"]
        need = s["open"] + s["burst"] + s["warm_open"]
        m = gen.taxi_drops(f"{root}/in/stream", li, seed, -(-need // per),
                           split=per, tag="stream")
        add("warm_open", m[:s["warm_open"]])
        add("open", m[s["warm_open"]:s["warm_open"] + s["open"]])
        add("burst", m[s["warm_open"] + s["open"]:need])
    if traced or workload == "query_mix":
        gen.tables(f"{root}/data", MIX_SF, seed)
    with open(f"{root}/drops.tsv", "w") as f:
        for kind, e in drops:
            f.write(f"{kind}\t{e['month']}\t{e['path']}\t{e['rows']}\t{e['valid']}\n")
    with open(f"{root}/config.tsv", "w") as f:
        for k, v in list(s.items()) + [("cores", CORES),
                                       ("warm_queries", ",".join(WARM_QUERIES)),
                                       ("mix_queries", ",".join(q for _, q in spec.MIX_QUERIES))]:
            f.write(f"{k}\t{v}\n")
    return time.perf_counter() - t


def oracle_check(root, oracle, names):
    """Compare each sampled query's parquet result with its DuckDB oracle
    on the same tables. Returns the names that do not match."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{root}/data/{t}.parquet')")
    bad = []
    for name in names:
        try:
            res = con.sql(f"SELECT * FROM read_parquet('{root}/results/{name}/*.parquet')")
            if name not in oracle:  # no oracle: the result must not be empty
                if not res.limit(1).fetchall():
                    bad.append(name)
                continue
            ora = con.sql(oracle[name])
            cols = sorted(res.columns)
            if cols != sorted(ora.columns):
                bad.append(name)
                continue
            sel = ", ".join(f'"{c}"' for c in cols)
            con.register("res_v", res.project(sel))
            con.register("ora_v", ora.project(sel))
            diff = con.sql(
                "SELECT (SELECT count(*) FROM res_v) - (SELECT count(*) FROM ora_v),"
                " (SELECT count(*) FROM (SELECT * FROM res_v EXCEPT ALL SELECT * FROM ora_v)),"
                " (SELECT count(*) FROM (SELECT * FROM ora_v EXCEPT ALL SELECT * FROM res_v))"
            ).fetchone()
            if any(diff):
                bad.append(name)
        except Exception as e:  # noqa: BLE001 - any error is a failed check
            print(f"[check] {name}: {type(e).__name__}: {e}", file=sys.stderr)
            bad.append(name)
    return bad


ARCHIVE = os.path.join(build.BUILD, "bench.jsa")


def launch(jar, root, args, extra=()):
    """Run the benchmark's JVM on ``root``; returns (exit code, launch ms)."""
    os.makedirs(f"{root}/tmp", exist_ok=True)
    cmd = ["java"] + JVM_OPTS + list(extra) + [
        f"-Djava.io.tmpdir={root}/tmp",
        "-cp", jar + os.pathsep + os.path.join(build.spark_jars(), "*"),
        "perfbench.Main"] + [str(x) for x in args] + [root]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CORES),
               SPARK_LOCAL_DIRS=f"{root}/spark-local")
    with open(f"{root}/jvm.log", "w") as log:
        launched = time.time() * 1000
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, cwd=root)
        try:
            return proc.wait(timeout=170), launched
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()


def ensure_archive(jar):
    """Record a class-data-sharing archive of the classes a run loads, once
    per build, from a JVM that only runs the warm-ups. Every later run maps
    it, which takes seconds off each JVM's start."""
    stamp = ARCHIVE + ".stamp"
    with open(build.STAMP) as f:
        want = f.read()
    if os.path.exists(stamp) and open(stamp).read() == want:
        return
    if os.path.exists(ARCHIVE):
        os.remove(ARCHIVE)
    root = tempfile.mkdtemp(prefix="train-", dir=build.BUILD)
    try:
        prepare(root, "train", 0, traced=True)
        launch(jar, root, ["train", 0, 0, 0],
               [f"-XX:ArchiveClassesAtExit={ARCHIVE}.tmp", "-Xlog:cds=off"])
        if os.path.exists(ARCHIVE + ".tmp"):
            os.replace(ARCHIVE + ".tmp", ARCHIVE)
    finally:
        shutil.rmtree(root, ignore_errors=True)
    # Stamped even when no archive came out, so that runs go on without
    # one instead of trying again each time.
    with open(stamp, "w") as f:
        f.write(want)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w for w, _ in spec.WORKLOADS])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    traced = a.trace == 1

    jar = build.ensure()
    ensure_archive(jar)
    root = tempfile.mkdtemp(prefix="run-", dir=build.BUILD)
    try:
        gen_s = prepare(root, a.workload, a.seed, traced)
        cds = [f"-XX:SharedArchiveFile={ARCHIVE}", "-Xlog:cds=off"] \
            if os.path.exists(ARCHIVE) else []
        rc, launched = launch(jar, root, [a.workload, a.seed, a.seconds, a.trace], cds)
        if rc != 0 or not os.path.exists(f"{root}/result.json"):
            with open(f"{root}/jvm.log") as f:
                tail = f.read()[-3000:]
            print(f"benchmark JVM failed (exit {rc}):\n{tail}", file=sys.stderr)
            return 1
        with open(f"{root}/result.json") as f:
            r = json.load(f)
        attempted, failed = r["attempted"], r["failed"]
        notes = list(r["notes"])
        if r["queries"]:
            t = time.perf_counter()
            bad = oracle_check(root, r["oracle"], r["queries"])
            if bad:  # each sampled query ran once in the timed pass
                failed += len(bad)
                notes.append(f"oracle mismatch: {', '.join(bad)}")
            print(f"oracle check: {len(r['queries']) - len(bad)}/{len(r['queries'])}"
                  f" sampled queries match ({time.perf_counter() - t:.1f} s)")
        failed = min(failed, attempted)
        jvm_s = (r["main_at_ms"] - launched) / 1000
        setup_s = gen_s + jvm_s + (r["session_ms"] + r["warmup_ms"]) / 1000
        print(f"setup: generate {gen_s:.2f} s, JVM start {jvm_s:.2f} s, session "
              f"{r['session_ms'] / 1000:.2f} s, warm-up {r['warmup_ms'] / 1000:.2f} s")
        if traced:
            metrics = dict(r["layers"])
            trace_dir = os.path.join(build.BUILD, "traces")
            os.makedirs(trace_dir, exist_ok=True)
            with open(os.path.join(trace_dir, f"seed{a.seed}.json"), "w") as f:
                json.dump({k: r.get(k) for k in ("spans", "jobs", "layers")}, f)
        else:
            metrics = dict(r["e2e"], setup_s=setup_s, peak_rss_mb=r["peak_rss_mb"])
            for k, v in r["info"].items():
                print(f"{a.workload}: {k} = {v}")
        print(f"{a.workload}: fail_ratio = {failed / max(1, attempted):.6g} "
              f"({failed} of {attempted} ops)")
        for n in notes:
            print(f"check failed: {n}")
        wanted = [m[0] for m in (spec.LAYERS if traced else spec.END_TO_END)]
        missing = [m for m in wanted if metrics.get(m) is None]
        if missing:
            print(f"metrics not measured: {missing}", file=sys.stderr)
            return 1
        for m in wanted:
            print(f"{m} = {metrics[m]:.6g} {spec.UNITS[m]}")
        correct = failed == 0 and not notes
        print(json.dumps({
            "correct": correct, "attempted": attempted, "failed": failed,
            "metrics": {m: {"value": metrics[m], "unit": spec.UNITS[m]} for m in wanted},
        }))
        return 0 if correct else 1
    finally:
        shutil.rmtree(root, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
