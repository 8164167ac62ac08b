#!/usr/bin/env python3
"""Repo benchmark: one workload per call, one JVM at local[nproc].

    python3 perfbench/run.py --workload batch_kg --seed 1 --seconds 10 --trace 0

Builds the program and the benchmark from source (see build.py), runs
the JVM side (graft.perfbench.PerfBench) for the workload, checks the
query outputs against their DuckDB oracles, and prints as its last line
one JSON object: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are BENCHMARK.json's end_to_end list, with
--trace 1 its per_layer list. `--corrupt 1` damages the observed output
of every second operation (self-test only; see selftest.py).
Exits non-zero without a result line when it cannot build or run.
"""
import argparse
import glob
import hashlib
import json
import os
import pickle
import shutil
import statistics
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

RUN_LIMIT_S = 175  # a run, once built, must end within 180 s
# room left after the JVM for the query suite's oracle check: about 18 s
# on 4 cores when no oracle result is cached yet, under 3 s otherwise
ORACLE_RESERVE_S = {"cold": 25, "cached": 6}
# the query suite's input: a copy of the repository's SF 0.01 test tables
QUERY_DATA = os.path.join(build.HERE, "testdata", "sf0.01")
QUERY_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                "lineitem", "events", "documents", "embeddings"]
JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr)


def run_jvm(a, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", build.classpath(), "graft.perfbench.PerfBench",
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--data", QUERY_DATA, "--corrupt", str(a.corrupt)]
    logs = os.path.join(build.BUILD, "logs")
    os.makedirs(logs, exist_ok=True)
    with open(os.path.join(logs, f"{a.workload}.log"), "w") as err:
        p = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=err,
                             text=True, cwd=work)
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"JVM exceeded {timeout:.0f} s")
            return None
    with open(os.path.join(logs, f"{a.workload}.stdout"), "w") as f:
        f.write(out)
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH ")]
    if p.returncode != 0 or not lines:
        log(f"JVM exited with {p.returncode}; see {err.name}")
        return None
    return json.loads(lines[-1][len("PERFBENCH "):])


def canon_rows(rows):
    return sorted(rows, key=lambda t: tuple(str(x) for x in t))


def same_value(a, b):
    if str(a) == str(b):
        return True
    return isinstance(a, float) and isinstance(b, float) and abs(a - b) < 1e-12


def table(cur):
    """(column names, rows), columns in name order."""
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], rows


def contents_hash(files):
    """Hash of the files' contents, whatever their names and order."""
    digests = []
    for f in files:
        with open(f, "rb") as fh:
            digests.append(hashlib.sha256(fh.read()).hexdigest())
    return hashlib.sha256("".join(sorted(digests)).encode()).hexdigest()


def oracle_inputs(out):
    """What an oracle's rows depend on besides its SQL: the DuckDB
    version and the tables (all oracles), and, by path, the kg_triples
    reference written in setup (the oracles whose SQL names it)."""
    import duckdb
    tables = contents_hash(
        os.path.join(QUERY_DATA, f"{t}.parquet") for t in QUERY_TABLES)
    golden = f"{out}_golden"
    return duckdb.__version__ + tables, {golden: contents_hash(
        glob.glob(f"{golden}/**/*.parquet", recursive=True))}


def expected(con, sql, inputs):
    """An oracle's (columns, rows). Kept in .bench_build/oracles under a
    hash of its SQL and inputs: the same SQL on the same bytes gives the
    same rows, and the slowest oracles take seconds each."""
    common, by_path = inputs
    key = hashlib.sha256("".join(
        [sql, common] + [h for path, h in sorted(by_path.items()) if path in sql]
    ).encode()).hexdigest()
    path = os.path.join(build.BUILD, "oracles", key + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as f:
            return pickle.load(f)
    result = table(con.execute(sql))
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "wb") as f:
        pickle.dump(result, f)
    os.replace(path + ".tmp", path)
    return result


def oracle_failures(work, corrupt):
    """Names of queries whose output differs from its DuckDB oracle in
    column names, row count or values (columns in name order, rows as a
    multiset)."""
    import duckdb
    out = os.path.join(work, "queries", "out")
    con = duckdb.connect()
    for t in QUERY_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{QUERY_DATA}/{t}.parquet')")
    oracle = json.load(open(os.path.join(out, "oracle_sql.json")))
    inputs = oracle_inputs(out)
    names = sorted(n for n in os.listdir(out)
                   if os.path.isdir(os.path.join(out, n)))
    failed = set(names) ^ set(oracle)  # an output without oracle, or v.v.
    for i, name in enumerate(names):
        if name in failed:
            continue
        try:
            want_cols, want = expected(con, oracle[name], inputs)
            got_cols, got = table(con.execute(
                f"SELECT * FROM read_parquet('{out}/{name}/*.parquet')"))
        except duckdb.Error as e:
            log(f"oracle {name}: {e}")
            failed.add(name)
            continue
        if corrupt and i % 2 == 1:
            got = got[1:] if got else [tuple("x" for _ in got_cols)]
        if not (want_cols == got_cols and len(want) == len(got) and all(
                all(same_value(x, y) for x, y in zip(ra, rb))
                for ra, rb in zip(canon_rows(want), canon_rows(got)))):
            failed.add(name)
    return failed


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(rec):
    timed = [o for o in rec["ops"] if o["leg"] == "full" and o["ok"]]
    return {
        "setup_s": median(rec["setup_s"]),
        "op_s": median([o["s"] for o in timed]),
        "items_per_s": (sum(o["items"] for o in timed) /
                        sum(o["s"] for o in timed)) if timed else 0.0,
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--corrupt", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec_path = os.path.join(build.ROOT, "BENCHMARK.json")
    spec = json.load(open(spec_path))
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {a.workload}")
        return 2
    if not build.build(log):
        log("build failed")
        return 2
    t0 = time.monotonic()
    work = os.path.join(build.BUILD, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    reserve = 2
    if a.workload == "query_suite":
        cached = os.path.isdir(os.path.join(build.BUILD, "oracles"))
        reserve = ORACLE_RESERVE_S["cached" if cached else "cold"]
    rec = run_jvm(a, work, RUN_LIMIT_S - reserve - (time.monotonic() - t0))
    if rec is None:
        return 1

    if a.workload == "query_suite":
        bad = oracle_failures(work, a.corrupt == 1)
        for o in rec["ops"]:
            o["ok"] = o["ok"] and o["name"] not in bad
        rec["info"]["oracle_failures"] = ",".join(sorted(bad))
    ops = rec["ops"]
    attempted = len(ops)
    failed = sum(not o["ok"] for o in ops)

    if a.trace:
        # every layer this workload's traced run owns must have a value;
        # layers only the other workload's traced run reaches read 0
        listed = spec["per_layer"]
        owned = set(rec["info"]["layer_metrics"].split(","))
        values = {n: rec["layers"].get(n) for n in owned}
        missing = sorted(n for n, v in values.items() if v is None)
        missing += sorted(owned - {m["name"] for m in listed})
        if missing:
            log(f"traced run lacks or does not list: {', '.join(missing)}")
            return 1
    else:
        listed = spec["end_to_end"]
        values = end_to_end(rec)
    metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)),
                           "unit": m["unit"]} for m in listed}
    print("# " + json.dumps({"info": rec["info"], "ops": [
        [o["name"], o["leg"], round(o["s"], 4), o["items"], o["ok"]]
        for o in ops]}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
