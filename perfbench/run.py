#!/usr/bin/env python3
"""Benchmark of the graft engine: one workload, one seed, one run.

Usage (from the repository root):
  python3 perfbench/run.py --workload <chain_daily|corpus_heavy>
                           --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the harness (perfbench/build.py), writes the
seeded inputs under .bench_work/, runs the JVM harness
(perfbench/src/graftbench/Main.scala), checks the outputs, prints every
metric with its unit, and prints as its last line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

WORK = ".bench_work"
JVM_TIMEOUT_S = 170

# Input sizes, fixed per workload; the seed only changes the values.
CHAIN = dict(n_symbols=30, n_days=3, rows_per_day=5_000)
HEAVY_SF = 0.01

CORPUS_TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
                 "lineitem", "events", "documents", "embeddings"]

ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def norm(v):
    return "NaN" if isinstance(v, float) and math.isnan(v) else v


def oracle_check(data_dir, dump_dir):
    """Compares each dumped query output with its oracle SQL run by DuckDB
    on the same tables: column names, DECIMAL-free boundary, row count and
    row-by-row values (both sides are ORDER BY-deterministic). Queries
    without an oracle are checked for having produced an output only.
    Returns failure messages."""
    import duckdb
    con = duckdb.connect()
    con.sql(f"SET temp_directory = '{dump_dir}/duckdb-tmp'")
    con.sql("SET autoinstall_known_extensions = false")
    for t in CORPUS_TABLES:
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    oracle = json.load(open(os.path.join(dump_dir, "oracle_sql.json")))
    errs = []
    for name in sorted(oracle):
        path = os.path.join(dump_dir, name)
        if not os.path.isdir(path):
            errs.append(f"{name}: no output")
            continue
        got_rel = con.sql(f"SELECT * FROM '{path}/*.parquet'")
        exp_rel = con.sql(oracle[name])
        gc, ec = list(got_rel.columns), list(exp_rel.columns)
        types = [str(t) for t in got_rel.types] + [str(t) for t in exp_rel.types]
        if any("DECIMAL" in t for t in types):
            errs.append(f"{name}: DECIMAL column at the output boundary")
            continue
        if sorted(gc) != sorted(ec):
            errs.append(f"{name}: columns {gc} != oracle {ec}")
            continue
        gi = [gc.index(c) for c in sorted(gc)]
        ei = [ec.index(c) for c in sorted(ec)]
        got = [tuple(norm(r[i]) for i in gi) for r in got_rel.fetchall()]
        exp = [tuple(norm(r[i]) for i in ei) for r in exp_rel.fetchall()]
        if len(got) != len(exp):
            errs.append(f"{name}: {len(got)} rows, oracle {len(exp)}")
        elif got != exp:
            i = next(i for i, (a, b) in enumerate(zip(got, exp)) if a != b)
            errs.append(f"{name}: row {i} {got[i]} != oracle {exp[i]}")
    return errs


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["chain_daily", "corpus_heavy"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    if not os.path.isdir(os.path.join("src", "main", "scala", "graft")):
        fail("engine sources not found: run from the repository root")
    if not os.path.isfile("BENCHMARK.json"):
        fail("BENCHMARK.json not found: run from the repository root")
    spec = json.load(open("BENCHMARK.json"))
    wanted = [m["name"] for m in spec["per_layer" if a.trace else "end_to_end"]]

    import build
    import gen
    build.build()

    work = os.path.abspath(os.path.join(WORK, a.workload))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    extra = []
    if a.workload == "chain_daily":
        per_day = gen.write_chain(data, a.seed, **CHAIN)
        extra = ["--rows-per-pass", str(sum(per_day) + per_day[0])]
        info = f"{CHAIN['n_symbols']} symbols x {CHAIN['n_days']} days, " \
               f"{sum(per_day)} straddle rows"
    else:
        gen.write_corpus(data, a.seed, HEAVY_SF)
        info = f"corpus tables at sf{HEAVY_SF}"

    cmd = ["java", "-XX:-UsePerfData", "-Xmx4g", "-Xss8m",
           f"-Djava.io.tmpdir={work}/tmp", *ADD_OPENS,
           "-cp", build.classpath(), "graftbench.Main",
           "--workload", a.workload, "--seed", str(a.seed),
           "--seconds", str(a.seconds), "--trace", str(a.trace),
           "--data", data, "--work", work, *extra]
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    t0 = time.time()
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            rc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=env, timeout=JVM_TIMEOUT_S).returncode
        except subprocess.TimeoutExpired:
            fail(f"harness exceeded {JVM_TIMEOUT_S}s; see {work}/jvm.log")
    if rc != 0:
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"harness exited with {rc}")
    res = json.load(open(os.path.join(work, "result.json")))
    checks = list(res["checks"])
    if a.workload != "chain_daily":
        checks += oracle_check(data, os.path.join(work, "check"))

    inf = res["info"]
    print(f"workload {a.workload} seed {a.seed}: {info}; "
          f"{inf['passes']} passes of {inf['ops_per_pass']} ops, "
          f"{inf['op_samples']} warm op samples, harness {time.time() - t0:.1f}s")
    for e in inf["errors"]:
        print(f"  op error: {e}")
    for c in checks:
        print(f"  check failed: {c}")
    metrics = res["metrics"]
    attempted, failed = res["attempted"], res["failed"] + len(checks)
    print(f"  failed_frac = {failed / attempted:.4f} ({failed} of {attempted} ops)")
    for k, m in metrics.items():
        print(f"  {k} = {m['value']:.6g} {m['unit']}")
    if a.trace:
        print("  self time per layer (s per traced pass):")
        for layer, s in inf.get("self_s", {}).items():
            print(f"    {layer:10s} {s:.3f}")
        print(f"  spans: {work}/trace.jsonl")
    missing = [n for n in wanted if n not in metrics]
    if missing:
        fail(f"metrics missing from the harness: {missing}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed,
                      "metrics": {n: metrics[n] for n in wanted}}))


if __name__ == "__main__":
    main()
