#!/usr/bin/env python3
"""Benchmark of the zoomspark engine: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine and the benchmark from
source on first use (cached in .bench_build/ by a hash of the sources),
generates the workload's inputs from the seed, runs one JVM that sets up,
warms up and measures whole cycles for at least --seconds, checks every
output, and prints one JSON object as the last line: end-to-end metrics
with --trace 0, per-layer metrics with --trace 1. Exits non-zero, printing no result, when the engine
sources are missing or the run fails. See perfbench/README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(ROOT, ".bench_build")
sys.path.insert(0, BENCH)

# workload -> (frozen list of query names, the part of it a run issues);
# None for the ingest pipeline. One run must finish in about 50 s with its
# set-up and checks, so a query workload runs a fixed part of its list
# (README.md, "Inputs and sizes").
WORKLOADS = {
    "zoom_ingest": None,
    # every fifth name from the second: the offset whose DuckDB oracle
    # checks are cheapest (0.4 s against 0.7 to 17 s for the other four)
    "slate_floor": ("queries/floor.txt", lambda names: names[1::5]),
    # graph iteration, two shared-store builds and a shuffle-heavy join,
    # each with an oracle check under 1 s
    "llm_heavy": ("queries/heavy.txt", lambda names: [n for n in names if n in {
        "pagerank_topk", "mrl_truncation_eval_ivf", "triangle_suppliers", "bitext_mine_ann"}]),
}
SCALE_FACTOR = 0.01
TABLES = ["region", "nation", "customer", "supplier", "part",
          "orders", "lineitem", "events", "documents", "embeddings"]
JAVA_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]
RUN_LIMIT_S = 170


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_hash():
    """Hash of every file the build reads; a change triggers a rebuild."""
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(ROOT, "project"),
                 os.path.join(BENCH, "src"), os.path.join(BENCH, "project")):
        for d, subdirs, files in os.walk(base):
            subdirs[:] = sorted(s for s in subdirs if s not in ("target", "project"))
            paths += [os.path.join(d, f) for f in sorted(files)]
    h = hashlib.sha256()
    for p in paths:
        if os.path.isfile(p):
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile engine + benchmark with sbt (offline) unless up to date."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources not found next to the benchmark (need build.sbt and src/main/scala/graft)")
    stamp_file = os.path.join(BUILD, "classpath.json")
    digest = source_hash()
    if os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            stamp = json.load(f)
        if stamp["hash"] == digest:
            return stamp["classpath"]
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline", SBT_OPTS=os.environ.get(
        "SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g"))
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true",
                            "export Runtime/fullClasspath"],
                           cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                           stdin=subprocess.DEVNULL, timeout=850)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if r.returncode != 0 or not lines or "perfbench" not in lines[-1]:
        fail(f"build failed, see {log}")
    with open(stamp_file, "w") as f:
        json.dump({"hash": digest, "classpath": lines[-1]}, f)
    return lines[-1]


def norm_cell(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if hasattr(v, "item"):
        v = v.item()
    return v


def oracle_check(data_dir, results_dir, oracle_sql, counts):
    """Compare each query's result with its DuckDB oracle SQL, value by value
    in result order (columns sorted by name), and every timed row count with
    the oracle's row count. Returns (checks, failures)."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    failures = []
    for name, sql in oracle_sql.items():
        try:
            expected = con.sql(sql).df()
        except Exception as e:  # an oracle that cannot run is a failed check
            failures.append(f"{name}: oracle SQL error {e}")
            continue
        # a count of -1 is a failed query, already counted by the JVM
        bad_counts = sum(1 for n in counts.get(name, []) if n >= 0 and n != len(expected))
        failures += [f"{name}: timed row count differs from oracle"] * bad_counts
        files = sorted(glob.glob(f"{results_dir}/{name}/*.parquet"))
        if not files:
            failures.append(f"{name}: no result written")
            continue
        actual = pd.concat([pd.read_parquet(f) for f in files])
        cols = sorted(expected.columns)
        if cols != sorted(actual.columns):
            failures.append(f"{name}: columns {sorted(actual.columns)} != oracle {cols}")
        elif len(expected) != len(actual):
            failures.append(f"{name}: {len(actual)} rows != oracle {len(expected)}")
        elif any(norm_cell(e) != norm_cell(a) for c in cols
                 for e, a in zip(expected[c].tolist(), actual[c].tolist())):
            failures.append(f"{name}: values differ from oracle")
    return len(oracle_sql), failures


def quantile(values, q):
    s = sorted(values)
    return s[min(len(s) - 1, int(q * len(s)))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # on SIGTERM, unwind: subprocess.run kills and reaps the JVM or sbt it
    # is waiting for, and the run directory is removed
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))

    cp = classpath()
    start = time.time()
    work = os.path.join(BUILD, f"run-{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    os.makedirs(os.path.join(work, "tmp"))
    os.makedirs(data)
    try:
        query_file = None
        if WORKLOADS[args.workload]:
            import datagen
            datagen.write(data, SCALE_FACTOR, args.seed)
            frozen, part = WORKLOADS[args.workload]
            with open(os.path.join(BENCH, frozen)) as f:
                names = part([l.strip() for l in f if l.strip() and not l.startswith("#")])
            query_file = os.path.join(work, "queries.txt")
            with open(query_file, "w") as f:
                f.write("\n".join(names) + "\n")
        record_file = os.path.join(work, "record.json")
        cpus = str(len(os.sched_getaffinity(0)))
        cmd = (["java", *JAVA_OPENS, "-Xms2g", "-Xmx2g", "-XX:+AlwaysPreTouch", f"-Djava.io.tmpdir={work}/tmp",
                "-XX:-UsePerfData", "-cp", cp, "perfbench.Main",
                args.workload, str(args.seconds), str(args.trace), str(args.seed),
                data, work, query_file or "-", record_file, cpus])
        # Spark prefers these over spark.local.dir; keep its scratch in the run
        env = {k: v for k, v in os.environ.items() if k not in ("SPARK_LOCAL_DIRS", "LOCAL_DIRS")}
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "w") as log:
            try:
                code = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=subprocess.STDOUT,
                                      stdin=subprocess.DEVNULL,
                                      timeout=RUN_LIMIT_S - (time.time() - start)).returncode
            except subprocess.TimeoutExpired:
                code = "a timeout"
        if code != 0 or not os.path.isfile(record_file):
            with open(jvm_log) as f:
                sys.stderr.write("".join(f.readlines()[-40:]))
            fail(f"benchmark JVM ended with {code}")
        with open(record_file) as f:
            rec = json.load(f)

        attempted, failed, failures = rec["attempted"], rec["failed"], list(rec["failures"])
        if query_file:
            checks, bad = oracle_check(data, os.path.join(work, "results"),
                                       rec["oracle_sql"], rec["counts"])
            attempted += checks
            failed += len(bad)
            failures += bad
        for f in failures:
            print(f"perfbench: FAILED {f}", file=sys.stderr)

        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
        plain = [c for c in rec["cycles"] if not c["traced"]]
        traced = [c for c in rec["cycles"] if c["traced"]]
        ops = [v for c in plain for v in c["opsMs"]]
        e2e = {
            "setup_s": rec["first_op_epoch_ms"] / 1000 - start,
            "peak_rss_mb": rec["peak_rss_mb"],
            "first_pass_s": statistics.median(c["firstS"] for c in plain),
            "repeat_pass_s": statistics.median(v for c in plain for v in c["repeatS"]),
            "op_p50_ms": quantile(ops, 0.5),
            "op_p80_ms": quantile(ops, 0.8),
        }
        print(json.dumps({"workload": args.workload, "seed": args.seed, "cycles": len(plain),
                          "op_samples": len(ops), "error_rate": failed / max(attempted, 1)}))
        if args.trace:
            layers = dict(rec["layers"])
            total = lambda c: c["firstS"] + sum(c["repeatS"])
            layers["trace.overhead_pct"] = 100 * (
                statistics.mean(map(total, traced)) / statistics.mean(map(total, plain)) - 1)
            metrics = {m["name"]: {"value": layers.get(m["name"], 0.0), "unit": m["unit"]}
                       for m in spec["per_layer"]}
            shutil.copy(os.path.join(work, "trace.json"),
                        os.path.join(BUILD, f"trace-{args.workload}-{args.seed}.json"))
        else:
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                       for m in spec["end_to_end"]}
        print(json.dumps({"correct": failed == 0, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
