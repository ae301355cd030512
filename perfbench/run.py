#!/usr/bin/env python3
"""graft's benchmark: one workload, one run, one JSON result line.

    python3 perfbench/run.py --workload ml_pipeline --seed 1 --seconds 10 --trace 0

Builds the library and the benchmark's JVM program (perfbench/src) from
source (build.py, once per source state), generates the workload's
inputs from the seed (once per seed), runs that program on local[nproc]
with a session from GraftSession.builder, checks the outputs, and prints
as its last line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with every end-to-end metric of BENCHMARK.json (--trace 0) or every
per-layer metric (--trace 1). Metrics a workload does not exercise read 0
in a traced run. It writes only under perfbench/work and perfbench/target;
the full capture of each run (stamps, spans, checks) is kept in
perfbench/work/captures.
"""
import argparse
import glob
import importlib.util
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

sys.dont_write_bytecode = True
import build  # noqa: E402
import gen  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
HEAP = "3g"

# Input sizes. The ml table is CDC-diabetes shaped (21 features, 1% late
# duplicates); each request file is one microbatch. The analytics corpus
# is the sf0.1 test corpus's shape with a 20% zipf head.
ML_ROWS = 10_000
REQUEST_FILES = 3
REQUEST_ROWS = 10_000
POISON_SHARE = 0.02
ANALYTICS_SCALE = 0.2
HOT_SHARE = 0.2

JDK17_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
               "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
               "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
               "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
               "java.base/sun.util.calendar"]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def inputs(workload, seed):
    """Generate (or reuse) the seed's inputs; the JVM program's arguments."""
    data = os.path.join(WORK, "data")
    os.makedirs(data, exist_ok=True)
    if workload == "ml_pipeline":
        d = os.path.join(data, f"cdc-{ML_ROWS}-{seed}")
        r = os.path.join(data, f"requests-{REQUEST_FILES}x{REQUEST_ROWS}-{seed}")
        gen.cdc_table(seed, ML_ROWS, 0.01, d)
        gen.request_files(seed, REQUEST_FILES, REQUEST_ROWS, POISON_SHARE, r)
        return ["--data", d, "--requests", r]
    d = os.path.join(data, f"corpus-{ANALYTICS_SCALE}-{seed}")
    gen.analytics_corpus(seed, ANALYTICS_SCALE, HOT_SHARE, d)
    return ["--data", d]


def oracle_check(corpus, out_dir, oracles):
    """Each query's parquet output against its DuckDB oracle, compared with
    tools/parity.py's canonical form (columns sorted, values stringified,
    rows sorted)."""
    import duckdb
    spec = importlib.util.spec_from_file_location("parity", os.path.join(ROOT, "tools", "parity.py"))
    parity = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(parity)
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in glob.glob(os.path.join(corpus, "*.parquet")):
        name = os.path.basename(f)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{f}')")
    checks = {}
    for q, sql in sorted(oracles.items()):
        spark_df = parity.load_spark_result(os.path.join(out_dir, q))
        if spark_df is None:
            checks[f"oracle_{q}"] = False
            continue
        a, b = parity.canon(spark_df), parity.canon(con.execute(sql).df())
        ok = list(a.columns) == list(b.columns) and len(a) == len(b) and a.equals(b)
        if not ok:
            print(f"perfbench: {q} differs from its oracle ({len(a)} vs {len(b)} rows)", file=sys.stderr)
        checks[f"oracle_{q}"] = ok
    return checks


def seed_check(seed, signature):
    """The same seed must give the same champion, params, threshold, AUC."""
    path = os.path.join(WORK, "expected", f"ml_pipeline-{ML_ROWS}-{seed}.json")
    os.makedirs(os.path.dirname(path), exist_ok=True)
    if not os.path.exists(path):
        with open(path, "w") as fh:
            fh.write(signature)
        return True
    with open(path) as fh:
        return fh.read() == signature


def untraced_p50(workload):
    """Median pass_s over this checkout's untraced captures."""
    values = []
    for f in glob.glob(os.path.join(WORK, "captures", f"{workload}-seed*-trace0.json")):
        with open(f) as fh:
            values.append(json.load(fh)["pass_s"])
    return statistics.median(values) if values else None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["ml_pipeline", "analytics_skew"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)

    # any integer seed; the generators and the JVM take a non-negative one
    seed = args.seed % 2**31

    try:
        jars = build.spark_jars()
        build.build(jars)
    except build.BuildError as e:
        fail(str(e))
    t0_ms = int(time.time() * 1000)
    data_args = inputs(args.workload, seed)

    run = os.path.join(WORK, "run")
    shutil.rmtree(run, ignore_errors=True)
    os.makedirs(os.path.join(run, "tmp"))
    capture = os.path.join(run, "capture.json")
    cores = len(os.sched_getaffinity(0))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(run, 'tmp')}"]
           + [x for p in JDK17_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", build.CLASSES + os.pathsep + os.path.join(jars, "*"), "perfbench.Main",
              "--workload", args.workload, "--seed", str(seed), "--seconds", str(args.seconds),
              "--trace", str(args.trace), "--cores", str(cores), "--work", run, "--out", capture,
              "--t0-ms", str(t0_ms)] + data_args)
    # Spark binds to the loopback interface only, whatever the host name resolves to
    env = dict(os.environ, SPARK_LOCAL_IP="127.0.0.1", SPARK_LOCAL_HOSTNAME="localhost")
    log_path = os.path.join(WORK, "jvm.log")
    with open(log_path, "w") as log:
        code = subprocess.call(cmd, cwd=HERE, env=env, stdout=log, stderr=subprocess.STDOUT,
                               stdin=subprocess.DEVNULL)
    # a pass that throws still writes a capture (failed > 0, not correct)
    if not os.path.exists(capture):
        with open(log_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {code}")
    with open(capture) as fh:
        cap = json.load(fh)

    checks = dict(cap["checks"])
    if args.workload == "analytics_skew":
        checks.update(oracle_check(data_args[1], os.path.join(run, "out"), cap["info"]))
        cap["info"] = {"queries": len(cap["info"])}
    if args.workload == "ml_pipeline":
        checks["same_result_for_seed"] = seed_check(seed, cap["info"]["signature"])
    cap["checks"] = checks
    correct = bool(checks) and all(checks.values()) and cap["failed"] == 0

    cap["pass_s"] = statistics.median(cap["passes_s"])
    cap["pass_cpu_s"] = statistics.median(cap["passes_cpu_s"])
    measured = {k: cap[k] for k in ("setup_s", "pass_s", "pass_cpu_s", "peak_task_mem_mb")}
    measured.update(cap["per_layer"])
    if args.trace:
        base = untraced_p50(args.workload)
        measured["trace_overhead_s"] = cap["pass_s"] - base if base is not None else 0.0
        cap["per_layer"]["trace_overhead_s"] = measured["trace_overhead_s"]
    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    metrics = {m["name"]: {"value": measured.get(m["name"], 0.0), "unit": m["unit"]} for m in wanted}

    cap_dir = os.path.join(WORK, "captures")
    os.makedirs(cap_dir, exist_ok=True)
    name = f"{args.workload}-seed{seed}-trace{args.trace}.json"
    with open(os.path.join(cap_dir, name), "w") as fh:
        json.dump(cap, fh, indent=1)
    print(json.dumps({"stamps": cap["stamps"], "checks": checks, "info": cap["info"],
                      "passes_s": cap["passes_s"]}))
    shutil.rmtree(run, ignore_errors=True)
    print(json.dumps({"correct": correct, "attempted": cap["attempted"], "failed": cap["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
