#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 graftbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds graft and the benchmark from source
(graftbench/build.sh), generates the query tables from the seed
(graftbench/gen_tables.py), runs the workload in one JVM on local[<cores>],
checks every output against its oracle and prints a report followed by one
JSON line: the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. --self-check plants one wrong expected
value in the crawl checks and one in the query checks, so the run must
report failures.
"""
import argparse
import glob
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import gen_tables  # noqa: E402

RUN_LIMIT_S = 175
FIRST_RUN_LIMIT_S = 880
HEAP = "3g"
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(1)


def check_queries(queries, data, corrupt):
    """Compares each query's parquet output with its DuckDB oracle, after
    sorting columns by name and rows by every value."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    for t in ["region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"]:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    results = []
    for i, q in enumerate(queries):
        name = q["name"]
        if not q["ok"]:
            results.append((f"query.{name}", False, "query failed"))
            continue
        files = glob.glob(os.path.join(q["out"], "*.parquet"))
        try:
            got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchdf()
            want = con.execute(q["oracle"]).fetchdf()
        except Exception as e:  # an unreadable output or oracle is a failure
            results.append((f"query.{name}", False, str(e)[:200]))
            continue
        if corrupt and i == 0:
            want = want.iloc[1:] if len(want) else want
        a = got.reindex(sorted(got.columns), axis=1)
        b = want.reindex(sorted(want.columns), axis=1)
        if list(a.columns) != list(b.columns):
            results.append((f"query.{name}", False, f"columns {list(a.columns)} vs {list(b.columns)}"))
            continue
        a = a.sort_values(by=list(a.columns)).reset_index(drop=True)
        b = b.sort_values(by=list(b.columns)).reset_index(drop=True)
        try:
            pd.testing.assert_frame_equal(a, b, check_dtype=False, check_exact=True)
            results.append((f"query.{name}", True, f"{len(a)} rows"))
        except AssertionError as e:
            results.append((f"query.{name}", False, f"spark {len(a)} rows, oracle {len(b)}: {str(e)[:200]}"))
    return results


def main():
    t_start = time.time()
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args()

    try:
        with open("BENCHMARK.json") as f:
            contract = json.load(f)
    except OSError:
        fail("run from the root of a checkout (BENCHMARK.json not found)")
    if args.workload not in {w["name"] for w in contract["workloads"]}:
        fail(f"unknown workload {args.workload}")
    metrics = contract["per_layer"] if args.trace else contract["end_to_end"]

    bdir = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "graftbench")
    build = os.path.join(bdir, "build")
    had_build = os.path.exists(os.path.join(build, "stamp"))
    if subprocess.run(["bash", os.path.join(HERE, "build.sh"), build]).returncode != 0:
        fail("build failed")
    limit = RUN_LIMIT_S if had_build else FIRST_RUN_LIMIT_S

    work = os.path.abspath(os.path.join(bdir, f"run-{os.getpid()}"))
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    gen_tables.main(data, args.seed)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)

    with open(os.path.join(build, "jars")) as f:
        jars = f.read().strip()
    cores = len(os.sched_getaffinity(0))
    cmd = (["java"] + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in JDK_OPENS] +
           [f"-Xmx{HEAP}", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={tmp}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-cp", f"{os.path.join(build, 'classes')}:{jars}/*", "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--cores", str(cores), "--data", data, "--work", work,
            "--corrupt", "1" if args.self_check else "0"])
    log_path = os.path.join(bdir, f"last-{args.workload}-trace{args.trace}.log")
    t_jvm = time.time()
    deadline = t_start + limit
    result_path = os.path.join(work, "result.json")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
        try:
            rc = proc.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            rc = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    t_checks = time.time()
    if rc != 0 or not os.path.exists(result_path):
        with open(log_path) as log:
            sys.stderr.write("".join(log.readlines()[-40:]))
        shutil.rmtree(work, ignore_errors=True)
        fail(f"benchmark JVM ended with {rc}; log in {log_path}")
    with open(result_path) as f:
        res = json.load(f)
    qchecks = check_queries(res["queries"], data, args.self_check)
    t_done = time.time()

    checks = [(c["name"], c["ok"], c["detail"]) for c in res["checks"]] + qchecks
    attempted = res["attempted"] + len(qchecks)
    failed = res["failed"] + sum(1 for c in qchecks if not c[1])
    shutil.copy(os.path.join(work, "spans.json"),
                os.path.join(bdir, f"last-{args.workload}-trace{args.trace}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    measured = res["trace"] if args.trace else res["e2e"]
    print(f"workload {args.workload} seed {args.seed} trace {args.trace} cores {cores}")
    for m in contract["end_to_end"] + contract["per_layer"]:
        v = (res["e2e"] if m in contract["end_to_end"] else res["trace"]).get(m["name"])
        if v is not None:
            print(f"  {m['name']:34s} {v:16.4f} {m['unit']}")
    print(f"  {'ops_failed_ratio':34s} {failed / attempted:16.4f} ratio")
    named = {m["name"] for m in contract["end_to_end"] + contract["per_layer"]}
    extra = {k: v for k, v in list(res["e2e"].items()) + list(res["trace"].items())
             if k not in named}
    if extra:
        print("  note: also measured: " + " ".join(f"{k}={v:.4f}" for k, v in extra.items()))
    print(f"  note: wall_s={time.time() - t_start:.1f} jvm_s={t_checks - t_jvm:.1f} "
          f"oracle_checks_s={t_done - t_checks:.1f}")
    for line in res["notes"]:
        print(f"  note: {line}")
    for name, ok, detail in checks:
        print(f"  check {'ok  ' if ok else 'FAIL'} {name}: {detail}")
    missing = [m["name"] for m in metrics if m["name"] not in measured]
    if missing:
        fail(f"metrics not measured: {missing}")
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {m["name"]: {"value": measured[m["name"]], "unit": m["unit"]}
                    for m in metrics}}))


if __name__ == "__main__":
    main()
