#!/usr/bin/env python3
"""Run one workload of the benchmark and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see perfbench/README.md and BENCHMARK.json):
  chain_flow   an open-loop socket stream into VolTransferJob.run, a
               closed-loop backlog drain through VolTransferJob.writeBatch,
               then a RollupJob tick, all on one store
  query_suite  closed loop: passes over one declared query per family

The program and the benchmark are compiled from source on first use
(perfbench/build.py). Inputs are generated from --seed. Outputs are checked
on every run, outside the timed region. The last line of standard output
is one JSON object: {"correct", "attempted", "failed", "metrics"}; with
--trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones. The full record (conditions, checks, spans, tracing
overhead) goes to .bench_build/artifacts/. The exit code is non-zero on
any failed operation or output mismatch.
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

import build  # noqa: E402

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
JVM_TIMEOUT_S = 170

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def oracle_checks(result, tables_dir):
    """Row count of every oracled query against DuckDB running the query's
    oracle SQL on the same parquet; rows-only queries must be non-empty."""
    import duckdb
    info = result["conditions"]
    rows = info.get("rows", {})
    oracle = info.get("oracle_sql", {})
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{tables_dir}/{t}.parquet')")
    checks = []
    for q, counts in sorted(rows.items()):
        if len(counts) != 1:
            checks.append({"name": f"rows:{q}", "ok": False,
                           "detail": f"row count changed between passes: {counts}"})
        elif q in oracle:
            want = con.execute(f"SELECT count(*) FROM ({oracle[q]})").fetchone()[0]
            checks.append({"name": f"rows:{q}", "ok": counts[0] == want,
                           "detail": f"{counts[0]} vs duckdb {want}"})
        else:
            checks.append({"name": f"rows:{q}", "ok": counts[0] > 0,
                           "detail": f"{counts[0]} rows (no oracle: must be non-empty)"})
    con.close()
    return checks


def overhead(art_dir, workload, seed, traced, e2e):
    """Traced against untraced end-to-end numbers of the same workload (the
    same seed when both were run), as a share of the untraced value."""
    other = os.path.join(art_dir, f"{workload}-seed{seed}-trace{0 if traced else 1}.json")
    if not os.path.exists(other):
        cands = sorted(glob.glob(os.path.join(art_dir, f"{workload}-seed*-trace{0 if traced else 1}.json")),
                       key=os.path.getmtime)
        if not cands:
            return None
        other = cands[-1]
    with open(other) as f:
        o = json.load(f)["e2e"]
    t, u = (e2e, o) if traced else (o, e2e)
    return {"against": os.path.basename(other),
            "share": {k: (t[k] - u[k]) / u[k] for k in u
                      if k in t and isinstance(u[k], (int, float)) and u[k]}}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    start = time.time()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        log(f"unknown workload {a.workload}")
        return 2
    build_dir = os.path.join(ROOT, ".bench_build")
    try:
        classes = build.build(build_dir)
    except (RuntimeError, OSError) as e:
        log(f"build failed: {e}")
        return 2
    build_s = time.time() - start

    t0_ms = time.time() * 1000.0  # set-up starts here
    work = os.path.join(build_dir, "work", f"{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    art_dir = os.path.join(build_dir, "artifacts")
    os.makedirs(art_dir, exist_ok=True)
    try:
        tables = os.path.join(work, "tables")
        jvm = ["java", "-Xmx3g", "-Xss8m", "-XX:+PerfDisableSharedMem", f"-Djava.io.tmpdir={work}/tmp",
               "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
        for p in ADD_OPENS:
            jvm += ["--add-opens", f"{p}=ALL-UNNAMED"]
        jvm += ["-cp", classes + os.pathsep + os.path.join(build.spark_jars(), "*"),
                "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work,
                "--out", os.path.join(work, "result.json"), "--t0", repr(t0_ms)]
        tables_s = 0.0
        if a.workload == "query_suite":
            import gen_tables
            gen_tables.generate(tables, a.seed)
            tables_s = time.time() - t0_ms / 1000.0
            jvm += ["--data", tables]
        with open(os.path.join(work, "jvm.log"), "w") as jlog:
            proc = subprocess.run(jvm, stdout=jlog, stderr=subprocess.STDOUT, cwd=work,
                                  timeout=max(30, JVM_TIMEOUT_S - (time.time() - t0_ms / 1000.0)))
        if proc.returncode != 0 or not os.path.exists(os.path.join(work, "result.json")):
            with open(os.path.join(work, "jvm.log")) as jl:
                log("benchmark JVM failed:\n" + jl.read()[-4000:])
            return 1
        with open(os.path.join(work, "result.json")) as f:
            result = json.load(f)
        if a.workload == "query_suite":
            result["checks"] += oracle_checks(result, tables)
    except subprocess.TimeoutExpired:
        log(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
        return 1
    finally:
        shutil.rmtree(work, ignore_errors=True)

    names = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics, missing = {}, []
    values = result["layers"] if a.trace else result["e2e"]
    for m in names:
        v = values.get(m["name"])
        if v is None and a.trace:
            v = 0.0  # a layer this workload does not exercise
        if v is None:
            missing.append(m["name"])
            continue
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    failed_checks = [c for c in result["checks"] if not c["ok"]]
    correct = not failed_checks and not missing and result["failed"] == 0
    for c in failed_checks:
        log(f"check failed: {c['name']}: {c['detail']}")
    for e in result["errors"]:
        log(f"operation failed: {e}")
    if missing:
        log(f"metrics missing: {missing}")

    cond = result["conditions"]
    cond.update({"build_s": build_s,
                 "setup_s_split": {"tables_s": tables_s, "session_s": cond.get("setup_session_s"),
                                   "data_s": cond.get("setup_data_s"),
                                   "warmup_s": cond.get("setup_warmup_s")}})
    result["tracing_overhead"] = overhead(art_dir, a.workload, a.seed, a.trace, result["e2e"])
    art = os.path.join(art_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json")
    with open(art, "w") as f:
        json.dump(result, f, indent=1)
    if result["tracing_overhead"]:
        log(f"tracing overhead vs {result['tracing_overhead']['against']}: "
            + json.dumps(result["tracing_overhead"]["share"]))
    log(f"record: {os.path.relpath(art, ROOT)}")
    print(json.dumps({"correct": correct, "attempted": result["attempted"],
                      "failed": result["failed"], "metrics": metrics}))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
