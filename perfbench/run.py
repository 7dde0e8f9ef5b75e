#!/usr/bin/env python3
"""graft benchmark: one workload per run, in one JVM at local[N].

Usage, from the root of a checkout:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Workloads (see BENCHMARK.json for why each was chosen):

  registry       a fixed list of registry queries (registry_queries.txt)
                 over generated tables, closed loop, one client;
  history_serve  a generated person history ingested into a catalog table
                 under group commit; one closed-loop client sends each Api
                 read route in turn, each after a raw-JSON insert batch.

The run builds the program and the harness (sbt, once per source state,
under .bench_build/), generates the workload's inputs from --seed, sets up,
warms, measures for --seconds, checks the outputs, and prints a summary and
then one JSON line: {"correct", "attempted", "failed", "metrics"}. With
--trace 0 the metrics are the end-to-end ones; with --trace 1 they are the
per-layer ones, and the summary states the tracing overhead against this
checkout's untraced runs of the same workload.
"""
import argparse
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time

import datagen

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
# Experiment hooks of the program: an A/B run must not differ in them.
REFUSED_ENV = ["SPARK_GRAFT_JVM_OPTS", "SPARK_GRAFT_CONF", "SPARK_GRAFT_PAGE_SIZE",
               "SPARK_GRAFT_MIN_PARTITION_SIZE"]
CORES = min(4, os.cpu_count() or 1)
# Heap of the benchmark JVM, passed to the program's build (SPARK_DRIVER_MEM).
HEAP = "4g"
# Each run must end within 180 s; the JVM gets what is left of this.
DEADLINE_S = 170

SIZES = {
    "registry": {"sf": 0.02},
    # one insert batch per read, seven reads a pass
    "history_serve": {"events": 20_000, "persons": 1_000, "batch": 25},
}


def die(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def fingerprint() -> str:
    """Digest of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project", "build.properties"), os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    h.update(HEAP.encode())
    return h.hexdigest()


def build() -> list:
    """Compile the program and the harness; return the JVM launch arguments."""
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "launch.stamp")
    launch = os.path.join(BUILD, "launch.txt")
    fp = fingerprint()
    if not (os.path.isfile(stamp) and open(stamp).read() == fp and os.path.isfile(launch)):
        env = dict(os.environ, COURSIER_MODE="offline", SPARK_DRIVER_MEM=HEAP)
        env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
        log = os.path.join(BUILD, "build.log")
        with open(log, "w") as out:
            rc = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launchFile"],
                                cwd=HERE, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, timeout=840).returncode
        if rc != 0:
            sys.stderr.write(open(log).read()[-4000:])
            die(f"build failed (rc {rc}), log in {log}", 1)
        shutil.copy(os.path.join(BUILD, "target", "launch.txt"), launch)
        with open(stamp, "w") as f:
            f.write(fp)
    return [a for a in open(launch).read().splitlines() if a]


def generate(workload: str, seed: int, seconds: int, data: str) -> None:
    os.makedirs(data)
    size = SIZES[workload]
    if workload == "registry":
        datagen.registry_tables(seed, size["sf"], data)
        shutil.copy(os.path.join(HERE, "registry_queries.txt"), os.path.join(data, "queries.txt"))
    else:
        datagen.person_history(seed, size["events"], size["persons"],
                               os.path.join(data, "history.parquet"))
        # more batches than any run of this length sends
        datagen.insert_batches(seed, 8 + 7 * seconds, size["batch"], size["persons"],
                               os.path.join(data, "inserts.jsonl"))


def run_jvm(launch: list, args: list, work: str, budget_s: float) -> None:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = ["java", f"-Djava.io.tmpdir={tmp}"] + launch + ["graft.perfbench.Main"] + args
    log = os.path.join(work, "jvm.log")
    with open(log, "w") as out:
        env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        p = subprocess.Popen(cmd, cwd=ROOT, env=env, stdout=out, stderr=subprocess.STDOUT,
                             stdin=subprocess.DEVNULL)
        try:
            rc = p.wait(timeout=max(1.0, budget_s))
        except subprocess.TimeoutExpired:
            die(f"benchmark JVM exceeded its time budget, log in {log}", 1)
        finally:
            if p.poll() is None:
                p.kill()
                p.wait()
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        die(f"benchmark JVM failed (rc {rc}), log in {log}", 1)


# ---------------------------------------------------------------- checks

def check_registry(work: str, data: str) -> list:
    """Each registry result against its oracle SQL in DuckDB, compared the
    way tools/check.py compares them."""
    import duckdb
    import pandas as pd
    spec = importlib.util.spec_from_file_location("check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    out = os.path.join(work, "out")
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    results = []
    for name, sql in sorted(json.load(open(os.path.join(out, "oracle_sql.json"))).items()):
        try:
            got = check.canon(pd.read_parquet(os.path.join(out, name)))
            exp = check.canon(con.execute(sql).df())
            ok = list(got.columns) == list(exp.columns) and len(got) == len(exp)
            if ok:
                pd.testing.assert_frame_equal(got, exp, check_dtype=False, check_exact=True)
        except Exception as e:  # a missing result, an oracle error or a difference
            print(f"check failed: {name}: {str(e)[:300]}", file=sys.stderr)
            ok = False
        results.append(("check", f"oracle {name}", 0.0, ok))
    return results


def check_history(res: dict, data: str) -> list:
    """The heaviest person's history and the bucketed property histogram,
    recomputed in DuckDB from the generated input."""
    import duckdb
    con = duckdb.connect()
    src = f"'{data}/history.parquet'"
    answers = res["extra"]
    n = con.execute(f"SELECT count(*) FROM {src} WHERE id = 0").fetchone()[0]
    customer = json.loads(answers["answer.customer_top"])
    hist = con.execute(f"SELECT floor(value / 25) * 25, count(DISTINCT id) FROM {src} GROUP BY 1").fetchall()
    got = {float(d["value"]): d["customers"] for d in json.loads(answers["answer.property_bucket"])}
    return [("check", "customer_history", 0.0, len(customer["events"]) == n),
            ("check", "property_histogram", 0.0, got == {float(v): c for v, c in hist})]


# --------------------------------------------------------------- metrics

def tail(values: list) -> tuple:
    """(percentile, value): the highest of a few percentiles with at least
    ten samples beyond it (nearest rank); the median when there are fewer
    than twenty samples."""
    s = sorted(values)
    n = len(s)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0):
        if n * (1 - p / 100) >= 10:
            return p, s[max(0, math.ceil(p / 100 * n) - 1)]
    return 50.0, statistics.median(s)


def end_to_end(res: dict, ops: list, datagen_s: float) -> dict:
    setup = res["setup"]
    setup_s = datagen_s + sum(setup.values())
    q = [o[2] for o in ops if o[0] not in ("insert", "check", "missing") and o[3]]
    ins = [o[2] for o in ops if o[0] == "insert" and o[3]]
    m = {"setup_s": (setup_s, "s"), "wall_s": (res["wall_s"], "s")}
    if q:
        p, v = tail(q)
        m.update({"query_p50_s": (statistics.median(q), "s"),
                  "query_mean_s": (statistics.mean(q), "s"),
                  "query_tail_s": (v, "s"), "query_tail_pct": (p, "%"), "query_n": (len(q), "count")})
    if ins:
        p, v = tail(ins)
        m.update({"insert_p50_s": (statistics.median(ins), "s"),
                  "insert_tail_s": (v, "s"), "insert_tail_pct": (p, "%"), "insert_n": (len(ins), "count")})
    failed = sum(1 for o in ops if not o[3])
    m["failed_frac"] = (failed / len(ops), "frac")
    m["heap_peak_mb"] = (res["heap_peak_mb"], "MB")
    return m


def per_layer(res: dict, ops: list) -> dict:
    spans = res["spans"]
    ex, pl, extra = res["exec"], res["plans"], res["extra"]
    timed = [o for o in ops if o[0] not in ("check", "missing")]
    n_ops = max(1, len(timed))
    passes = extra["passes"]

    def mean_ms(*names):
        n = sum(spans[k]["n"] for k in names if k in spans)
        return sum(spans[k]["ms"] for k in names if k in spans) / n if n else None

    m = {}

    def put(name, value, unit):
        if value is not None:
            m[name] = (value, unit)

    builds = [k for k in spans if k.startswith("queries.build.")]
    put("queries.build_ms", mean_ms(*builds), "ms")
    for fam in ("relational", "pipeline", "ann", "osl"):
        if f"queries.{fam}" in spans:
            put(f"queries.{fam}_s", spans[f"queries.{fam}"]["ms"] / 1e3 / passes, "s")
    put("osl.parse_ms", mean_ms("osl.parse"), "ms")
    put("osl.build_ms", mean_ms("osl.build", "queries.build.osl"), "ms")
    if extra.get("osl.queries"):
        put("osl.tier_a_frac", extra.get("osl.tier_a", 0) / extra["osl.queries"], "frac")
    actions = max(1.0, pl.get("actions", 0.0))
    for k in ("analysis_ms", "optimization_ms", "planning_ms"):
        put(f"plans.{k}", pl.get(k, 0.0) / actions, "ms")
    for k in ("exchanges", "sorts", "windows"):
        put(f"plans.{k}", pl.get(k, 0.0) / actions, "count")
    for k in ("jobs", "stages", "tasks"):
        put(f"exec.{k}", ex.get(k, 0.0) / n_ops, "count")
    for k in ("sched_delay_ms", "task_run_ms", "task_cpu_ms", "task_gc_ms"):
        put(f"exec.{k}", ex.get(k, 0.0) / n_ops, "ms")
    for k, src in (("shuffle_read_mb", "shuffle_read_bytes"),
                   ("shuffle_write_mb", "shuffle_write_bytes"), ("spill_mb", "spill_bytes")):
        put(f"exec.{k}", ex.get(src, 0.0) / 1048576.0 / n_ops, "MB")
    put("exec.core_busy_frac", ex.get("task_run_ms", 0.0) / (res["wall_s"] * 1e3 * res["cores"]), "frac")
    put("exec.task_skew", statistics.mean(res["skews"]) if res["skews"] else 1.0, "ratio")
    put("catalog.scan_build_ms", mean_ms("catalog.scan_build"), "ms")
    put("catalog.append_ms", mean_ms("catalog.append"), "ms")
    put("catalog.drain_ms", mean_ms("catalog.drain"), "ms")
    if "api.insert" in spans:
        put("catalog.drains", spans.get("catalog.drain", {"n": 0})["n"], "count")
    put("catalog.bytes_per_event", extra.get("catalog.bytes_per_event"), "B")
    put("propindex.ensure_ms", mean_ms("propindex.ensure"), "ms")
    put("result.tree_ms", mean_ms("result.tree"), "ms")
    put("result.render_ms", mean_ms("result.render"), "ms")
    put("streaming.refresh_ms", mean_ms("streaming.refresh"), "ms")
    for route in ("query_event", "query_segment", "query_property", "query_customer",
                  "insert", "segment_refresh"):
        v = mean_ms(f"api.{route}")
        put(f"api.{route}_s", v / 1e3 if v is not None else None, "s")
    put("jvm.gc_ms", float(res["gc_ms"]), "ms")
    put("jvm.gc_count", float(res["gc_count"]), "count")
    return m


def overhead(workload: str, traced: dict) -> str:
    """Traced query median against the median of this checkout's untraced
    runs of the same workload."""
    path = os.path.join(BUILD, "results", f"{workload}.jsonl")
    base = []
    if os.path.isfile(path):
        for line in open(path):
            r = json.loads(line)
            if r["trace"] == 0 and "query_p50_s" in r["metrics"]:
                base.append(r["metrics"]["query_p50_s"])
    if not base or "query_p50_s" not in traced:
        return "tracing overhead: no untraced run of this workload in this checkout yet"
    b = statistics.median(base)
    t = traced["query_p50_s"][0]
    return (f"tracing overhead: query_p50_s traced {t:.4f} s vs untraced median {b:.4f} s "
            f"over {len(base)} runs: {100 * (t / b - 1):+.1f}%")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()
    refused = [v for v in REFUSED_ENV if v in os.environ]
    if refused:
        die(f"refusing to run with {', '.join(refused)} set: both sides of an A/B "
            "must run the program's default settings")
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or \
            not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("run from the root of a graft checkout (build.sbt and src/main/scala/graft not found)")
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

    launch = build()
    work = os.path.join(BUILD, "work")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    data = os.path.join(work, "data")
    t0 = time.monotonic()
    generate(a.workload, a.seed, a.seconds, data)
    datagen_s = time.monotonic() - t0

    run_jvm(launch, [a.workload, str(a.seed), str(a.seconds), str(a.trace), work,
                     str(CORES)], work, DEADLINE_S - (time.monotonic() - started))
    res = json.load(open(os.path.join(work, "result.json")))
    ops = [tuple(o) for o in res["ops"]]
    if a.workload == "registry":
        ops += check_registry(work, data)
    else:
        ops += check_history(res, data)
    for e in res["errors"]:
        print(f"error: {e}", file=sys.stderr)

    e2e = end_to_end(res, ops, datagen_s)
    failed = sum(1 for o in ops if not o[3])
    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
          f"local[{CORES}] ops={len(ops)} failed={failed}")
    for k, (v, u) in e2e.items():
        print(f"  {k} = {v:.6g} {u}")
    setup = ", ".join(f"{k}={v:.3f}" for k, v in res["setup"].items())
    print(f"  setup phases: datagen_s={datagen_s:.3f}, {setup}")
    measured = dict(e2e)
    if a.trace:
        layers = per_layer(res, ops)
        for k, (v, u) in sorted(layers.items()):
            print(f"  {k} = {v:.6g} {u}")
        print("  " + overhead(a.workload, e2e))
        measured.update(layers)
        chosen = {m["name"]: layers[m["name"]] for m in spec["per_layer"]}
    else:
        chosen = {m["name"]: e2e[m["name"]] for m in spec["end_to_end"]}

    os.makedirs(os.path.join(BUILD, "results"), exist_ok=True)
    with open(os.path.join(BUILD, "results", f"{a.workload}.jsonl"), "a") as f:
        f.write(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace,
                            "metrics": {k: v for k, (v, _) in measured.items()}}) + "\n")
    print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in chosen.items()}}))


if __name__ == "__main__":
    main()
