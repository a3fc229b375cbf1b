#!/usr/bin/env python3
"""graft benchmark runner.

Usage (from the root of a checkout):
    python3 perfbench/run.py --workload interactive --seed 1 --seconds 15 --trace 0

Builds the program and the benchmark from source with sbt (offline) on
first use, generates the workload's inputs from the seed, runs the
benchmark JVM with all state in a fresh per-run directory, checks the
outputs, and prints one JSON result as the last line of stdout.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

WORKLOADS = ("interactive", "sales_nightly")
RUN_LIMIT_S = 160
BUILD_LIMIT_S = 850
HEAP = "3g"

END_TO_END = {
    "setup_s": "s", "op_p50_s": "s", "throughput_per_s": "1/s", "retained_heap_mb": "MB",
}
PER_LAYER = {
    "session.bringup_s": "s",
    "engine.jobs": "count", "engine.stages": "count", "engine.tasks": "count",
    "engine.task_busy_s": "s", "engine.core_util": "ratio", "engine.gc_s": "s",
    "engine.shuffle_write_bytes": "B", "engine.spill_bytes": "B",
    "scan.bytes_read": "B", "scan.rows_read": "count",
    "sink.bytes_written": "B", "sink.write_amp": "ratio",
    "sales.bronze_s": "s", "sales.silver_s": "s", "sales.scd_s": "s",
    "sales.gold_s": "s", "sales.marts_s": "s", "sales.quality_s": "s", "sales.other_s": "s",
    "jobgraph.overhead_s": "s",
    "interactive.build_s": "s", "interactive.plan_s": "s", "interactive.exec_s": "s",
    "vector.ivf_build_s": "s", "interactive.ann_p50_s": "s",
    "caching.persisted_after_op": "count",
    "self.op_s": "s", "self.stage_s": "s", "self.job_s": "s",
    "trace.op_p50_s": "s", "trace.overhead_ratio": "ratio",
}
# per-layer metrics a workload never exercises; the result still carries
# every per-layer key, and these are listed on stdout as not measured
NOT_EXERCISED = {
    "interactive": {k for k in PER_LAYER if k.startswith("sales.")} | {"jobgraph.overhead_s"},
    "sales_nightly": {k for k in PER_LAYER if k.startswith(("interactive.", "vector."))},
}


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(f"error: {msg}")
    sys.exit(code)


# ---------------------------------------------------------------- build

def source_stamp():
    files = []
    for pattern in ("build.sbt", "project/*.sbt", "project/build.properties",
                    "src/main/**/*.scala", "src/main/**/*.java",
                    "perfbench/build.sbt", "perfbench/project/build.properties",
                    "perfbench/src/**/*.scala"):
        files += glob.glob(os.path.join(ROOT, pattern), recursive=True)
    h = hashlib.sha256()
    for f in sorted(set(files)):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile the program and the benchmark once per source state and
    return (classpath, jvm options) from the benchmark build."""
    out = os.path.join(HERE, ".build")
    launch = os.path.join(out, "launch.txt")
    stamp_file = os.path.join(out, "stamp")
    stamp = source_stamp()
    if not (os.path.exists(launch) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        log("building program and benchmark (sbt, offline)")
        t0 = time.time()
        try:
            p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                               cwd=HERE, env=env, stdout=subprocess.PIPE,
                               stderr=subprocess.STDOUT, timeout=BUILD_LIMIT_S)
        except subprocess.TimeoutExpired:
            fail("build timed out")
        if p.returncode != 0 or not os.path.exists(launch):
            sys.stderr.write(p.stdout.decode(errors="replace")[-4000:])
            fail("build failed")
        with open(stamp_file, "w") as f:
            f.write(stamp)
        log(f"build done in {time.time() - t0:.1f} s")
        time.sleep(5)  # let the build's I/O and CPU settle before measuring
    lines = open(launch).read().splitlines()
    return lines[0], [l for l in lines[1:] if l]


# ---------------------------------------------------------- output checks

def oracle_check(data_dir, results_dir):
    """Replay the registry's oracle SQL in DuckDB over the same inputs and
    compare (columns sorted by name, rows sorted, floats to 1e-9)."""
    import duckdb
    import numpy as np
    import pandas as pd

    def norm(df):
        df = df.reindex(sorted(df.columns), axis=1)
        for c in df.columns:
            if str(df[c].dtype).startswith("datetime64"):
                df[c] = df[c].astype("datetime64[us]")
            if str(df[c].dtype) in ("Int64", "Int32", "int32"):
                df[c] = df[c].astype("float64") if df[c].isna().any() else df[c].astype("int64")
        return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)

    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    oracles = json.load(open(os.path.join(results_dir, "oracle_sql.json")))
    bad = {}
    for q in sorted(os.listdir(results_dir)):
        if not os.path.isdir(os.path.join(results_dir, q)):
            continue
        sql = oracles.get(q)
        if sql is None:
            bad[q] = "no oracle SQL"
            continue
        try:
            e = norm(con.execute(sql).df())
            g = norm(pd.concat([pd.read_parquet(f) for f in
                                sorted(glob.glob(os.path.join(results_dir, q, "*.parquet")))],
                               ignore_index=True))
            if list(e.columns) != list(g.columns):
                bad[q] = f"columns differ: {list(e.columns)} vs {list(g.columns)}"
            elif len(e) != len(g):
                bad[q] = f"rows differ: oracle {len(e)}, engine {len(g)}"
            else:
                for c in e.columns:
                    ec, gc = e[c], g[c]
                    if ec.dtype.kind == "f" or gc.dtype.kind == "f":
                        ev, gv = ec.astype("float64").to_numpy(), gc.astype("float64").to_numpy()
                        if not np.allclose(ev, gv, rtol=1e-9, atol=1e-9, equal_nan=True):
                            bad[q] = f"values differ in {c}"
                            break
                    elif not ec.fillna("\0").astype(str).equals(gc.fillna("\0").astype(str)):
                        bad[q] = f"values differ in {c}"
                        break
        except Exception as ex:  # a broken oracle replay is a failed check
            bad[q] = f"check error: {ex}"
    con.close()
    return bad


# ---------------------------------------------------------------- metrics

def tail(values):
    """Highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 20:
        return None
    k = n - 11  # the 0-based index with exactly ten values above it
    return sorted(values)[k], 100 * (k + 1) // n, n


def layer_values(result, ops):
    """Per-layer values from the traced ops: medians over ops, except
    `caching.persisted_after_op`, which is the most left after any op."""
    per_op = {}
    for o in ops:
        for k, v in o["layers"].items():
            per_op.setdefault(k, []).append(v)
    vals = {k: statistics.median(v) for k, v in per_op.items()}
    if "caching.persisted_after_op" in per_op:
        vals["caching.persisted_after_op"] = max(per_op["caching.persisted_after_op"])
    ann = [o["wall_s"] for o in ops if o["kind"] == "ann" and "wall_s" in o]
    if ann:
        vals["interactive.ann_p50_s"] = statistics.median(ann)
    vals.update(result["layers"])
    return vals


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no graft program sources under {ROOT}; run from the root of a checkout")
    cp, jvm_opts = build()
    budget = time.time() + RUN_LIMIT_S  # a build has its own limit

    import gen
    runs = os.path.join(HERE, ".runs")
    os.makedirs(runs, exist_ok=True)
    work = os.path.join(runs, f"run-{os.getpid()}-{time.time_ns()}")
    os.makedirs(work)
    proc = None
    try:
        t0 = time.time()
        manifest = gen.generate(a.workload, a.seed, os.path.join(work, "data"))
        log(f"inputs generated in {time.time() - t0:.1f} s (untimed)")
        for t, info in manifest["tables"].items():
            print(f"[perfbench] input {t}: rows={info['rows']} digest={info['digest']}")
        if "request_mix" in manifest:
            print(f"[perfbench] request mix per round: {json.dumps(manifest['request_mix'])}")

        # every piece of engine state lives under the run's directory
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        env = dict(os.environ, SPARK_GRAFT_BUDGET_DIR=os.path.join(work, "budgets"),
                   SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
        env.pop("SPARK_GRAFT_CPUS", None)
        out = os.path.join(work, "result.json")
        cmd = (["java", f"-Xmx{HEAP}"] + jvm_opts + [
            f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
            f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            f"-Dderby.system.home={os.path.join(work, 'derby')}",
            f"-Dspark.hadoop.hadoop.tmp.dir={os.path.join(work, 'hadoop')}",
            "-cp", cp, "perfbench.Main",
            "--workload", a.workload, "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--manifest", os.path.join(work, "data", "manifest.json"),
            "--work", work, "--out", out])
        jvm_log = os.path.join(work, "jvm.log")
        with open(jvm_log, "wb") as lf:
            proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
            try:
                rc = proc.wait(timeout=max(10, budget - time.time()))
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
                rc = None
        proc = None
        if rc != 0 or not os.path.exists(out):
            sys.stderr.write(open(jvm_log, errors="replace").read()[-6000:])
            fail("benchmark JVM timed out" if rc is None else f"benchmark JVM exited with {rc}", 1)
        for line in open(jvm_log, errors="replace"):
            if line.startswith("[perfbench]"):
                log(line.rstrip())
        result = json.load(open(out))
        setup_s = result["setup_s"]

        ops = result["ops"]
        failed_ids = {o["id"] for o in ops if not o["ok"]}
        global_failures = [f["message"] for f in result["check_failures"] if f["op"] < 0]
        failed_ids |= {f["op"] for f in result["check_failures"] if f["op"] >= 0}
        if a.workload == "interactive":
            bad = oracle_check(manifest["sales_dir"], os.path.join(work, "results"))
            for q, why in bad.items():
                log(f"oracle check failed: {q}: {why}")
            failed_ids |= {o["id"] for o in ops if o["kind"] in bad}
        if global_failures:
            for m in global_failures:
                log(f"output check failed: {m}")
            failed_ids = {o["id"] for o in ops}
        attempted = len(ops)
        failed = len(failed_ids)

        untraced = [o for o in ops if not o["traced"]]
        walls = [o["wall_s"] for o in untraced if "wall_s" in o]
        if not walls:
            fail("every op threw; no latency to report", 1)
        op_p50 = statistics.median(walls)
        throughput = sum(o["work"] for o in untraced) / sum(walls)
        pre, post = result["load_sentinel_s"]
        t = tail(walls)
        summary = (f"workload={a.workload} seed={a.seed} "
                   f"setup_s={setup_s:.3f} s "
                   f"op_p50_s={op_p50:.3f} s ops={len(walls)} "
                   + (f"op_tail_s={t[0]:.3f} s (p{t[1]} of {t[2]}) " if t else "op_tail_s=n/a (too few ops) ")
                   + f"throughput_per_s={throughput:.2f} 1/s failed_ratio={failed / attempted:.4f} "
                   f"retained_heap_mb={result['retained_heap_mb']:.1f} MB "
                   f"load_sentinel_post/pre={post / pre:.2f} (informational)")
        print(f"[perfbench] {summary}")
        if a.workload == "interactive":
            seen, repeats, n = set(), 0, 0
            for o in untraced:
                if o["kind"] != "ann":
                    n += 1
                    repeats += o["kind"] in seen
                    seen.add(o["kind"])
            print(f"[perfbench] repeat share of measured analytics requests: {repeats}/{n}")

        if a.trace:
            traced = [o for o in ops if o["traced"]]
            vals = layer_values(result, traced)
            traced_walls = [o["wall_s"] for o in traced if "wall_s" in o]
            if not traced_walls:
                fail("every traced op threw; no latency to report", 1)
            traced_p50 = statistics.median(traced_walls)
            vals["trace.op_p50_s"] = traced_p50
            vals["trace.overhead_ratio"] = traced_p50 / op_p50
            print(f"[perfbench] tracing overhead: traced op_p50_s {traced_p50:.3f} s over {len(traced)} ops "
                  f"vs untraced {op_p50:.3f} s over {len(walls)} ops in the same run: "
                  f"{traced_p50 / op_p50:.3f}x")
            missing = sorted(k for k in PER_LAYER if k not in vals)
            unexpected = sorted(set(missing) - NOT_EXERCISED[a.workload])
            if unexpected:
                fail(f"per-layer metrics not measured: {unexpected}", 1)
            print(f"[perfbench] per-layer metrics this workload does not exercise "
                  f"(not measured, reported as 0): {missing}")
            metrics = {k: {"value": float(vals.get(k, 0.0)), "unit": u} for k, u in PER_LAYER.items()}
            keep = os.path.join(HERE, "out")
            os.makedirs(keep, exist_ok=True)
            spans = os.path.join(work, "spans.jsonl")
            if os.path.exists(spans):
                shutil.copy(spans, os.path.join(keep, f"spans_{a.workload}_{a.seed}.jsonl"))
        else:
            vals = {"setup_s": setup_s, "op_p50_s": op_p50,
                    "throughput_per_s": throughput, "retained_heap_mb": result["retained_heap_mb"]}
            metrics = {k: {"value": vals[k], "unit": u} for k, u in END_TO_END.items()}
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": metrics}))
    finally:
        if proc is not None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
