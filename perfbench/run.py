#!/usr/bin/env python3
"""The engine's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the engine and the
benchmark from source (scalac from the Spark distribution) and caches the
classes under `.bench_build/` (or `$CARGO_TARGET_DIR`). The batch input is
the sf0.1 table drop, kept byte for byte in `perfbench/data/sf0.1`. Each run
then starts one JVM on `local[nproc]`, which sets up, runs the workload and
writes raw measurements; this script checks
the outputs and prints, as its last stdout line,
`{"correct", "attempted", "failed", "metrics"}` with the end-to-end metrics
(`--trace 0`) or the per-layer metrics (`--trace 1`), as BENCHMARK.json
names them. Workloads, their members and rates are in
`perfbench/workloads.json`.
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

sys.dont_write_bytecode = True

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build")

ENGINE_SRC = os.path.join(ROOT, "src", "main")
DATA = os.path.join(HERE, "data", "sf0.1")
JVM_TIMEOUT_S = 170


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def spark_jars():
    """The jars of the Spark distribution: $SPARK_HOME's, else those of the
    first spark-submit on PATH that sits in a distribution."""
    homes = [os.environ.get("SPARK_HOME", "")] + [
        os.path.dirname(os.path.dirname(os.path.realpath(os.path.join(d, "spark-submit"))))
        for d in os.environ.get("PATH", "").split(os.pathsep)]
    for home in homes:
        if home and glob.glob(os.path.join(home, "jars", "spark-sql_*.jar")):
            return os.path.join(home, "jars")
    sys.exit("perfbench: no Spark distribution (set SPARK_HOME)")


def sources():
    files = sorted(glob.glob(os.path.join(ENGINE_SRC, "scala", "**", "*.scala"),
                             recursive=True) +
                   glob.glob(os.path.join(HERE, "scala", "**", "*.scala"),
                             recursive=True))
    resources = sorted(p for p in glob.glob(
        os.path.join(ENGINE_SRC, "resources", "**", "*"), recursive=True)
        if os.path.isfile(p))
    return files, resources


def build():
    """Compiles the engine and the benchmark into a directory keyed by the
    sources' digest; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ENGINE_SRC, "scala")):
        sys.exit("perfbench: no engine sources at src/main/scala; "
                 "run from the root of a checkout")
    jars = os.path.join(spark_jars(), "*")
    files, resources = sources()
    digest = hashlib.sha256()
    for p in files + resources:
        digest.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            digest.update(f.read())
    out = os.path.join(BUILD, "classes-" + digest.hexdigest()[:16])
    if not os.path.isdir(out):
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        t0 = time.time()
        subprocess.run(["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", jars,
                        "scala.tools.nsc.Main", "-nowarn", "-d", tmp,
                        "-classpath", jars] + files,
                       check=True, stdout=sys.stderr)
        for p in resources:
            dst = os.path.join(tmp, os.path.relpath(p, os.path.join(ENGINE_SRC, "resources")))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        os.rename(tmp, out)
        log(f"built {len(files)} sources in {time.time() - t0:.1f} s")
    return out + os.pathsep + jars


# ---------------------------------------------------------------- run

JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def run_jvm(classpath, work, wl, seed, seconds, trace, cores, data):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    args = {"kind": wl["kind"], "data": data, "out": work, "seed": seed,
            "seconds": seconds, "trace": trace, "cores": cores}
    args.update({k: v for k, v in wl.items() if k != "kind"})
    if "members" in args:
        args["members"] = ",".join(args["members"])
    cmd = ["java"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-XX:-UsePerfData", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
            f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            "-cp", classpath, "perfbench.Main"]
    args["launch-ms"] = int(time.time() * 1000)
    for k, v in args.items():
        cmd += [f"--{k}", str(v)]
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=subprocess.PIPE,
                            text=True, cwd=work)
    try:
        _, err = proc.communicate(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.communicate()
        sys.exit(f"perfbench: the JVM did not finish within {JVM_TIMEOUT_S} s")
    if proc.returncode != 0:
        sys.stderr.write(err[-20000:])
        sys.exit(f"perfbench: the JVM exited with {proc.returncode}")
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ---------------------------------------------------------------- checks

def oracle_failures(check_dir, data, queries):
    """Queries whose parquet result differs from its DuckDB oracle, by the
    rule of tools/check_oracle.py: columns, row count, then string-form
    cells of both sides sorted by all columns."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_oracle
    import duckdb
    import pandas as pd
    with open(os.path.join(check_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = duckdb.connect()
    for t in check_oracle.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"'{os.path.join(data, t + '.parquet')}'")
    failed = set()
    for q in queries:
        try:
            got = check_oracle.canon(pd.read_parquet(os.path.join(check_dir, q)))
        except Exception as e:
            log(f"{q}: result unreadable: {e}")
            failed.add(q)
            continue
        if q not in oracles:
            if len(got) == 0:
                log(f"{q}: no rows")
                failed.add(q)
            continue
        want = check_oracle.canon(con.execute(oracles[q]).fetchdf())
        bad = list(got.columns) != list(want.columns) or len(got) != len(want) or any(
            not check_oracle.eq(got.at[i, c], want.at[i, c])
            for i in range(len(got)) for c in got.columns)
        if bad:
            log(f"{q}: result differs from its oracle")
            failed.add(q)
    con.close()
    return failed


# ---------------------------------------------------------------- metrics

def pct(values, p):
    """p-th percentile by linear interpolation (p in [0, 1])."""
    s = sorted(values)
    if not s:
        return 0.0
    k = (len(s) - 1) * p
    lo = int(k)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (k - lo)


def batch_metrics(res, members, failed, trace):
    by_query = {}
    for e in res["execs"]:
        if e["query"] not in failed:
            by_query.setdefault(e["query"], []).append(e)
    if not trace:
        # A query's result latency is its median over the timed passes.
        lat = [statistics.median(e["build_ms"] + e["write_ms"] for e in es)
               for es in by_query.values()]
        return {"wall_s": sum(lat) / 1000.0, "latency_p50_ms": pct(lat, 0.50),
                "latency_p99_ms": pct(lat, 0.99)}, \
            {"latency_samples": len(lat),
             "executions": sum(len(es) for es in by_query.values()),
             "per_query_ms": {q: [round(e["build_ms"] + e["write_ms"]) for e in es]
                              for q, es in by_query.items()}}

    # Times are each query's median over the timed passes; counts come
    # from the first timed pass, which every query has.
    def total(f):
        return sum(statistics.median(f(e) for e in es) for es in by_query.values())

    def count(f):
        return sum(f(es[0]) for es in by_query.values())

    m = {}
    m["tables.jobs"] = count(lambda e: e["tables"]["jobs"])
    m["tables.ms"] = total(lambda e: e["tables"]["job_ms"])
    m["tables.load_call_ms"] = res["load_call_ms"]
    m["build.ms"] = total(lambda e: e["build_ms"])
    m["build.self_ms"] = m["build.ms"] - m["tables.ms"]
    m["build.jobs"] = count(lambda e: e["build"]["jobs"] + e["tables"]["jobs"])
    m["build.tasks"] = count(lambda e: e["build"]["tasks"] + e["tables"]["tasks"])
    m["build.busy_ms"] = total(lambda e: e["build"]["busy_ms"] + e["tables"]["busy_ms"])
    m["build.ms_per_job"] = m["build.ms"] / m["build.jobs"] if m["build.jobs"] else 0.0
    m["plan.ms"] = total(lambda e: e["plan_ms"])
    for k in ("analysis", "optimization", "planning"):
        m[f"plan.{k}_ms"] = total(lambda e: e["phases"].get(k, 0))
    m["exec.ms"] = total(lambda e: e["write_ms"] - e["plan_ms"])
    for k in ("jobs", "tasks", "shuffle_write_mb", "shuffle_write_records",
              "shuffle_read_mb", "spill_mb"):
        m[f"exec.{k}"] = count(lambda e: e["exec"][k])
    for k in ("busy_ms", "cpu_ms", "gc_ms", "task_wait_ms"):
        m[f"exec.{k}"] = total(lambda e: e["exec"][k])
    m["exec.core_util"] = m["exec.busy_ms"] / (m["exec.ms"] * res["cores"]) \
        if m["exec.ms"] > 0 else 0.0
    m["exec.peak_mem_mb"] = max((e["exec"]["peak_mem_mb"] for es in by_query.values()
                                 for e in es), default=0.0)
    skews = [statistics.median(e["exec"]["skew"] for e in es) for es in by_query.values()]
    m["exec.skew"] = statistics.median([s for s in skews if s > 0] or [0.0])
    return m, {"executions": sum(len(es) for es in by_query.values())}


def stream_metrics(res, trace):
    s = res["stream"]
    op, cl = s["open"], s["closed"]
    if not trace:
        return {
            "wall_s": s["closed_wall_ms"] / 1000.0,
            "latency_p50_ms": op["p50_ms"],
            "latency_p99_ms": op["p99_ms"],
        }, {"latency_samples": op["latency_samples"], "closed_rows": s["closed_rows"],
            "capacity_rps": s["closed_rows"] / (s["closed_wall_ms"] / 1000.0)}
    # Trigger statistics cover the open-loop batches started after warm-up;
    # batches that read no records (state eviction) are left out.
    ob = [b for b in op["batches"] if b["start_ms"] >= s["measure_from_ms"] and b["rows"]]
    cb = [b for b in cl["batches"] if b["rows"]]

    def p50(f, bs=ob):
        return pct([f(b) for b in bs], 0.5)

    def dur(k):
        return lambda b: b["durations"].get(k, 0)

    m = {"trigger.count": len(ob), "trigger.rows_p50": p50(lambda b: b["rows"]),
         "trigger.total_ms_p50": p50(dur("triggerExecution")),
         "trigger.total_ms_p99": pct([dur("triggerExecution")(b) for b in ob], 0.99)}
    for name, key in (("latest_offset", "latestOffset"), ("get_batch", "getBatch"),
                      ("planning", "queryPlanning"), ("add_batch", "addBatch"),
                      ("wal_commit", "walCommit"), ("commit_offsets", "commitOffsets")):
        m[f"trigger.{name}_ms_p50"] = p50(dur(key))
    m["state.rows_total"] = cb[-1]["state_rows_total"] if cb else 0
    m["state.rows_updated"] = sum(b["state_rows_updated"] for b in cb)
    m["state.commit_ms_p50"] = p50(lambda b: b["state_commit_ms"], cb)
    m["state.memory_mb"] = max((b["state_memory_b"] for b in cb), default=0) / 1048576.0
    m["gen.late_ms_p99"] = op["gen_late_ms_p99"]
    m["backlog.rows_end"] = op["backlog_end"]
    m["sink.ms_p50"] = p50(lambda b: b["sink_ms"])
    # Spark work of the closed-loop batches: fixed row ranges, so the
    # counts repeat exactly from run to run.
    w = [b["work"] for b in cb]
    m["exec.ms"] = float(sum(dur("triggerExecution")(b) for b in cb))
    for k in ("jobs", "tasks", "busy_ms", "cpu_ms", "gc_ms", "task_wait_ms",
              "shuffle_write_mb", "shuffle_write_records", "shuffle_read_mb", "spill_mb"):
        m[f"exec.{k}"] = sum(x[k] for x in w)
    m["exec.core_util"] = m["exec.busy_ms"] / (m["exec.ms"] * res["cores"]) \
        if m["exec.ms"] > 0 else 0.0
    m["exec.peak_mem_mb"] = max((x["peak_mem_mb"] for x in w), default=0.0)
    m["exec.skew"] = pct([x["skew"] for x in w if x["skew"] > 0], 0.5)
    return m, {"latency_samples": op["latency_samples"]}


# ---------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)["workloads"]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    if a.workload not in workloads:
        sys.exit(f"perfbench: unknown workload {a.workload!r}; "
                 f"one of {sorted(workloads)}")
    wl = workloads[a.workload]
    classpath = build()
    data = DATA
    cores = os.cpu_count() or 1
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        res = run_jvm(classpath, work, wl, a.seed, a.seconds, a.trace, cores, data)
        if wl["kind"] == "batch":
            members = wl["members"]
            failed = set(res["failed"]) | oracle_failures(
                os.path.join(work, "check"), data,
                [q for q in members if q not in res["failed"]])
            attempted = len(members)
            metrics, info = batch_metrics(res, members, failed, a.trace)
            info["failed_queries"] = sorted(failed)
        else:
            s = res["stream"]
            attempted = len(s["open"]["batches"]) + len(s["closed"]["batches"])
            failed = set(f"open/{b}" for b in s["open"]["wrong_batches"]) | \
                set(f"closed/{b}" for b in s["closed"]["wrong_batches"])
            metrics, info = stream_metrics(res, a.trace)
            info["wrong_batches"] = sorted(failed)
        if a.trace:
            keep = os.path.join(BUILD, "traces")
            os.makedirs(keep, exist_ok=True)
            if os.path.exists(os.path.join(work, "spans.json")):
                shutil.copyfile(os.path.join(work, "spans.json"), os.path.join(
                    keep, f"{a.workload}-seed{a.seed}.spans.json"))
            metrics["jvm.gc_ms"] = res["gc_ms"]
            reported = bench["per_layer"]
        else:
            metrics["setup_s"] = res["setup_ms"] / 1000.0
            metrics["heap_live_mb"] = res["heap_live_mb"]
            info["heap_samples_mb"] = [round(x, 1) for x in res["heap_samples_mb"]]
            metrics["ok_ratio"] = 1.0 - len(failed) / attempted
            reported = bench["end_to_end"]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    info.update(workload=a.workload, seed=a.seed, trace=a.trace, cores=cores)
    log(json.dumps(info))
    print(json.dumps({
        "correct": not failed, "attempted": attempted, "failed": len(failed),
        "metrics": {m["name"]: {"value": float(metrics.get(m["name"], 0.0)),
                                "unit": m["unit"]} for m in reported}}))


if __name__ == "__main__":
    main()
