#!/usr/bin/env python3
"""The repo benchmark: one command that builds the engine from source, makes
seeded inputs, runs a named workload through the engine's public entry
points in one JVM, checks every answer against DuckDB, and prints the
metrics. See perfbench/README.md for the workloads and metrics.

Usage: python3 perfbench/run.py --workload {olap-x10,script-cold}
           --seed N --seconds S --trace {0,1}

With --trace 0 the last stdout line holds the end-to-end metrics; with
--trace 1 it holds the per-layer metrics of a traced run, and the full trace
(spans, per-op counters) is written under perfbench/.work/traces/.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
HARNESS = os.path.join(HERE, "harness")
sys.path.insert(0, HERE)

import fingerprint  # noqa: E402
import gen  # noqa: E402
import stats  # noqa: E402

DEADLINE_S = 170
# fixed task threads, never more than the host has
CORES = min(4, os.cpu_count() or 1)
JVM_HEAP = "2g"
WORKLOADS = ["olap-x10", "script-cold"]
# both workloads read the testdata sf0.01 shape (500 documents, 15k orders,
# 60k lineitems), generated once per seed
SCALE = 0.01
# every STORE the scripts make, relative to the script's OUT directory
SCRIPT_STORES = {
    "daily_report": ["rev/dt=20240114", "urgent", "high"],
    "incremental": ["minhash_idx", "novel", "near_dup_candidates", "verified_dups"],
}
# DuckDB oracles for daily_report's STOREs (ENV=prod)
DAILY_REPORT_ORACLE = {
    "rev/dt=20240114": "SELECT o_orderpriority, sum(l_extendedprice) AS gross, count(*) AS n_items, "
                       "'Q1' AS quarter FROM orders JOIN lineitem ON o_orderkey = l_orderkey GROUP BY 1",
    "urgent": "SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total FROM orders "
              "WHERE o_orderpriority LIKE '%URGENT' GROUP BY 1",
    "high": "SELECT o_custkey, count(*) AS n_orders, sum(o_totalprice) AS total FROM orders "
            "WHERE o_orderpriority LIKE '%HIGH' GROUP BY 1",
}
SUM_COUNTERS = [
    "exec.jobs", "exec.stages", "exec.tasks", "exec.task_failures",
    "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
    "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.shuffle_records",
    "exec.spill_mb", "exec.result_mb",
    "sources.input_mb", "sources.input_rows", "sources.scan_tasks",
    "plans.exchanges", "plans.broadcasts", "plans.expands", "plans.sort_aggs",
    "plans.hash_aggs", "plans.smj", "plans.bhj", "plans.broadcast_mb",
    "sink.output_mb", "sink.output_rows", "sink.files", "sink.store_s",
]
SPAN_KINDS = ["workload", "pass", "op", "build", "plan", "execute", "script", "job", "stage"]
PER_LAYER = ["session.create_s", "jvm.gc_s", "jvm.jit_s",
             "sources.input_mb", "sources.input_rows", "sources.scan_tasks",
             "sources.rows_read_per_output_row",
             "plans.plan_s", "plans.exchanges", "plans.broadcasts", "plans.expands",
             "plans.sort_aggs", "plans.hash_aggs", "plans.smj", "plans.bhj", "plans.broadcast_mb",
             "operators.build_s", "operators.build_jobs", "script.self_s",
             "exec.jobs", "exec.stages", "exec.tasks", "exec.driver_gap_s",
             "exec.task_run_s", "exec.task_cpu_s", "exec.task_gc_s",
             "exec.core_idle_ratio", "exec.stage_skew",
             "exec.shuffle_write_mb", "exec.shuffle_read_mb", "exec.shuffle_records",
             "exec.spill_mb", "exec.peak_task_mem_mb", "exec.result_mb",
             "exec.task_failures", "exec.task_success_ratio",
             "sink.output_mb", "sink.output_rows", "sink.files", "sink.store_s",
             "trace.overhead_ratio"] + [f"self.{k}_s" for k in SPAN_KINDS]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def fail(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


# ---- build --------------------------------------------------------------

def source_stamp():
    """Hash of every file the two builds read."""
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt")]
    for base in (os.path.join(ROOT, "project"), os.path.join(ROOT, "src", "main"), HARNESS):
        for d, subdirs, names in os.walk(base):
            # build outputs: target/ anywhere, and sbt's own project/project/
            subdirs[:] = sorted(s for s in subdirs
                                if s != "target" and not (s == "project" and d.endswith("project")))
            files += [os.path.join(d, n) for n in sorted(names)
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in files:
        h.update(f[len(ROOT):].encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def sbt(cwd, args, env, logfile):
    with open(logfile, "a") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true"] + args, cwd=cwd,
                           env=env, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL)
    if p.returncode != 0:
        with open(logfile) as f:
            log("".join(f.readlines()[-40:]))
        fail(f"build failed in {cwd}")


def build():
    """Compile the engine and the harness unless the sources are unchanged
    since the last build; return the JVM classpath."""
    stamp_file = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(WORK, exist_ok=True)
    logfile = os.path.join(WORK, "build.log")
    open(logfile, "w").close()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    sbt(ROOT, ["compile", "export Compile / fullClasspath"], env, logfile)
    with open(logfile) as f:
        lines = [ln.strip() for ln in f if ln.strip()]
    # `export` prints the classpath as one bare line
    program_cp = next(ln for ln in reversed(lines) if os.pathsep in ln and ".jar" in ln and " " not in ln)
    env["PERFBENCH_PROGRAM_CP"] = program_cp
    sbt(HARNESS, ["compile"], env, logfile)
    classpath = os.pathsep.join([os.path.join(HARNESS, "target", "scala-2.13", "classes"), program_cp])
    with open(cp_file, "w") as f:
        f.write(classpath)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"perfbench: built engine and harness in {time.time() - t0:.1f} s")
    return classpath


# ---- the JVM run ----------------------------------------------------------

JDK_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def run_jvm(classpath, workload, data, work, seconds, trace, deadline):
    """One harness process; returns its result.json as a dict."""
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java"] + [f"--add-opens={m}=ALL-UNNAMED" for m in JDK_OPENS] +
           # no hsperfdata file: the run writes nothing outside its checkout
           [f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData", "-Dspark.ui.enabled=false",
            "-Dspark.sql.session.timeZone=UTC",
            f"-Dgraft.warehouse={work}/warehouse", f"-Djava.io.tmpdir={work}/tmp",
            "-cp", classpath, "perfbench.Harness",
            "--workload", workload, "--data", data, "--work", work, "--seconds", str(seconds),
            "--trace", str(trace), "--cores", str(CORES),
            "--scripts", os.path.join(ROOT, "examples")])
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as out:
        p = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
                             cwd=work, start_new_session=True)
        try:
            code = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            fail(f"{workload} run passed the {DEADLINE_S} s deadline")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    result = os.path.join(work, "result.json")
    if code != 0 or not os.path.exists(result):
        with open(logfile) as f:
            log("".join(f.readlines()[-30:]))
        fail(f"harness exited with {code}")
    with open(result) as f:
        return json.load(f)


# ---- answer checks -----------------------------------------------------------

def duck(data):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    return con


def parquet_rel(con, path):
    files = sorted(glob.glob(os.path.join(path, "*.parquet")))
    if not files:
        return None
    return con.sql("SELECT * FROM read_parquet([" + ",".join(f"'{f}'" for f in files) +
                   "], hive_partitioning = false)")


def check_olap(result, data):
    """{op: (problem or None, output rows)} against the DuckDB oracle."""
    con = duck(data)
    out = {}
    for op, path in result["outputs"].items():
        rel = parquet_rel(con, path)
        if rel is None:
            out[op] = ("no output", 0)
            continue
        got = fingerprint.of_relation(rel)
        sql = result["oracle"].get(op)
        if sql is None:
            out[op] = ("no oracle SQL", got[1])
            continue
        try:
            want = fingerprint.of_relation(con.sql(sql))
        except Exception as e:  # the oracle failing is a failed check, not a crash
            out[op] = (f"oracle error: {e}", got[1])
            continue
        out[op] = (fingerprint.compare(got, want), got[1])
    return out


def check_scripts(result, data):
    """{script: (problem or None, rows stored)}: every STORE holds rows, and
    daily_report's STOREs match their DuckDB oracle."""
    con = duck(data)
    out = {}
    for script, stores in SCRIPT_STORES.items():
        problems, rows = [], 0
        for store in stores:
            rel = parquet_rel(con, os.path.join(result["outputs"][script], store))
            n = rel.aggregate("count(*)").fetchone()[0] if rel is not None else 0
            rows += n
            if n == 0:
                problems.append(f"STORE {store} is empty")
            elif script == "daily_report":
                p = fingerprint.compare(fingerprint.of_relation(rel),
                                        fingerprint.of_relation(con.sql(DAILY_REPORT_ORACLE[store])))
                if p:
                    problems.append(f"STORE {store}: {p}")
        out[script] = ("; ".join(problems) or None, rows)
    return out


# ---- metrics -------------------------------------------------------------

def timed_passes(result, traced):
    return [p for p in result["passes"] if p["pass"] > 0 and p["traced"] == traced]


def end_to_end(result):
    passes = timed_passes(result, False)
    ops = [o["s"] for p in passes for o in p["ops"] if o["ok"]]
    if not ops:
        fail("no op completed in the timed passes")
    return {
        "setup_s": ([result["setup_s"]], "s"),
        "wall_s": ([p["wall_s"] for p in passes], "s"),
        "op_p50_s": (ops, "s"),
        "cpu_s": ([p["cpu_s"] for p in passes], "s"),
        "peak_heap_mb": ([result["peak_heap_mb"]], "MB"),
    }


def pass_layers(spans, pass_span, cores, output_rows):
    """Per-layer counters of one traced pass."""
    kids = stats.children_of(spans)
    below = stats.descendants(pass_span["id"], kids)
    m = {k: 0.0 for k in SUM_COUNTERS}
    for s in below:
        for k, v in s["counters"].items():
            if k in m:
                m[k] += v
    stages = [s for s in below if s["kind"] == "stage"]
    jobs = [s for s in below if s["kind"] == "job" and stats.closed(s)]
    job_iv = [(j["start_us"], j["end_us"]) for j in jobs]
    by_id = {s["id"]: s for s in spans}
    skews = sorted(s["counters"]["exec.stage_skew"] for s in stages if "exec.stage_skew" in s["counters"])
    m["exec.stage_skew"] = stats.median(skews) if skews else 1.0
    m["exec.peak_task_mem_mb"] = max((s["counters"].get("exec.peak_task_mem_mb", 0.0) for s in stages),
                                     default=0.0)
    attempts = m["exec.tasks"]
    m["exec.task_success_ratio"] = (attempts - m["exec.task_failures"]) / attempts if attempts else 1.0
    busy = stats.union_length(job_iv) / 1e6
    m["exec.core_idle_ratio"] = 1 - m["exec.task_run_s"] / (cores * busy) if busy else 0.0
    m["plans.plan_s"] = sum((s["end_us"] - s["start_us"]) / 1e6 for s in below if s["kind"] == "plan")
    m["operators.build_s"] = sum((s["end_us"] - s["start_us"]) / 1e6 for s in below if s["kind"] == "build")
    m["operators.build_jobs"] = sum(1 for j in jobs if by_id.get(j["parent"], {}).get("kind") == "build")
    gap, script_gap = 0.0, 0.0
    for op in (s for s in below if s["kind"] == "op"):
        op_jobs = [(j["start_us"], j["end_us"]) for j in stats.descendants(op["id"], kids)
                   if j["kind"] == "job" and stats.closed(j)]
        g = (op["end_us"] - op["start_us"] - stats.union_length(op_jobs, op["start_us"], op["end_us"])) / 1e6
        gap += g
        if any(c["kind"] == "script" for c in kids.get(op["id"], [])):
            script_gap += g
    m["exec.driver_gap_s"] = gap
    m["script.self_s"] = script_gap
    out_rows = output_rows or m["sink.output_rows"]
    m["sources.rows_read_per_output_row"] = m["sources.input_rows"] / out_rows if out_rows else 0.0
    for kind, v in stats.self_times([pass_span] + below).items():
        m[f"self.{kind}_s"] = v
    return m


def per_layer(result, overhead, output_rows):
    spans = result["spans"]
    by_id = {s["id"]: s for s in spans}
    traced = timed_passes(result, True)
    rows = [pass_layers(spans, by_id[p["span"]], CORES, output_rows) for p in traced]
    keys = sorted({k for r in rows for k in r})
    m = {k: stats.median([r.get(k, 0.0) for r in rows]) for k in keys}
    kids = stats.children_of(spans)
    workload = next((s for s in spans if s["kind"] == "workload"), None)
    if workload:
        m["self.workload_s"] = stats.self_time_us(workload, kids) / 1e6 / len(kids[workload["id"]])
    m["session.create_s"] = result["session_create_s"]
    m["jvm.gc_s"] = result["jvm_gc_s"]
    m["jvm.jit_s"] = result["jvm_jit_s"]
    m["trace.overhead_ratio"] = overhead
    per_op = {}
    for p in traced:
        for op in kids.get(p["span"], []):
            c = per_op.setdefault(op["name"], {})
            for s in [op] + stats.descendants(op["id"], kids):
                for k, v in s["counters"].items():
                    if k in SUM_COUNTERS:
                        c[k] = c.get(k, 0.0) + v / len(traced)
    return {k: m.get(k, 0.0) for k in PER_LAYER}, per_op


# ---- main ----------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    # turn SIGTERM into an exception so the finally blocks stop the JVM
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    for need in ("build.sbt", os.path.join("src", "main", "scala"), "examples"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found beside perfbench/: run from a checkout of the engine")

    classpath = build()
    # the first run in a checkout also builds; the deadline covers the run
    deadline = time.time() + DEADLINE_S
    data = os.path.join(WORK, "data", f"scale{SCALE}-seed{a.seed}")
    summary = gen.generate(data, SCALE, a.seed, quiet=True)
    log("perfbench: inputs " + ", ".join(f"{t} {s['rows']} rows/{s['bytes']} B"
                                         for t, s in summary["tables"].items()))

    work = os.path.join(WORK, "run", f"{a.workload}-{os.getpid()}")
    cold = a.workload == "script-cold"
    try:
        # a cold run cannot be split into untraced and traced halves inside
        # one process, so a traced cold run is a second process
        result = run_jvm(classpath, a.workload, data, work, a.seconds, 0 if cold else a.trace, deadline)
        check = (check_scripts if cold else check_olap)(result, data)
        traced = None
        if a.trace and cold:
            traced = run_jvm(classpath, a.workload, data, work + "-traced", a.seconds, 1, deadline)
    finally:
        for w in (work, work + "-traced"):
            shutil.rmtree(w, ignore_errors=True)

    log("perfbench: session " + json.dumps(result["session"], sort_keys=True))
    # every op execution counts; an op whose answer is wrong fails every time it ran
    executions = [(o["op"], o["ok"]) for p in result["passes"] for o in p["ops"]]
    wrong = {op for op, (problem, _) in check.items() if problem}
    failed = sum(1 for op, ok in executions if not ok or op in wrong)
    for f in result["failures"]:
        log(f"perfbench: FAIL {f['op']} (pass {f['pass']}): {f['error']}")
    for op in sorted(wrong):
        log(f"perfbench: WRONG {op}: {check[op][0]}")

    e2e = end_to_end(result)
    for name, (xs, unit) in e2e.items():
        print(f"{name} = {stats.median(xs):.4f} {unit} (median of {len(xs)})")
    tail = stats.tail_percentile(e2e["op_p50_s"][0])
    if tail:
        print(f"op_p{tail[0]}_s = {tail[1]:.4f} s (of {len(e2e['op_p50_s'][0])})")
    print(f"fail_ratio = {failed / len(executions):.4f} ({failed} of {len(executions)} op executions)")
    metrics = {name: {"value": stats.median(xs), "unit": unit} for name, (xs, unit) in e2e.items()}

    if a.trace:
        src = traced if cold else result
        if cold:
            overhead = (stats.median([p["wall_s"] for p in timed_passes(traced, True)]) /
                        stats.median(e2e["wall_s"][0]))
        else:
            overhead = stats.overhead_ratio(result["passes"])
        out_rows = None if cold else sum(rows for _, rows in check.values()) or None
        layers, per_op = per_layer(src, overhead, out_rows)
        for k, v in layers.items():
            print(f"{k} = {v:.6g}")
        os.makedirs(os.path.join(WORK, "traces"), exist_ok=True)
        path = os.path.join(WORK, "traces", f"{a.workload}-seed{a.seed}-{int(time.time())}.json")
        with open(path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "build": source_stamp()[:16],
                       "layers": layers, "per_op": per_op,
                       "session": src["session"], "spans": src["spans"]}, f)
        log(f"perfbench: trace written to {path}")
        metrics = {k: {"value": v, "unit": unit_of(k)} for k, v in layers.items()}

    print(json.dumps({"correct": failed == 0, "attempted": len(executions), "failed": failed,
                      "metrics": metrics}))


def unit_of(name):
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith(("_ratio", "_skew", "_per_output_row")):
        return "ratio"
    return "count"


if __name__ == "__main__":
    main()
